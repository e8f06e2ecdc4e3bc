"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall times.

Each query executes via count() on the final DataFrame (forces the full
plan without driver-side materialization of wide results).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # reference-parity pipeline surface
    "ingest_clean",
    "star_fact",
    "agg_pair_daily",
    "agg_time",
    "top_pairs",
    "dq_checks",
    # analytic joins/aggregates
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "promo_revenue",
    "order_priority_count",
    # windows / events
    "window_top_orders",
    "sessionize_events",
    "events_tumbling_hour",
    "events_sliding_30m",
    "session_window_agg",
    "moving_avg3",
    "user_median_value",
    "user_median_builtin",
    "salted_event_type_agg",
    # multi-dimensional grouping + analytic subquery shapes
    "rollup_revenue",
    "market_share",
    "approx_event_stats",
    "returned_items",
    "large_volume_orders",
    "cheapest_supplier",
    "sole_late_suppliers",
    "trailing_hour_avg",
    "event_funnel",
    "priority_shipping",
    "disjunctive_revenue",
    "important_parts",
    "quiet_customers",
    # change management (SCD2 / MERGE / incremental maintenance)
    "scd2_user_history",
    "merge_upsert",
    "incremental_agg",
    "scd2_point_in_time",
    # LLM-data extensions
    "dedup_exact",
    "repeated_spans",
    "span_coverage",
    "corpus_report",
    "top_terms",
    "bpe_token_counts",
    "embedding_near_dup_lsh",
    "ann_ivf_topk",
    "curate_documents",
    "chunk_tokens",
    "text_stats",
    "doc_fingerprint",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "kmeans_clusters",
    "label_centroids",
    "media_features",
    # governance / corpus management
    "adaptive_quality",
    "incremental_dedup",
    "hash_sample",
    "quota_sample",
    "decontaminate",
    "redact_pii",
    "split_assign",
    "boilerplate_segments",
    "repetition_stats",
    "pack_sequences",
    "mixture_sample",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark import (
        get_spark,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
        QUERIES,
    )

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # every registry query gets a regression tripwire: the curated list
    # above keeps its historical ordering (stable round-over-round
    # comparisons), anything registered since is appended automatically —
    # a new query can never silently go unbenched
    bench_queries = BENCH_QUERIES + [q for q in QUERIES if q not in BENCH_QUERIES]

    # warm the JVM + parquet footers with one tiny action
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()

    # Per-query time is the MIN of two timed trials AFTER one untimed
    # warm-up run. Min-of-2: single-shot numbers on this box show one-off
    # ~10-20 s stalls (host scheduling / JVM full-GC pauses) landing on a
    # random query each run — the min measures the query, not the pause.
    # The warm-up run exists because codegen JIT state otherwise depends
    # on suite position: a query whose expressions (md5, CASE-count agg)
    # happen to be compiled by earlier queries runs ~2× faster than the
    # same query benched first, which made round-over-round per-query
    # comparisons noise-bound. Intermediates persisted by an operator
    # (LSH signatures) are dropped between trials so every trial pays its
    # full cost and queries stay independent.
    times: dict[str, float] = {}
    for name in bench_queries:
        QUERIES[name](spark, sf_dir).count()
        spark.catalog.clearCache()
        trials = []
        for _ in range(2):
            t0 = time.time()
            QUERIES[name](spark, sf_dir).count()
            trials.append(time.time() - t0)
            spark.catalog.clearCache()
        times[name] = round(min(trials), 3)
        # progress to stderr (stdout stays the single JSON line)
        print(f"bench {name}: {times[name]}s", file=sys.stderr, flush=True)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # The driver captures only the last 2000 chars of stdout; a full
    # 120+-query map is ~2900 chars and truncates mid-JSON (BENCH_r05
    # recorded parsed:null).  So: the COMPLETE per-query map goes to a
    # committed sidecar file, and the one stdout line carries the totals
    # plus as many of the slowest queries as fit in a hard byte budget,
    # with a pointer to the sidecar for the rest.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_LOCAL_sf{sf}.json"
    )
    with open(full_path, "w") as fh:
        json.dump(
            {
                "metric": "total_query_runtime",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf": sf_val,
            },
            fh,
            indent=1,
        )

    # Two stdout lines, ordered for the driver's TAIL capture: the COMPLETE
    # per-query map first (a head-capturing or full-capture reader parses
    # everything), then a guaranteed-small summary line LAST so the final
    # complete line inside any 2,000-char tail always parses — total,
    # query count, the slowest queries that fit, and the sidecar pointer.
    # (Summary-first would leave the tail ending mid-map: nothing parses.)
    print(
        json.dumps(
            {
                "metric": "total_query_runtime",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )
    budget = 1700  # tail is 2000 chars shared with interleaved stderr
    by_cost = sorted(times, key=times.get, reverse=True)
    line = ""
    for keep in range(len(by_cost), -1, -1):
        shown = {q: times[q] for q in by_cost[:keep]}
        payload = {
            "metric": "total_query_runtime",
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "queries": shown,
            "n_queries": len(times),
            "queries_omitted": len(times) - keep,
            "full": os.path.basename(full_path),
            "sf": sf_val,
        }
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= budget:
            break
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
