"""Per-query breakdown probe (guide §1): construction time (eager jobs
run while building the DataFrame: adaptive counts, iterative training,
localCheckpoints) vs execution time (noop sink over the returned frame),
plus Spark job counts for each phase.

Usage: python tools/probe_r12.py [sf_dir] query [query ...]
Prints one JSON line per query to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    argv = sys.argv[1:]
    # a lone existing directory is a data dir with no queries, not a query
    if not argv or (len(argv) == 1 and os.path.isdir(argv[0])):
        print("usage: probe_r12.py [sf_dir] query [query ...]", file=sys.stderr)
        return 2
    takes_dir = os.path.isdir(argv[0])
    sf_dir = argv[0] if takes_dir else "/root/testdata/sf0.1"
    names = argv[1:] if takes_dir else argv

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark import (
        get_spark,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
        QUERIES,
    )

    spark = get_spark("probe-r12")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker

    # warm the JVM once, as bench.py does
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()

    def job_count() -> int:
        return len(tracker().getJobIdsForGroup(None) or [])

    for name in names:
        # untimed warm-up (codegen JIT), mirroring bench.py
        QUERIES[name](spark, sf_dir).count()
        spark.catalog.clearCache()

        rec = {"query": name}
        sc.setJobDescription(f"probe:{name}:construct")
        j0 = job_count()
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.time()
        j1 = job_count()
        sc.setJobDescription(f"probe:{name}:exec")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        j2 = job_count()
        sc.setJobDescription(None)
        rec.update(
            construct_s=round(t1 - t0, 3),
            construct_jobs=j1 - j0,
            exec_s=round(t2 - t1, 3),
            exec_jobs=j2 - j1,
            total_s=round(t2 - t0, 3),
        )
        spark.catalog.clearCache()
        print(json.dumps(rec), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
