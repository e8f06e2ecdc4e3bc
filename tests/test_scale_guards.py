"""Round-2 guards: skew/bucket caps under adversarial fixtures, SQL time
travel, the persistent-catalog stage path, object-store-safe compaction,
and edge-case parity fixes (zero-vector cosine, identical-hot-row salting,
non-convergence signaling)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
    custom,
    dedup,
    similarity,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
    CatalogWarehouse,
    Warehouse,
    stage_dimensions,
    stage_fact,
    stage_ingest,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources import (
    Catalog,
    io,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )


# ---------------------------------------------------------------------------
# skew guards: the 100 TB failure mode is one boilerplate-heavy block/bucket
# ---------------------------------------------------------------------------


def test_ngram_block_cap_bounds_pairs(spark):
    """One (lang, source, len_bucket) block stuffed past the cap must be
    excluded from exact pairing (its O(block²) join is the scale-killer);
    small blocks still pair normally."""
    hot = [
        (i, f"alpha beta gamma delta epsilon zeta{i % 7} eta theta iota kappa", "en", "web", 100)
        for i in range(60)
    ]
    cold = [
        (1000 + i, "one two three four five six seven eight nine ten", "fr", "book", 100)
        for i in range(4)
    ]
    docs = _docs(spark, hot + cold)
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.1, max_block_size=50)
    out = capped.collect()
    assert out, "small block should still produce pairs"
    assert all(r.doc_a >= 1000 for r in out), "hot block must be excluded"
    # without the cap the hot block contributes ~60*59/2 candidate pairs
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.1, max_block_size=10_000)
    assert uncapped.filter(F.col("doc_a") < 1000).count() > 1000


def test_ngram_unique_texts_fast_path_matches_default(spark):
    """assume_unique_texts=True (the caller-already-deduped fast path the
    curation pipeline uses) must produce the EXACT pair set of the default
    collapse-first path on all-distinct texts — including the block cap —
    while skipping the collapse/membership shuffles."""
    rows = [
        (1, "the quick brown fox jumps over the lazy sleeping dog today", "en", "web", 60),
        (2, "the quick brown fox jumps over the lazy sleeping cat today", "en", "web", 60),
        (3, "completely different text about astronomy and telescopes now", "en", "web", 60),
        (4, "one two three four five six seven eight nine ten", "fr", "book", 50),
        (5, "one two three four five six seven eight nine eleven", "fr", "book", 51),
        (6, None, "en", "web", 0),
    ]
    docs = _docs(spark, rows)
    key = lambda df: sorted(
        (r.doc_a, r.doc_b, r.lang, r.source, r.jaccard) for r in df.collect()
    )
    for cap in (1000, 2):
        slow = dedup.ngram_jaccard_pairs(docs, threshold=0.1, max_block_size=cap)
        fast = dedup.ngram_jaccard_pairs(
            docs, threshold=0.1, max_block_size=cap, assume_unique_texts=True
        )
        assert key(slow) == key(fast)
    assert key(dedup.ngram_jaccard_pairs(docs, threshold=0.1))


def test_minhash_bucket_cap_bounds_candidates(spark):
    """A flood of identical-signature docs (boilerplate) lands in one LSH
    bucket; the bucket cap keeps it out of the pair join — exact dedup owns
    that cluster — while genuine near-dups elsewhere still surface."""
    boiler = [
        (i, "terms of service apply to all users of this site always", "en", "web", 60)
        for i in range(40)
    ]
    near = [
        (500, "the quick brown fox jumps over the lazy sleeping dog today", "en", "web", 60),
        (501, "the quick brown fox jumps over the lazy sleeping cat today", "en", "web", 60),
    ]
    docs = _docs(spark, boiler + near)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=20).collect()
    ids = {(r.doc_a, r.doc_b) for r in pairs}
    assert (500, 501) in ids, "genuine near-dup must survive the cap"
    assert all(a >= 500 for a, _ in ids), "boilerplate flood must be capped out"
    # sanity on the counterfactual: uncapped, the flood pairs quadratically
    flood = dedup.minhash_lsh_pairs(
        docs, threshold=0.3, max_bucket_size=10_000
    ).filter(F.col("doc_a") < 500)
    assert flood.count() == 40 * 39 / 2


def test_salted_join_spreads_identical_hot_rows(spark):
    """Regression for value-hash salting: a hot key whose rows are ALL
    identical must still fan across salt buckets (the old row-hash salt
    collapsed them into one reducer), and the join result must equal the
    plain join."""
    left = spark.createDataFrame(
        [(7, "same") for _ in range(240)], "k long, payload string"
    ).repartition(8)
    right = spark.createDataFrame([(7, "dim7"), (8, "dim8")], "rk long, attr string")
    out = custom.salted_join(left, right, "k", "rk", n_salts=8)
    assert out.count() == 240
    assert out.select("attr").distinct().collect()[0].attr == "dim7"
    # observe the spread with the implementation's own salt expression
    salts = (
        left.withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(F.spark_partition_id(), F.monotonically_increasing_id()),
                F.lit(8),
            ),
        )
        .select("_salt")
        .distinct()
        .count()
    )
    assert salts > 1, "identical rows must not collapse to one salt bucket"


def test_resolve_clusters_raises_on_exhaustion(spark):
    """Exhausting the iteration budget mid-propagation must raise, not
    silently return wrong cluster labels."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.resolve_clusters(chain, max_iterations=1)
    done = dedup.resolve_clusters(chain, max_iterations=20)
    assert done.select("cluster_id").distinct().count() == 1


# ---------------------------------------------------------------------------
# zero-vector cosine parity (pandas twin vs JVM nullif guard)
# ---------------------------------------------------------------------------


def test_pandas_cosine_zero_vector_is_null_not_rank_one(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], "q"),
        (1, [0.9, 0.1, 0.0], "a"),
        (2, [0.0, 0.0, 0.0], "zero"),  # cosine undefined -> NULL
        (3, [0.5, 0.5, 0.0], "b"),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    for fn in (similarity.ann_cosine_topk, similarity.ann_cosine_topk_pandas):
        got = {r.c_id: r for r in fn(emb, n_queries=1, k=10).collect()}
        assert got[2].cosine is None, f"{fn.__name__}: zero vector must be NULL"
        assert got[2].rank == max(r.rank for r in got.values()), (
            f"{fn.__name__}: NULL cosine must sort last, never steal rank 1"
        )
        assert got[1].rank == 1


# ---------------------------------------------------------------------------
# SQL time travel + persistent catalog + compaction swap
# ---------------------------------------------------------------------------


def test_sql_version_as_of(spark, cat, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.write_snapshot(cat.orders.limit(100), "orders_snap")
    wh.write_snapshot(cat.orders.limit(250), "orders_snap")
    v1 = wh.sql("SELECT count(*) AS n FROM orders_snap VERSION AS OF 1").head().n
    v2 = wh.sql("SELECT count(*) AS n FROM orders_snap VERSION AS OF 2").head().n
    latest = wh.sql("SELECT count(*) AS n FROM orders_snap").head().n
    assert (v1, v2, latest) == (100, 250, 250)
    # both versions joinable in ONE statement (the reference's audit shape)
    diff = wh.sql(
        "SELECT count(*) AS n FROM orders_snap VERSION AS OF 2 a "
        "LEFT ANTI JOIN orders_snap VERSION AS OF 1 b USING (o_orderkey)"
    ).head().n
    assert diff == 150
    with pytest.raises(ValueError):
        wh.sql("SELECT * FROM orders_snap VERSION AS OF 9")


def test_sql_rewrite_skips_string_literals_and_comments(spark, cat, tmp_path):
    """A table name (or a VERSION AS OF phrase) inside a string literal
    or comment must pass through the time-travel rewrite untouched."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(cat.orders.limit(10), "orders_snap")
    row = wh.sql(
        "SELECT 'orders_snap VERSION AS OF 1' AS lit,  -- orders_snap VERSION AS OF 9\n"
        "       'it''s orders_snap' AS esc, count(*) AS n\n"
        "/* orders_snap VERSION AS OF 9 */ FROM orders_snap VERSION AS OF 1\n"
        "GROUP BY 1, 2"
    ).head()
    assert row.lit == "orders_snap VERSION AS OF 1"
    assert row.esc == "it's orders_snap"
    assert row.n == 10


def test_sql_preserves_user_temp_view(spark, cat, tmp_path):
    """A temp view the USER registered under a warehouse table's name is
    not clobbered by Warehouse.sql — it shadows the warehouse table, the
    same precedence Spark gives temp views over catalog tables."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(cat.orders.limit(10), "user_shadowed")
    cat.orders.limit(3).createOrReplaceTempView("user_shadowed")
    try:
        assert wh.sql("SELECT count(*) AS n FROM user_shadowed").head().n == 3
        # the user's view object survives the call
        assert spark.table("user_shadowed").count() == 3
    finally:
        spark.catalog.dropTempView("user_shadowed")


def test_sql_reregisters_across_warehouse_instances(spark, cat, tmp_path):
    """Two Warehouse instances over different roots but the same table
    name: the second instance's .sql() must re-register the (session-
    global) temp view with ITS data, not inherit the first's."""
    wh1 = Warehouse(spark, str(tmp_path / "a"))
    wh2 = Warehouse(spark, str(tmp_path / "b"))
    wh1.write_snapshot(cat.orders.limit(5), "shared_name")
    wh2.write_snapshot(cat.orders.limit(20), "shared_name")
    assert wh1.sql("SELECT count(*) AS n FROM shared_name").head().n == 5
    assert wh2.sql("SELECT count(*) AS n FROM shared_name").head().n == 20
    assert wh1.sql("SELECT count(*) AS n FROM shared_name").head().n == 5


def test_catalog_warehouse_stages_show_tables_describe(spark, cat, tmp_path):
    """The stage functions run unchanged over the catalog backend; the
    resulting warehouse is visible to plain SQL metadata commands — the
    reference's verification surface (SHOW TABLES / DESCRIBE)."""
    wh = CatalogWarehouse(spark, str(tmp_path))
    try:
        # counts are observed during each write; they must match the tables
        assert stage_ingest(wh, cat) == wh.read("trips_raw").count() > 0
        assert stage_dimensions(wh, cat) == (
            wh.read("entity_dim").count(),
            wh.read("date_dim").count(),
        )
        assert stage_fact(wh, cat) == wh.read("star_fact").count() > 0
        shown = {r.tableName for r in spark.sql("SHOW TABLES").collect()}
        assert {"trips_raw", "entity_dim", "date_dim", "star_fact"} <= shown
        described = {r.col_name for r in spark.sql("DESCRIBE trips_raw").collect()}
        assert "ship_year" in described
        # partitioned catalog table: DESCRIBE exposes partition metadata
        assert any("Partition" in (r.col_name or "") for r in
                   spark.sql("DESCRIBE trips_raw").collect())
        assert spark.table("star_fact").count() == wh.read("star_fact").count()
    finally:
        for t in ("trips_raw", "entity_dim", "date_dim", "star_fact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_parquet_swap_is_clean(spark, cat, tmp_path):
    """After compaction: same data, target file count, and no residue of
    the rename swap (no ._compact_tmp / ._compact_old)."""
    import os

    path = str(tmp_path / "frag")
    cat.orders.limit(2000).repartition(37).write.parquet(path)
    before = spark.read.parquet(path)
    n_rows, checksum = before.count(), before.agg(
        F.sum("o_orderkey").alias("s")
    ).head().s
    n_files = io.compact_parquet(spark, path, target_file_mb=128)
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert after.agg(F.sum("o_orderkey").alias("s")).head().s == checksum
    import glob

    assert len(glob.glob(os.path.join(path, "*.parquet"))) == n_files
    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")


def test_sql_backtick_quoted_table_reference_registers(spark, cat, tmp_path):
    """`name` is a live table reference, not a string literal: Spark
    resolves it identically to the bare name, so it must trigger view
    registration even though its text is exempt from rewriting."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(cat.orders.limit(7), "bt_snap")
    assert wh.sql("SELECT count(*) AS n FROM `bt_snap`").head().n == 7


def test_skewed_hot_key_join_plan_carries_salt_and_matches_plain_join(
    spark, cat
):
    """The registry's skewed fact⋈dim demonstration: the physical join
    keys must include the salt (so the Zipf-head key shuffles across
    n_salts reducers instead of one), and the result must equal the
    plain unsalted join."""
    from pyspark.sql import functions as F

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.registry import (
        q_skewed_hot_key_join,
    )

    from conftest import SF_DIR

    out = q_skewed_hot_key_join(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, "join must shuffle on (key, salt), not key alone"

    ev = cat.events.withColumn(
        "hot_uid",
        F.when(F.pmod(F.col("event_id"), F.lit(4)) < 3, F.lit(0).cast("long"))
        .otherwise(F.col("user_id")),
    )
    users = cat.customer.select(F.col("c_custkey").alias("u_key"), "c_mktsegment")
    plain = (
        ev.join(users, ev.hot_uid == users.u_key)
        .groupBy("hot_uid", "c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_bloom_filtered_join_equals_plain_join_and_prunes_fact(spark, cat):
    """The Bloom prefilter must never change the join result (no false
    negatives + join re-verification) while dropping most non-matching
    fact rows BEFORE the join; the probe must sit in the plan as a
    Filter on the fact side."""
    from pyspark.sql import functions as F

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        custom,
    )

    dim = cat.supplier.filter(F.col("s_nationkey") == 3).select(
        "s_suppkey", "s_name"
    )
    out = custom.bloom_filtered_join(
        cat.lineitem, dim, "l_suppkey", "s_suppkey"
    )
    plain = cat.lineitem.join(
        dim, cat.lineitem.l_suppkey == dim.s_suppkey
    )
    assert out.count() == plain.count()
    # the probe is a pre-join Filter (bitmap word lookup + shift)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "shiftright" in plan and "Filter" in plan
    # false-positive rate: fact keys NOT in the dim that still pass the
    # bloom — bounded well under the classic (1-e^{-kn/m})^k for
    # n=|dim keys|, m=8192, k=2 (generous 5x slack for md5 variance)
    words = custom.dim_bloom_bits(dim, "s_suppkey")
    n_keys = dim.select("s_suppkey").distinct().count()
    fpr_bound = (1 - 2.718281828 ** (-2 * n_keys / 8192)) ** 2
    non_matching = cat.lineitem.join(
        dim, cat.lineitem.l_suppkey == dim.s_suppkey, "left_anti"
    )
    probed = custom.bloom_filtered_join(
        non_matching, dim.limit(0), "l_suppkey", "s_suppkey"
    )
    # count survivors of the EMPTY-dim bloom (all-zero bitmap): zero
    assert probed.count() == 0
    # survivors of the real bloom among non-matching keys (probe the
    # filter directly — the factored bloom_prefilter)
    nm_keys = non_matching.select("l_suppkey").distinct()
    n_nm = nm_keys.count()
    survivors = custom.bloom_prefilter(nm_keys, "l_suppkey", words).count()
    assert survivors <= max(5 * fpr_bound * n_nm, 2), (
        survivors,
        fpr_bound,
        n_nm,
    )
