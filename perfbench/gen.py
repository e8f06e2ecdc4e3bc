"""Seeded input generation for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng`` seeded with the
workload seed, so the same seed gives the same rows and another seed gives
other rows. Row counts depend only on the scale arguments, never on the
seed; the seed moves the properties the engine's behaviour depends on:

- ``tpch``: key skew of orders over customers and of line items over parts
  and suppliers (hash-partition balance of the star joins);
- ``corpus``: the share of near-duplicate documents and vectors (candidate
  pairs in the banded near-dup and ANN joins);
- ``changes``: key skew and the share of deletes in the change stream
  (rows per merge, files touched per commit).

Schemas and value domains follow the star-schema test tables the registry
is written against (``sources.io.TPCH_TABLES``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["red", "blue", "hot", "old", "small", "large", "green", "cold"]
PART_NOUNS = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "cap"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
EMBED_DIM = 64
DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # order dates span 1995-01-01 .. 2001-08-01


def _rng(seed: int, stream: int) -> np.random.Generator:
    # one independent stream per table family, so adding a table to one
    # family never shifts the rows of another
    return np.random.default_rng([seed, stream])


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int, s: float) -> np.ndarray:
    """``size`` draws from ``range(n_keys)`` with Zipf exponent ``s`` over a
    seeded permutation of the keys (``s=0`` is uniform)."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=size, p=w / w.sum())
    return rng.permutation(n_keys)[ranks]


# the seed-driven input properties and their ranges
PROPERTY_RANGES = {
    "tpch_key_skew": (0.3, 0.8),
    "near_dup_share": (0.08, 0.16),
    "change_key_skew": (0.6, 1.0),
    "delete_share": (0.10, 0.20),
}


def properties(seed: int) -> dict[str, float]:
    """Each property drawn uniformly from its range, one stream apiece."""
    return {
        name: float(_rng(seed, 100 + i).uniform(lo, hi))
        for i, (name, (lo, hi)) in enumerate(PROPERTY_RANGES.items())
    }


def tpch(seed: int, scale: int) -> dict[str, pa.Table]:
    """Star-schema tables at ``scale`` × (150 customers, 10 suppliers,
    200 parts, 1,500 orders, 6,000 line items)."""
    rng = _rng(seed, 1)
    skew = properties(seed)["tpch_key_skew"]
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line = 1500 * scale, 6000 * scale

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2),
        }
    )
    order_days = rng.integers(0, ORDER_DAYS, n_ord)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": zipf_keys(rng, n_cust, n_ord, skew).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": DAY0 + order_days.astype("timedelta64[D]"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    linenumber = np.ones(n_line, dtype=np.int32)
    for i in range(1, n_line):
        if l_order[i] == l_order[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": l_order.astype(np.int64),
            "l_partkey": zipf_keys(rng, n_part, n_line, skew).astype(np.int64),
            "l_suppkey": zipf_keys(rng, n_supp, n_line, skew).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": DAY0
            + (order_days[l_order] + rng.integers(1, 122, n_line)).astype(
                "timedelta64[D]"
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def corpus(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings``; a seeded share of each are
    near-duplicates of an earlier original (never of another duplicate):
    documents with one vocabulary word appended, vectors with small
    Gaussian noise (cosine about 0.99).

    Originals have 60-120 words, so a duplicate's 3-word shingles keep
    Jaccard >= 0.98 with its original and >= 0.96 with a sibling: the
    range where ``minhash_lsh_pairs`` (4 bands x 4 rows) catches a pair
    with probability above 0.999 and so equals its exhaustive oracle."""
    rng = _rng(seed, 2)
    dup_share = properties(seed)["near_dup_share"]

    texts: list[list[str]] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < dup_share:
            src = texts[originals[rng.integers(len(originals))]]
            texts.append(src + [VOCAB[rng.integers(len(VOCAB))]])
        else:
            originals.append(i)
            texts.append(list(rng.choice(VOCAB, rng.integers(60, 121))))
    text = [" ".join(t) for t in texts]
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )

    vecs = rng.normal(0.0, 0.125, (n_vecs, EMBED_DIM))
    labels = rng.integers(0, 10, n_vecs)
    for i in range(1, n_vecs):
        if rng.random() < dup_share:
            j = rng.integers(i)
            vecs[i] = vecs[j] + rng.normal(0.0, 0.015, EMBED_DIM)
            labels[i] = labels[j]
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def changes(
    seed: int, n_keys: int, n_batches: int, batch_rows: int
) -> list[pa.Table]:
    """A time-ordered change stream: batch 0 inserts every key once; each
    later batch holds ``batch_rows`` upserts and deletes on Zipf-skewed keys
    with a seeded delete share. ``seq`` is the global change order."""
    rng = _rng(seed, 3)
    props = properties(seed)
    skew, delete_share = props["change_key_skew"], props["delete_share"]
    batches = []
    seq = 0
    for b in range(n_batches):
        if b == 0:
            ids = np.arange(n_keys, dtype=np.int64)
            deletes = np.zeros(n_keys, dtype=bool)
        else:
            ids = zipf_keys(rng, n_keys, batch_rows, skew).astype(np.int64)
            deletes = rng.random(batch_rows) < delete_share
        n = len(ids)
        batches.append(
            pa.table(
                {
                    "id": ids,
                    "seq": np.arange(seq, seq + n, dtype=np.int64),
                    "amount": np.round(rng.uniform(0, 1000, n), 2),
                    "status": rng.choice(["new", "paid", "shipped", "void"], n),
                    "is_delete": deletes,
                }
            )
        )
        seq += n
    return batches


def merge_source(seed: int, n_keys: int) -> pa.Table:
    """MERGE source rows for the change table: half match existing keys,
    half are new keys."""
    rng = _rng(seed, 4)
    n = max(2, n_keys // 50)
    ids = np.concatenate(
        [rng.choice(n_keys, n // 2, replace=False), n_keys + 10 + np.arange(n - n // 2)]
    ).astype(np.int64)
    return pa.table(
        {
            "id": ids,
            "seq": np.arange(2_000_000, 2_000_000 + n, dtype=np.int64),
            "amount": np.round(rng.uniform(0, 1000, n), 2),
            "status": rng.choice(["new", "paid", "shipped", "void"], n),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
