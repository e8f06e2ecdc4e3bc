"""The benchmark workloads.

Each workload generates its inputs from the seed, then runs passes. A pass
is a fixed list of calls made one at a time by a single client (a closed
loop: the next call starts when the previous one returns). Every call is
timed, wrapped in a tracer span named after the layer it enters, and
followed by a count of the RDDs it left persisted before the cache is
cleared. Every DataFrame a call returns is written to the ``noop`` sink.
After the timed pass, :meth:`Workload.collect` reads back the outputs to
check, or executes the measured DataFrames again, and
:meth:`Workload.check` compares them with independent DuckDB references;
neither is timed.
"""

from __future__ import annotations

import contextlib
import math
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import duckdb

import gen
from proc import JitMeter, tree_cpu_s

ETL_STAGES = ("ingest", "dimensions", "fact", "aggregates", "quality")
# warehouse table -> registry oracle that recomputes it from the inputs
ETL_CHECKS = {
    "pair_daily": "agg_pair_daily",
    "time_analysis": "agg_time",
    "top_pairs": "top_pairs",
}
# cdc_curation's registry queries and the operator module each mainly calls
CURATION_QUERIES = {
    "minhash_lsh_pairs": "operators.dedup",
    "ann_lsh_topk": "operators.similarity",
    "classifier_scores": "operators.classify",
    "perplexity_scores": "operators.lm",
    "bpe_train_merges": "operators.bpe",
    "curate_documents": "operators.curation",
    "doc_fingerprint": "operators.text",
}


@dataclass
class Call:
    kind: str  # "query" (a read), "commit" (a write), "stage" or "maint"
    name: str
    seconds: float  # math.inf when the call failed
    ok: bool


@dataclass
class PassResult:
    seconds: float = 0.0
    cpu_s: float = 0.0  # outside the JIT compiler threads
    jit_cpu_s: float = 0.0
    written_bytes: int = 0
    written_files: int = 0
    table_bytes: int = 0
    live_bytes: int = 0
    log_bytes: int = 0


class Context:
    """What a pass needs: the session, the tracer, the input directory and
    the call recorder."""

    def __init__(self, spark, tracer, data_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.calls: list[Call] = []
        self.rdds_left = 0
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    @contextlib.contextmanager
    def measured(self):
        """The timed pass: yields a :class:`PassResult` whose wall and CPU
        seconds are filled in when the block ends."""
        res = PassResult()
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        with JitMeter(self.jvm_pid) as jit, self.tracer.span("pass"):
            yield res
        res.seconds = time.perf_counter() - t0
        res.jit_cpu_s = jit.cpu_s
        res.cpu_s = tree_cpu_s() - cpu0 - res.jit_cpu_s

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def call(self, kind: str, span: str, fn, **attrs):
        """One closed-loop call: returns ``fn()``, or ``None`` if it raised
        (the failure is counted and the pass goes on)."""
        rdds0 = self._persisted()
        t0 = time.perf_counter()
        out, ok = None, True
        try:
            with self.tracer.span(span, **attrs):
                out = fn()
        except Exception:  # a failed call must not abort the pass
            ok = False
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        name = attrs.get("query", attrs.get("verb", span))
        self.calls.append(Call(kind, name, dt if ok else math.inf, ok))
        self.rdds_left += self._persisted() - rdds0
        self.spark.catalog.clearCache()
        return out


def materialize(df) -> None:
    """Run the whole plan into the ``noop`` sink, which (unlike ``count()``)
    keeps every projected column, Python UDFs included."""
    df.write.format("noop").mode("overwrite").save()


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def unpersist_all(spark) -> None:
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def same_result(got, want) -> bool:
    """Row count, column names and the order-insensitive value hash of
    ``tools/check_oracle.py``."""
    from check_oracle import value_hash

    return (
        len(got) == len(want)
        and sorted(got.columns) == sorted(want.columns)
        and value_hash(got) == value_hash(want)
    )


class Workload:
    name = ""

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")

    def prepare(self) -> None:
        """Generate and write the inputs; record their rows and bytes."""
        self.rows = gen.write_tables(self.make_tables(), self.data_dir)
        self.input_rows = sum(self.rows[t] for t in self.input_tables())
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in self.input_tables()
        )

    def make_tables(self) -> dict:
        raise NotImplementedError

    def input_tables(self) -> tuple[str, ...]:
        raise NotImplementedError

    def run_pass(self, ctx: Context) -> PassResult:
        """The measured pass; a workload makes one per process."""
        raise NotImplementedError

    def collect(self, ctx: Context) -> dict:
        """The pass's outputs to check, as pandas frames."""
        raise NotImplementedError

    def check(self, outputs: dict) -> list[str]:
        """Names of the outputs that differ from their reference."""
        raise NotImplementedError

    def duck(self) -> duckdb.DuckDBPyConnection:
        """DuckDB with one view per generated input table."""
        con = duckdb.connect()
        for f in sorted(os.listdir(self.data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(self.data_dir, f)
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        return con


class EtlStar(Workload):
    """The reference pipeline, stage by stage, over a fresh plain-parquet
    warehouse per pass."""

    name = "etl_star"

    def make_tables(self):
        return gen.tpch(self.seed, 1)

    def input_tables(self):
        return ("lineitem", "orders", "customer", "supplier", "nation")

    def run_pass(self, ctx):
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
            pipeline,
        )
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.io import (
            Catalog,
        )

        wh_dir = os.path.join(self.work_dir, "warehouse")
        self.wh = wh = pipeline.Warehouse(ctx.spark, wh_dir)
        cat = Catalog(ctx.spark, self.data_dir)
        stages = {
            "ingest": lambda: pipeline.stage_ingest(wh, cat),
            "dimensions": lambda: pipeline.stage_dimensions(wh, cat),
            "fact": lambda: pipeline.stage_fact(wh, cat),
            "aggregates": lambda: pipeline.stage_aggregates(wh),
            "quality": lambda: pipeline.stage_quality(wh),
        }
        with ctx.measured() as res:
            out = {
                s: ctx.call("stage", f"plans.pipeline.{s}", stages[s])
                for s in ETL_STAGES
            }
        written = dir_files(wh_dir)
        res.written_bytes = sum(written.values())
        res.written_files = sum(1 for p in written if p.endswith(".parquet"))
        self.quality = out["quality"]
        return res

    def collect(self, ctx):
        outputs = {"quality": self.quality}
        for table in ETL_CHECKS:
            try:
                outputs[table] = self.wh.read(table).toPandas()
            except Exception:  # a missing table is a wrong result
                traceback.print_exc(file=sys.stderr)
        return outputs

    def check(self, outputs):
        import pandas as pd
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
            ORACLES,
        )

        con = self.duck()
        wrong = [
            table
            for table, query in ETL_CHECKS.items()
            if table not in outputs
            or not same_result(outputs[table], con.sql(ORACLES[query]).df())
        ]
        quality = outputs.get("quality")
        if quality is None or not same_result(
            pd.DataFrame([quality]), con.sql(ORACLES["dq_checks"]).df()
        ):
            wrong.append("quality")
        return wrong


class CdcCuration(Workload):
    """A keyed change stream applied as micro-batches into a txlog table,
    with pruned reads between batches, a time-travel read, a change feed,
    SQL UPDATE, DELETE, INSERT and MERGE, OPTIMIZE and VACUUM; then one
    registry query per LLM-data operator module over a corpus with
    near-duplicates."""

    name = "cdc_curation"

    n_keys = 1000
    n_docs = 100

    def make_tables(self):
        self.batches = gen.changes(self.seed, self.n_keys, 2, self.n_keys // 2)
        tables = {f"changes_{i}": b for i, b in enumerate(self.batches)}
        tables["merge_source"] = gen.merge_source(self.seed, self.n_keys)
        tables.update(gen.corpus(self.seed, self.n_docs, self.n_docs))
        return tables

    def input_tables(self):
        return tuple(f"changes_{i}" for i in range(len(self.batches))) + (
            "merge_source",
            "documents",
            "embeddings",
        )

    def dml(self) -> dict[str, str]:
        """Verb -> statement, in order. DuckDB replays each text as is,
        except the MERGE, as UPDATE + INSERT (DuckDB 1.0 has no MERGE)."""
        new = 10 * self.n_keys  # above every key of the stream and the merge
        return {
            "update": "UPDATE cdc SET status = 'audit' WHERE amount < 100",
            "delete": "DELETE FROM cdc WHERE status = 'void' AND amount >= 500",
            "insert": f"INSERT INTO cdc VALUES ({new}, 3000000, 1.5, 'new'), "
            f"({new + 1}, 3000001, 2.5, 'paid')",
            "merge": "MERGE INTO cdc AS t USING merge_source AS s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        }

    def run_pass(self, ctx):
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
            QUERIES,
        )
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
            TxLogWarehouse,
        )
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.streaming.upsert import (
            apply_changes_batch,
        )

        spark = ctx.spark
        wh = TxLogWarehouse(spark, os.path.join(self.work_dir, "txlog"))
        root = wh.path("cdc")
        self.log = log = wh._log("cdc")
        written: dict[str, int] = {}
        self.versions = versions = []
        self.frames = {}
        with ctx.measured() as res:
            for b in range(len(self.batches)):
                batch = spark.read.parquet(
                    os.path.join(self.data_dir, f"changes_{b}.parquet")
                )
                ctx.call(
                    "commit",
                    "streaming.apply",
                    lambda: apply_changes_batch(
                        spark, batch, root, ["id"], "seq",
                        delete_col="is_delete", txn=("perfbench", b),
                    ),
                )
                written.update(dir_files(root))
                versions.append(log.versions()[-1])
                key = int(self.batches[b].column("id")[-1].as_py())
                self.read(ctx, log, filters=[("id", "==", key)])
            lo = self.n_keys // 3
            self.read(ctx, log, filters=[("id", "between", (lo, lo + self.n_keys // 20))])
            ctx.call(
                "query",
                "sources.txlog.table_changes",
                lambda: materialize(log.table_changes(versions[0])),
            )
            ctx.call(
                "commit",
                "sources.txlog.write",
                lambda: wh.write_snapshot(
                    spark.read.parquet(os.path.join(self.data_dir, "merge_source.parquet")),
                    "merge_source",
                ),
            )
            for verb, stmt in self.dml().items():
                ctx.call(
                    "commit", "plans.pipeline.sql", lambda: materialize(wh.sql(stmt)), verb=verb
                )
            # time travel to the state after the last batch, from before
            # the DML; the VACUUM below keeps it readable
            self.read(ctx, log, version=versions[-1])
            written.update(dir_files(root))
            ctx.call("maint", "sources.txlog.optimize", lambda: log.optimize(n_files=2))
            written.update(dir_files(root))
            ctx.call(
                "maint",
                "sources.txlog.vacuum",
                lambda: log.vacuum(
                    retain_last=len(log.versions()) - log.versions().index(versions[-1]),
                    min_file_age_s=0,
                ),
            )
            for q, module in CURATION_QUERIES.items():

                def run():
                    with ctx.tracer.span("plans.registry.build"):
                        df = QUERIES[q](spark, self.data_dir)
                    materialize(df)
                    return df

                self.frames[q] = ctx.call("query", "plans.registry", run, query=q, module=module)
        res.written_bytes = sum(written.values())
        res.written_files = len(written)
        final = dir_files(root)
        res.table_bytes = sum(final.values())
        live = {
            os.path.join(log.data_dir, m["path"]) for m in log.snapshot().files.values()
        }
        res.live_bytes = sum(final.get(p, 0) for p in live)
        res.log_bytes = sum(v for p, v in final.items() if "/_txlog/" in p)
        return res

    def collect(self, ctx):
        """The txlog table now and at the time-travel version, and each
        registry query's DataFrame from the pass, executed again (a query's
        build step, where training happens, is not repeated)."""
        frames = {
            "time_travel": lambda: self.log.read(version=self.versions[-1]),
            "final": lambda: self.log.read(),
        }
        for q, df in self.frames.items():
            if df is not None:  # a failed call is counted as failed already
                frames[q] = lambda df=df: df
        # untimed, so the independent reads run side by side
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = {
                name: pool.submit(lambda frame=frame: frame().toPandas())
                for name, frame in frames.items()
            }
        outputs = {}
        for name, future in futures.items():
            try:
                outputs[name] = future.result()
            except Exception:  # a failed read is a wrong result
                traceback.print_exc(file=sys.stderr)
        return outputs

    def read(self, ctx, log, **kwargs):
        """A txlog read; traced runs also count the files it scans against
        the table's active files."""

        def run():
            df = log.read(**kwargs)
            if ctx.tracer.enabled:
                attrs = ctx.tracer.current_attrs()
                attrs["files_scanned"] = len(df.inputFiles())
                attrs["files_active"] = len(ctx.tracer.raw_snapshot(log).files)
            materialize(df)

        ctx.call("query", "sources.txlog.read", run)

    def replay(self, con, upto: int, dml: bool = False):
        """DuckDB replay of change batches ``0..upto`` (the last change per
        key, deletes applied), then optionally the DML statements."""
        paths = ", ".join(
            f"'{os.path.join(self.data_dir, f'changes_{b}.parquet')}'"
            for b in range(upto + 1)
        )
        con.sql("DROP TABLE IF EXISTS cdc")
        con.sql(
            f"""
            CREATE TABLE cdc AS SELECT id, seq, amount, status FROM (
              SELECT *, row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
              FROM read_parquet([{paths}])
            ) WHERE rn = 1 AND NOT is_delete
            """
        )
        for verb, stmt in self.dml().items() if dml else ():
            if verb != "merge":
                con.sql(stmt)
                continue
            con.sql(
                "UPDATE cdc SET seq = s.seq, amount = s.amount, status = s.status "
                "FROM merge_source s WHERE cdc.id = s.id"
            )
            con.sql(
                "INSERT INTO cdc SELECT * FROM merge_source "
                "WHERE id NOT IN (SELECT id FROM cdc)"
            )
        return con.sql("SELECT * FROM cdc").df()

    def check(self, outputs):
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
            ORACLES,
        )

        con = self.duck()
        refs = {
            "time_travel": lambda: self.replay(con, len(self.batches) - 1),
            "final": lambda: self.replay(con, len(self.batches) - 1, dml=True),
        }
        refs.update({q: (lambda q=q: con.sql(ORACLES[q]).df()) for q in CURATION_QUERIES})
        return [
            name
            for name, ref in refs.items()
            if outputs.get(name) is None or not same_result(outputs[name], ref())
        ]


WORKLOADS = {w.name: w for w in (EtlStar, CdcCuration)}
