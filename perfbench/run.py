"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One workload per process, on ``local[<cores>]`` with one client thread
making one call at a time (a closed loop). A run starts Spark, generates the
workload's inputs from the seed and makes one measured pass over them in
the fresh session, as a batch job submitted with spark-submit would. The
pass always takes longer than ``--seconds``, so a run makes exactly one.
Its outputs are then collected and checked against independent
references, untimed. Last, the session is restarted once in the same JVM,
reported as ``session_restart_s`` (report only).

The end-to-end metrics are CPU seconds and bytes written per input byte.
``cpu_s`` counts this process and its descendants (the JVM with its GC
threads, and its Python workers) but not the JVM's JIT compiler threads:
those take about half of a cold pass's CPU and vary by about 15 % from run
to run for the same work, so they are reported apart, as ``jit_cpu_s``.
``setup_s`` is all CPU time from process start to the first completed Spark
action (Python imports, JVM launch, session start). It is sampled once per
run, because a cold start costs 12-19 s of wall time; its median is taken
across runs. On a shared box, wall time moves with the other tenants' load
and CPU time much less; the wall-clock figures are in the report. The last
stdout line is the result object; the line before it is the report: every
metric, the input description and the box fingerprint.

``--trace 1`` turns on Spark's event log and the span tracer and reports
the per-layer metrics of the measured pass. ``--workload all`` runs every
workload untraced and traced, one process each, and prints each end-to-end
metric with its unit and the tracing overhead (traced minus untraced
``wall_s``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from statistics import median

from proc import cores, mem_total_mib, process_age_s, tree_cpu_s, vm_hwm_mib

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PKG = "complex_data_pipeline_with_joins_and_multi_table_operations_spark"

END_TO_END = {"setup_s": "s", "cpu_s": "s", "write_amp": "B/B"}
OPERATOR_MODULES = ("dedup", "similarity", "classify", "lm", "bpe", "curation", "text")
OPERATOR_FIELDS = (
    "wall_s",
    "driver_self_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "persisted_rdds_left",
)


def driver_heap_mib() -> int:
    """An eighth of the box's memory, between 1 and 2 GiB: the inputs are a
    few MiB, the whole heap is committed at start, and the box is shared
    with other processes."""
    return max(1024, min(2048, mem_total_mib() // 8))


class Session:
    """Starts and restarts the benchmark's SparkSession with one fixed
    configuration; only the event log differs between traced and untraced
    sessions."""

    def __init__(self, work: str):
        self.work = work
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark_local"),
            # the initial heap is the whole heap: growing it costs GC work
            # that varies from run to run by several CPU seconds
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Xms{driver_heap_mib()}m "
                f"-Djava.io.tmpdir={work}/tmp_proc"
            ),
            "spark.eventLog.enabled": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        for d in ("spark_local", "tmp_proc", "eventlog"):
            os.makedirs(os.path.join(work, d), exist_ok=True)

    def start(self, traced: bool):
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark import (
            get_spark,
        )

        conf = dict(self.conf)
        conf["spark.eventLog.enabled"] = "true" if traced else "false"
        spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        return spark

    def restart(self, spark):
        """Stop ``spark`` and start again in the same JVM, untraced; returns
        the new session and the session start to first completed action in
        wall and CPU seconds."""
        spark.stop()
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        spark = self.start(False)
        return spark, time.perf_counter() - t0, tree_cpu_s() - cpu0


def stop_jvm() -> None:
    """End the JVM behind PySpark (it exits when its stdin closes, taking
    its Python workers along) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def fingerprint(spark) -> dict:
    """What the numbers depend on besides the code: the box, the runtimes
    and the time of a fixed calibration query (median of three)."""
    import pyspark

    jvm = spark.sparkContext._jvm
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 500_000, 1, cores()).selectExpr(
            "sum(hash(id) % 1000) AS s"
        ).collect()
        times.append(time.perf_counter() - t0)
    return {
        "nproc": cores(),
        "mem_total_mib": mem_total_mib(),
        "driver_heap_mib": driver_heap_mib(),
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "calibration_s": sorted(times)[1],
    }


class Tmp:
    """Points ``tempfile`` at a scratch directory so that temp directories
    the program never removes are counted and removed between passes."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        tempfile.tempdir = path
        self.leaked = 0

    def sweep(self) -> None:
        for entry in os.listdir(self.path):
            self.leaked += 1
            p = os.path.join(self.path, entry)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)


def summarize(workload, first, calls, peak_rss) -> tuple[dict, dict]:
    """End-to-end metrics of the measured pass (set-up is added by the
    caller) and the figures for the report."""
    from spans import tail_percentile

    e2e = {
        "cpu_s": first.cpu_s,
        "write_amp": first.written_bytes / workload.input_bytes,
    }
    extra: dict = {
        "wall_s": first.seconds,
        "jit_cpu_s": first.jit_cpu_s,
        "input_rows_per_s": workload.input_rows / first.seconds,
        "call_p50_s": median([c.seconds for c in calls]),
        "peak_rss_mib": peak_rss,
        "samples": {"calls": len(calls)},
        "calls_s": [(c.name, round(c.seconds, 3)) for c in calls],
    }
    for kind in ("query", "commit", "stage"):
        lat = [c.seconds for c in calls if c.kind == kind]
        if not lat:
            continue
        extra[f"{kind}_p50_s"] = median(lat)
        extra["samples"][kind] = len(lat)
        p90 = tail_percentile(lat, 0.9)
        extra[f"{kind}_p90_s"] = p90 if p90 is not None else f"n/a ({len(lat)} < 100 samples)"
    if first.live_bytes:
        extra["space_amp"] = first.table_bytes / first.live_bytes
    return e2e, extra


def per_layer(spans, stats, first, setup0: float, extra: dict) -> dict:
    """The per-layer metrics of the measured pass; layers the workload never
    calls read 0."""
    from spans import SPAN_FIELDS, layer_sums, span_fields

    fields = span_fields(spans, stats)
    by_name = layer_sums(spans, fields)
    by_module = layer_sums(
        [s for s in spans if s.name == "plans.registry"],
        fields,
        key=lambda s: s.attrs.get("module"),
    )
    out = {"session.start_s": setup0}

    def get(layer: str, field: str, src=by_name) -> float:
        return src.get(layer, {}).get(field, 0)

    out["plans.registry.build_s"] = get("plans.registry.build", "wall_s")
    for f in SPAN_FIELDS:
        out[f"plans.registry.{f}"] = get("plans.registry", f)
    for stage in ("ingest", "dimensions", "fact", "aggregates", "quality"):
        for f in ("wall_s", "jobs", "driver_self_s"):
            out[f"plans.pipeline.{stage}.{f}"] = get(f"plans.pipeline.{stage}", f)
    for verb in ("merge", "update", "delete", "insert"):
        for f in ("wall_s", "driver_self_s"):
            out[f"plans.pipeline.sql.{verb}.{f}"] = get(f"plans.pipeline.sql.{verb}", f)
    out["sources.io.input_bytes"] = get("pass", "input_bytes")
    out["sources.io.output_bytes"] = first.written_bytes
    out["sources.io.output_files"] = first.written_files
    reads = by_name.get("sources.txlog.read", {})
    out.update(
        {
            "sources.txlog.snapshot_s": get("sources.txlog.snapshot", "wall_s"),
            "sources.txlog.merge_s": get("sources.txlog.merge", "wall_s"),
            "sources.txlog.files_rewritten": get("sources.txlog.merge", "files_rewritten"),
            "sources.txlog.rows_written": get("sources.txlog.merge", "rows_written"),
            "sources.txlog.read_s": reads.get("wall_s", 0),
            "sources.txlog.files_scanned_frac": (
                reads["files_scanned"] / reads["files_active"]
                if reads.get("files_active")
                else 0
            ),
            "sources.txlog.log_bytes": first.log_bytes,
            "sources.txlog.optimize_s": get("sources.txlog.optimize", "wall_s"),
            "sources.txlog.vacuum_s": get("sources.txlog.vacuum", "wall_s"),
            "sources.txlog.table_changes_s": get("sources.txlog.table_changes", "wall_s"),
        }
    )
    out["streaming.apply_s"] = get("streaming.apply", "wall_s")
    for f in SPAN_FIELDS[1:]:
        out[f"streaming.{f}"] = get("streaming.apply", f)
    for m in OPERATOR_MODULES:
        for f in OPERATOR_FIELDS:
            out[f"operators.{m}.{f}"] = get(f"operators.{m}", f, by_module)
    for k in ("query_p50_s", "commit_p50_s", "space_amp"):
        out[k] = extra.get(k, 0)
    return out


def run_one(args) -> int:
    for p in (ROOT, BENCH, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    # fails fast, before any set-up, where the program is not present
    __import__(PKG + ".plans")
    __import__("check_oracle")
    import spans
    import workloads

    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the JVM and Python workers inherit these: nothing is written outside
    # the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp_proc")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_heap_mib()}m"
    session = Session(work)
    traced = bool(args.trace)
    spark = None
    try:
        spark = session.start(traced)
        cold_wall, cold_cpu = process_age_s(), tree_cpu_s()
        phases = {"start": cold_wall}
        t_phase = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal t_phase
            now = time.perf_counter()
            phases[name] = now - t_phase
            t_phase = now

        workload = workloads.WORKLOADS[args.workload](args.seed, work)
        workload.prepare()
        phase("generate")
        tmp = Tmp(os.path.join(work, "tmp_py"))
        tracer = (
            spans.Tracer(spark, f"{args.workload}-{args.seed}")
            if traced
            else spans.NullTracer()
        )
        ctx = workloads.Context(spark, tracer, workload.data_dir)
        with tracer.patched():
            first = workload.run_pass(ctx)
            measured_spans = list(tracer.spans)
        phase("pass")
        outputs = workload.collect(ctx)
        tmp.sweep()
        workloads.unpersist_all(spark)
        phase("collect")
        wrong = workload.check(outputs)
        del outputs
        phase("check")
        peak_rss = vm_hwm_mib(ctx.jvm_pid) + vm_hwm_mib("self")
        box = fingerprint(spark)
        phase("fingerprint")
        e2e, extra = summarize(workload, first, ctx.calls, peak_rss)

        layers = {}
        if traced:
            app_id = spark.sparkContext.applicationId
            spark.stop()
            stats = spans.parse_event_log(os.path.join(work, "eventlog", app_id))
            layers = per_layer(measured_spans, stats, first, cold_cpu, extra)
        spark, restart_wall, restart_cpu = session.restart(spark)
        e2e = {"setup_s": cold_cpu, **e2e}
        extra["setup_wall_s"] = cold_wall
        extra["session_restart_s"] = restart_cpu
        extra["session_restart_wall_s"] = restart_wall
        phase("restarts")
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    all_calls = ctx.calls
    failed = sum(not c.ok for c in all_calls)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": traced,
        "box": box,
        "inputs": {
            "rows": workload.input_rows,
            "bytes": workload.input_bytes,
            "tables": workload.rows,
            "seed_properties": __import__("gen").properties(args.seed),
        },
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "extra": extra,
        "phases_s": phases,
        "wrong_results": len(wrong),
        "wrong_outputs": wrong,
        "failed_op_frac": failed / len(all_calls),
        "leaked_tmp_dirs": tmp.leaked,
        "persisted_rdds_left": ctx.rdds_left,
    }
    print(json.dumps({"report": report}, default=str))
    metrics = (
        {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
        if traced
        else report["metrics"]
    )
    print(
        json.dumps(
            {
                "correct": not wrong and failed == 0,
                "attempted": len(all_calls),
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("bytes"):
        return "B"
    if field in ("write_amp", "space_amp"):
        return "B/B"
    if field.endswith("_frac"):
        return "ratio"
    return "count"


def run_all(args) -> int:
    """Every workload untraced then traced, one process each; prints each
    end-to-end metric by name with its unit, and the tracing overhead."""
    from workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        reports = []
        for traced in (0, 1):
            cmd = [
                sys.executable,
                os.path.abspath(__file__),
                "--workload", name,
                "--seed", str(args.seed),
                "--seconds", str(args.seconds),
                "--trace", str(traced),
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-4000:])
                print(f"{name} trace={traced}: FAILED (exit {proc.returncode})")
                status = 1
                break
            reports.append(json.loads(lines[-2])["report"])
            result = json.loads(lines[-1])
            print(
                f"{name} trace={traced} correct={result['correct']} "
                f"attempted={result['attempted']} failed={result['failed']} "
                f"wrong={reports[-1]['wrong_outputs']}"
            )
            if not traced:
                for k, v in result["metrics"].items():
                    print(f"  {k:24s} {v['value']:.6g} {v['unit']}")
                for k, v in reports[-1]["extra"].items():
                    if k != "calls_s":
                        print(f"  {k:24s} {v}")
        if len(reports) == 2:
            overhead = reports[1]["extra"]["wall_s"] - reports[0]["extra"]["wall_s"]
            print(f"  {'tracing_overhead_s':24s} {overhead:.6g} s")
    return status


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, BENCH)
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
