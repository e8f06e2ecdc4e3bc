"""Spans, Spark event-log attribution and the statistics the benchmark
reports.

A :class:`Tracer` records one span per call into a layer (name, start, end,
parent, run id) in memory. While a span is open the Spark job group is the
span id, so every job Spark starts inside it carries that id in the event
log. After the session stops, :func:`parse_event_log` folds the log's task
metrics per job group and :func:`layer_sums` sums them per layer, each
span counting the jobs of its descendants too.

The untraced run uses :class:`NullTracer`, which records nothing and never
touches the job group.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import time
from dataclasses import dataclass, field

SPAN_FIELDS = (
    "wall_s",
    "driver_self_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "persisted_rdds_left",
)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_self_s(start: float, end: float, jobs: list[tuple[float, float]]) -> float:
    """Span wall time minus the part of it that Spark jobs cover."""
    clipped = [(max(a, start), min(b, end)) for a, b in jobs]
    return (end - start) - union_length(clipped)


def tail_percentile(values: list[float], q: float, beyond: int = 10) -> float | None:
    """The nearest-rank ``q`` quantile, or ``None`` unless at least
    ``beyond`` samples lie above its rank (p90 needs 100 samples)."""
    n = len(values)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < beyond:
        return None
    return sorted(values)[rank - 1]


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record
    nothing."""

    enabled = False

    def __init__(self):
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs

    @contextlib.contextmanager
    def patched(self):
        yield


class Tracer:
    """Records spans and points Spark's job group at the innermost one."""

    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources import (
            txlog,
        )

        self._raw_snapshot = txlog.TableLog.snapshot

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span.id, span.name)

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def current_attrs(self) -> dict:
        return self._stack[-1].attrs

    def raw_snapshot(self, log):
        """The txlog snapshot without a span, for the benchmark's own
        bookkeeping."""
        return self._raw_snapshot(log)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            f"{self.run_id}:{next(self._ids)}",
            name,
            parent.id if parent else None,
            time.time(),
            attrs=dict(attrs),
        )
        rdds0 = self._persisted()
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp.attrs
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            sp.attrs["persisted_rdds_left"] = self._persisted() - rdds0
            self.spans.append(sp)

    @contextlib.contextmanager
    def patched(self):
        """Wrap the package entry points that the workloads reach only
        through other package code (the SQL front end, txlog log replay and
        MERGE) in spans; the originals are restored on exit."""
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
            pipeline,
        )
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources import (
            txlog,
        )

        tracer = self
        orig_sql = pipeline.Warehouse.sql
        orig_snapshot = txlog.TableLog.snapshot
        orig_merge = txlog.TableLog.merge

        def sql(self, query: str):
            verb = query.split(None, 1)[0].lower() if query.strip() else ""
            if verb not in ("merge", "update", "delete", "insert"):
                return orig_sql(self, query)
            with tracer.span(f"plans.pipeline.sql.{verb}"):
                return orig_sql(self, query)

        def snapshot(self, version=None):
            with tracer.span("sources.txlog.snapshot"):
                return orig_snapshot(self, version)

        def merge(self, *args, **kwargs):
            with tracer.span("sources.txlog.merge") as attrs:
                out = orig_merge(self, *args, **kwargs)
                attrs["files_rewritten"] = out.get("files_rewritten", 0)
                attrs["rows_written"] = out.get("rows_written", 0)
                return out

        pipeline.Warehouse.sql = sql
        txlog.TableLog.snapshot = snapshot
        txlog.TableLog.merge = merge
        try:
            yield
        finally:
            pipeline.Warehouse.sql = orig_sql
            txlog.TableLog.snapshot = orig_snapshot
            txlog.TableLog.merge = orig_merge


@dataclass
class GroupStats:
    jobs: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Fold a Spark JSON event log into per-job-group statistics: job
    intervals (seconds since the epoch) and task metric sums."""
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str | None] = {}
    stats: dict[str, GroupStats] = {}

    def group(gid: str | None) -> GroupStats | None:
        if gid is None:
            return None
        return stats.setdefault(gid, GroupStats())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = gid
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerJobEnd":
                g = group(job_group.get(ev["Job ID"]))
                if g is not None and ev["Job ID"] in job_start:
                    g.jobs.append(
                        (job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageSubmitted":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = gid
            elif kind == "SparkListenerTaskEnd":
                g = group(stage_group.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                g.tasks += 1
                g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.gc_s += m.get("JVM GC Time", 0) / 1e3
                g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return stats


def span_fields(spans: list[Span], stats: dict[str, GroupStats]) -> dict[str, dict]:
    """Per span id: the :data:`SPAN_FIELDS` over the jobs of the span and
    all its descendants."""
    children: dict[str | None, list[Span]] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)

    def subtree(sp: Span) -> list[str]:
        ids, todo = [], [sp]
        while todo:
            s = todo.pop()
            ids.append(s.id)
            todo.extend(children.get(s.id, []))
        return ids

    out = {}
    for sp in spans:
        groups = [stats[i] for i in subtree(sp) if i in stats]
        jobs = [j for g in groups for j in g.jobs]
        out[sp.id] = {
            "wall_s": sp.end - sp.start,
            "driver_self_s": driver_self_s(sp.start, sp.end, jobs),
            "jobs": len(jobs),
            "tasks": sum(g.tasks for g in groups),
            "executor_run_s": sum(g.executor_run_s for g in groups),
            "executor_cpu_s": sum(g.executor_cpu_s for g in groups),
            "gc_s": sum(g.gc_s for g in groups),
            "input_bytes": sum(g.input_bytes for g in groups),
            "shuffle_write_bytes": sum(g.shuffle_write_bytes for g in groups),
            "spill_bytes": sum(g.spill_bytes for g in groups),
            "persisted_rdds_left": sp.attrs.get("persisted_rdds_left", 0),
        }
    return out


def layer_sums(
    spans: list[Span], fields: dict[str, dict], key=lambda sp: sp.name
) -> dict[str, dict[str, float]]:
    """Per ``key`` (the span name by default): every field and numeric
    attribute summed over its spans."""
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        acc = out.setdefault(key(sp), {})
        vals = dict(fields[sp.id])
        for k, v in sp.attrs.items():
            if isinstance(v, (int, float)) and k not in vals:
                vals[k] = v
        for k, v in vals.items():
            acc[k] = acc.get(k, 0) + v
    return out
