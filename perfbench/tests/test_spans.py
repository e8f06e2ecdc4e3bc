"""Interval union, the tail-percentile rule, event-log attribution and the
per-layer sums."""

import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import (  # noqa: E402
    Span,
    driver_self_s,
    layer_sums,
    parse_event_log,
    span_fields,
    tail_percentile,
    union_length,
)


@pytest.mark.parametrize(
    "intervals, length",
    [
        ([], 0.0),
        ([(1.0, 2.0)], 1.0),
        ([(1.0, 2.0), (3.0, 5.0)], 3.0),
        ([(1.0, 4.0), (2.0, 3.0)], 3.0),
        ([(1.0, 3.0), (2.0, 5.0), (5.0, 6.0)], 5.0),
        ([(3.0, 5.0), (1.0, 2.0), (1.5, 3.5)], 4.0),
        ([(2.0, 2.0), (4.0, 3.0)], 0.0),
    ],
)
def test_union_length(intervals, length):
    assert union_length(intervals) == pytest.approx(length)


def test_driver_self_clips_jobs_to_the_span():
    # jobs overlap each other and stick out of the span on both sides
    jobs = [(0.0, 2.0), (1.5, 3.0), (7.0, 12.0)]
    assert driver_self_s(1.0, 10.0, jobs) == pytest.approx(9.0 - 2.0 - 3.0)
    assert driver_self_s(1.0, 10.0, []) == pytest.approx(9.0)
    assert driver_self_s(4.0, 6.0, jobs) == pytest.approx(2.0)


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile(list(range(99)), 0.9) is None
    assert tail_percentile(list(range(100)), 0.9) == 89
    values = list(range(1000, 0, -1))
    p90 = tail_percentile(values, 0.9)
    assert p90 == 900
    assert sum(v > p90 for v in values) >= 10
    assert tail_percentile([], 0.9) is None
    assert tail_percentile(list(range(10)), 0.5) is None
    assert tail_percentile(list(range(20)), 0.5) == 9


def test_parse_event_log_fixture():
    """The fixture is a trimmed event log of a local[2] session: job group
    ``g:0`` ran one count (two jobs), ``g:1`` a two-stage aggregation, and
    one job ran outside any group."""
    stats = parse_event_log(os.path.join(HERE, "eventlog_fixture.jsonl"))
    assert set(stats) == {"g:0", "g:1"}
    g0, g1 = stats["g:0"], stats["g:1"]
    assert len(g0.jobs) == 2 and len(g1.jobs) == 1
    assert g0.tasks == 3 and g1.tasks == 4
    assert all(b >= a > 1.7e9 for a, b in g0.jobs + g1.jobs)
    assert g1.shuffle_write_bytes > 0
    assert g1.executor_run_s > 0 and g1.executor_cpu_s > 0
    assert g0.spill_bytes == g1.spill_bytes == 0
    assert g0.input_bytes > 0


def test_span_fields_count_descendant_jobs():
    from spans import GroupStats

    spans = [
        Span("r:0", "plans.registry.build", "r:1", 1.0, 2.0),
        Span("r:1", "plans.registry", None, 0.0, 4.0, {"module": "operators.text"}),
        Span("r:2", "plans.registry", None, 5.0, 6.0, {"module": "operators.text"}),
    ]
    stats = {
        "r:0": GroupStats(jobs=[(1.2, 1.8)], tasks=2, executor_run_s=1.0),
        "r:1": GroupStats(jobs=[(2.5, 3.5)], tasks=1, executor_run_s=0.5),
        "r:2": GroupStats(jobs=[(5.0, 5.5)], tasks=1, executor_run_s=0.25),
    }
    fields = span_fields(spans, stats)
    assert fields["r:1"]["jobs"] == 2 and fields["r:1"]["tasks"] == 3
    assert fields["r:1"]["driver_self_s"] == pytest.approx(4.0 - 0.6 - 1.0)
    assert fields["r:0"]["jobs"] == 1

    by_name = layer_sums(spans, fields)
    assert by_name["plans.registry"]["wall_s"] == pytest.approx(4.0 + 1.0)
    assert by_name["plans.registry"]["executor_run_s"] == pytest.approx(1.75)
    by_module = layer_sums(spans, fields, key=lambda s: s.attrs.get("module"))
    assert by_module["operators.text"]["jobs"] == 3
    assert math.isclose(by_module[None]["wall_s"], 1.0)
