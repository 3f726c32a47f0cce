"""Unit tests for the benchmark's pure logic; no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    assert harness.tail_percentile(100) == 90.0
    assert harness.tail_percentile(200) == 95.0
    assert harness.tail_percentile(1000) == 99.0
    assert harness.tail_percentile(10) == 0.0
    for n in (11, 37, 100, 512):
        p = harness.tail_percentile(n)
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > harness.percentile(xs, p))
        assert beyond >= 10


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert harness.percentile(xs, 0) == 1.0
    assert harness.percentile(xs, 100) == 4.0
    assert harness.percentile(xs, 50) == 2.5
    assert harness.percentile([7.0], 90) == 7.0


def test_union_length_merges_and_clips():
    assert tracing.union_length([], 0, 10) == 0.0
    assert tracing.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5.0
    assert tracing.union_length([(-5, 2), (9, 20)], 0, 10) == 3.0
    assert tracing.union_length([(11, 12)], 0, 10) == 0.0


def _span(i, start, end, parent=None, layer=None):
    return Span(f"r-{i}", f"s{i}", layer, parent, "r", start, end)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, "r-1", "format"),
        _span(3, 2.0, 5.0, "r-1", "format"),  # overlaps span 2
        _span(4, 7.0, 8.0, "r-1", "embed"),
        _span(5, 7.5, 7.75, "r-4"),
    ]
    st = tracing.self_times(spans)
    assert st["r-1"] == pytest.approx(5.0)
    assert st["r-2"] == pytest.approx(2.0)
    assert st["r-4"] == pytest.approx(0.75)
    by_layer = tracing.layer_self_times(spans)
    assert by_layer["format"] == pytest.approx(5.0)
    assert by_layer["s1"] == pytest.approx(5.0)


def _ev(**kw):
    return json.dumps(kw)


EVENT_LOG = [
    _ev(**{"Event": "SparkListenerApplicationStart", "Timestamp": 0}),
    # job 0: span r-2, one stage, two tasks
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
           "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "r-2"}}),
    _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
           "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000},
                            "Input Metrics": {"Bytes Read": 1_000_000, "Records Read": 40}}}),
    _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": True},
           "Task Metrics": {"Executor CPU Time": 1_000_000_000, "Disk Bytes Spilled": 5_000_000,
                            "Output Metrics": {"Bytes Written": 2_000_000}}}),
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_500}),
    # job 1: same span, reuses stage 0 (skipped) and runs stage 1
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_400,
           "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r-2"}}),
    _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": False},
           "Task Metrics": {"Executor CPU Time": 500_000_000}}),
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2_000}),
    # job 2: no job group, inside the timed window
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2_500,
           "Stage IDs": [2], "Properties": {}}),
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2_600}),
    # job 3: no job group, before the timed window (set-up)
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 100,
           "Stage IDs": [3]}),
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 200}),
]


def test_job_group_attribution_and_layer_metrics():
    jobs, tasks = tracing.parse_event_log(EVENT_LOG)
    assert sorted(jobs) == [0, 1, 2, 3]
    assert jobs[0].group == "r-2" and jobs[2].group is None
    spans = [_span(1, 0.5, 3.0), _span(2, 0.8, 2.2, "r-1", "sources")]
    spans[1].results = 10
    unattributed = tracing.attribute_jobs(spans, jobs, [(0.5, 3.0)])
    assert unattributed == [2]
    assert spans[1].jobs == [0, 1]
    assert spans[0].jobs == []

    m = tracing.layer_metrics(spans, jobs, tasks)
    assert m["sources.jobs"] == 2
    assert m["sources.tasks"] == 3  # stage 0 counted once, for job 0
    assert m["sources.wall_s"] == pytest.approx(1.4)
    # jobs cover [1.0, 2.0] of the span [0.8, 2.2]
    assert m["sources.driver_s"] == pytest.approx(0.4)
    assert m["sources.executor_cpu_s"] == pytest.approx(3.5)
    assert m["sources.shuffle_write_mb"] == pytest.approx(3.0)
    assert m["sources.failed_tasks"] == 1
    assert m["format.jobs"] == 0
    assert m["format.output_mb_per_input_mb"] == 0.0


def test_ratio_metrics():
    jobs, tasks = tracing.parse_event_log(EVENT_LOG)
    spans = [_span(1, 0.8, 2.2, None, "operators.similarity")]
    spans[0].results = 10
    spans[0].jobs = [0, 1]
    m = tracing.layer_metrics(spans, jobs, tasks)
    assert m["operators.similarity.records_read_per_result"] == pytest.approx(4.0)
    spans[0].layer = "format"
    m = tracing.layer_metrics(spans, jobs, tasks)
    assert m["format.output_mb_per_input_mb"] == pytest.approx(2.0)


def test_tracer_sets_and_restores_job_groups():
    calls = []
    tr = tracing.Tracer("r", enabled=True, set_group=calls.append)
    with tr.span("unit"):
        with tr.span("call", "format") as s:
            pass
    assert calls == ["r-1", "r-2", "r-1", None]
    assert [x.id for x in tr.spans] == ["r-2", "r-1"]
    assert s.parent == "r-1" and s.wall >= 0

    off = tracing.Tracer("r", enabled=False, set_group=calls.append)
    with off.span("call", "format") as s:
        pass
    assert off.spans == [] and len(calls) == 4 and s.wall >= 0


@pytest.mark.parametrize("name", ["wall_s", "operators.sq8.jobs", "9x", "a-b_c.d"])
def test_metric_name_accepted(name):
    assert tracing.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"])
def test_metric_name_rejected(name):
    with pytest.raises(ValueError):
        tracing.check_name(name)


def test_per_layer_names_valid_unique_and_bounded():
    names = tracing.per_layer_metric_names()
    assert len(names) == len(set(names)) <= 128
    assert "session.wall_s" in names and "operators.dedup.spill_mb" in names
