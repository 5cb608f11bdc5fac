"""Span self time and the event-log parser.

``data/eventlog_q_knn_join.jsonl`` was recorded with Spark 4.1.2 from two
real registry keys run at sf0.001 in one traced session, each under its
own job group (``q_knn_join``, then ``q_agg_groupby``), and cut down to
the listener events the parser reads (job start/end, stage completed,
task end). q_knn_join's probe runs an applyInPandas stage, so its tasks
carry the Python-worker accumulables; q_agg_groupby's do not.
"""

import os

import pytest

from perfbench.tracing import (
    GroupStats,
    Span,
    Tracer,
    merge,
    outside_jobs_s,
    parse_event_log,
    self_times,
)

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_q_knn_join.jsonl")


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "op1"),
        Span(1, "child", 1.0, 4.0, 0, "op1"),
        Span(2, "child", 3.0, 5.0, 0, "op1"),  # overlaps the first child
        Span(3, "grandchild", 1.5, 2.0, 1, "op1"),
        Span(4, "late", 9.0, 12.0, 0, "op1"),  # ends after its parent
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(2.0)
    assert own[3] == pytest.approx(0.5)


def test_tracer_nests_and_disabled_records_nothing():
    tr = Tracer(True)
    with tr.op("api.lookup"):
        with tr.span("api.save"):
            pass
    top, child = tr.spans
    assert top.parent is None and child.parent == top.id
    assert top.op_id == child.op_id == "op1:api.lookup"
    off = Tracer(False)
    with off.op("x"), off.span("y"):
        pass
    assert off.spans == []


@pytest.fixture(scope="module")
def groups():
    with open(LOG) as f:
        return parse_event_log(f)


def test_event_log_attributes_jobs_and_stages_by_job_group(groups):
    assert set(groups) == {"q_knn_join", "q_agg_groupby"}
    knn, agg = groups["q_knn_join"], groups["q_agg_groupby"]
    assert (knn.jobs, knn.stages, knn.tasks) == (4, 4, 4)
    assert (agg.jobs, agg.stages, agg.tasks) == (5, 5, 5)
    assert len(knn.job_spans) == 4 and all(e >= s for s, e in knn.job_spans)
    # every job of one group finished before the next group's first job
    assert max(e for _, e in knn.job_spans) <= min(s for s, _ in agg.job_spans)


def test_event_log_task_metrics(groups):
    knn, agg = groups["q_knn_join"], groups["q_agg_groupby"]
    assert knn.run_ms == 5000 and knn.cpu_ns == 1929640644
    assert (knn.input_records, knn.input_bytes, knn.scan_tasks) == (1000, 4144, 2)
    assert knn.shuffle_write_bytes == 685419
    assert (agg.input_records, agg.scan_tasks) == (6000, 1)


def test_event_log_python_accumulables(groups):
    assert groups["q_knn_join"].python == {
        "start_ms": 1638,
        "init_ms": 859,
        "run_ms": 2780,
        "bytes_sent": 782880,
        "bytes_returned": 62896,
    }
    assert not any(groups["q_agg_groupby"].python.values())


def test_merge_and_skew():
    a, b = GroupStats(jobs=1, tasks=2), GroupStats(jobs=2, tasks=3)
    a.stage_reads[1] = [10, 10, 40]
    b.stage_reads[2] = [5, 5]
    m = merge([a, b])
    assert (m.jobs, m.tasks) == (3, 5)
    assert m.skew() == pytest.approx(4.0)


def test_outside_jobs_time(groups):
    g = GroupStats(job_spans=[(1.0, 2.0), (1.5, 3.0), (9.0, 11.0)])
    span = Span(0, "op", 0.0, 10.0, None, "op1")
    assert outside_jobs_s(span, g) == pytest.approx(10.0 - 2.0 - 1.0)
    assert outside_jobs_s(span, None) == pytest.approx(10.0)
