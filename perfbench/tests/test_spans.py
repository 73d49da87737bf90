"""Event-log parsing, span attribution and self time."""

import json
import os

import pytest
from spans import Span, SpanCost, Tracer, attribute, parse_event_log, self_times, union_length

DATA = os.path.join(os.path.dirname(__file__), "data", "serve_call_eventlog.jsonl")
# the serve.call span the recorded jobs ran under (span id 0 -> group pb-0)
CALL = Span(0, "serve.call", 1792205095.5237415, 1792205095.9162092, None, "serial-0", 1)


def recorded_jobs():
    with open(DATA) as f:
        return parse_event_log(f)


def test_parser_reads_recorded_jobs_stages_and_task_metrics():
    jobs = recorded_jobs()
    assert [j.job_id for j in jobs] == [71, 72, 73]
    assert all(j.group == "pb-0" for j in jobs)
    assert jobs[1].submitted == pytest.approx(1792205095.784)
    assert jobs[1].completed == pytest.approx(1792205095.858)
    # job 73 lists stage 95 but Spark skipped it (no submission): not counted
    assert [s.stage_id for s in jobs[2].stages] == [96]
    st = jobs[1].stages[0]
    assert (st.tasks, st.failed_tasks) == (1, 0)
    assert st.executor_run_s == pytest.approx(0.053)
    assert (st.input_bytes, st.shuffle_write_bytes, st.shuffle_read_bytes) == (2398, 122, 0)
    assert jobs[2].stages[0].shuffle_read_bytes == 122


def test_attribution_by_job_group_and_sched_gap():
    costs = attribute([CALL], recorded_jobs())
    c = costs[0]
    assert (c.jobs, c.stages, c.tasks) == (3, 3, 3)
    busy = (0.612 - 0.582) + (0.858 - 0.785) + (0.907 - 0.884)
    assert c.sched_gap_s(CALL) == pytest.approx(CALL.wall - busy, abs=1e-6)


def _job_lines(job_id, stage_id, submitted_ms, group=None, reason="Success"):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": submitted_ms,
         "Stage IDs": [stage_id], "Properties": props},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": stage_id, "Stage Attempt ID": 0, "Submission Time": submitted_ms}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": reason},
         "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 5 * 10**7,
                          "JVM GC Time": 10, "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage_id, "Stage Attempt ID": 0,
                        "Submission Time": submitted_ms, "Completion Time": submitted_ms + 200}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": submitted_ms + 200},
    ]


def test_ungrouped_jobs_go_to_innermost_open_span():
    outer = Span(0, "drain.unit", 100.0, 110.0, None, "pass-0", 1)
    inner = Span(1, "drain.pass", 101.0, 105.0, 0, "pass-0", 1)
    other = Span(2, "batch.query.tpch", 50.0, 60.0, None, "pass-0", 1)
    lines = (
        _job_lines(1, 1, 102_000)  # inside inner -> inner
        + _job_lines(2, 2, 106_000, reason="ExceptionFailure")  # outer only
        + _job_lines(3, 3, 103_000, group="pb-2")  # group wins over time
        + _job_lines(4, 4, 200_000)  # outside every span -> dropped
    )
    jobs = parse_event_log(json.dumps(x) for x in lines)
    costs = attribute([outer, inner, other], jobs)
    assert costs[1].jobs == 1 and costs[0].jobs == 1 and costs[2].jobs == 1
    assert costs[0].failed_tasks == 1 and costs[1].failed_tasks == 0
    assert costs[1].spill_bytes == 10
    assert costs[1].executor_cpu_s == pytest.approx(0.05)
    assert costs[1].gc_s == pytest.approx(0.01)
    assert sum(c.jobs for c in costs.values()) == 3


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "p", 0.0, 10.0, None, "g", 1),
        Span(1, "a", 1.0, 4.0, 0, "g", 1),
        Span(2, "b", 3.0, 6.0, 0, "g", 2),  # overlaps a (another thread)
        Span(3, "c", 8.0, 9.0, 0, "g", 1),
        Span(4, "d", 1.5, 2.0, 1, "g", 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_nests_and_shares_group():
    tr = Tracer()
    with tr.span("pass", group="pass-0"):
        with tr.span("query", label="q3"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and inner.group == "pass-0" and inner.label == "q3"
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_sched_gap_clips_stages_to_span():
    span = Span(0, "x", 10.0, 20.0, None, "g", 1)
    c = SpanCost(stage_intervals=[(8.0, 12.0), (11.0, 13.0), (19.0, 25.0)])
    assert c.sched_gap_s(span) == pytest.approx(10.0 - 3.0 - 1.0)
