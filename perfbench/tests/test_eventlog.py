"""The event-log fold over a small committed log.

``data/eventlog.jsonl`` is the job, stage and task events of a real local
Spark run, cut down to the fields the fold reads: two jobs tagged
``op_a`` (a mapInPandas stage feeding an aggregation; job 1 lists a
skipped stage that never completes) and two jobs tagged ``op_b``.
"""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")
OP_A = (1792241489000, 1792241496800)
STREAM = (1792241497000, 1792241498000)


@pytest.fixture(scope="module")
def events():
    return eventlog.read_events(LOG)


def test_jobs_follow_their_group_and_stage_metrics_sum(events):
    rec = eventlog.fold(events, {"op_a": OP_A})["op_a"]
    assert rec["jobs"] == 2
    assert rec["stages"] == 2  # the skipped stage 1 never completes
    assert rec["tasks"] == 5
    assert rec["task_s"] == pytest.approx((19858 + 214) / 1000)
    assert rec["task_cpu_s"] == pytest.approx((1376886906 + 113902682) / 1e9)
    assert rec["gc_s"] == pytest.approx((348 + 8) / 1000)
    assert rec["shuffle_write_bytes"] == 1141
    assert rec["shuffle_read_bytes"] == 1141
    assert rec["spill_bytes"] == 0
    assert rec["python_run_s"] == pytest.approx(17.313)
    assert rec["python_sent_bytes"] == 165760
    assert rec["python_returned_bytes"] == 320896
    assert rec["failed_tasks"] == 0


def test_driver_gap_is_span_minus_job_time(events):
    rec = eventlog.fold(events, {"op_a": OP_A})["op_a"]
    busy = (1792241495889 - 1792241489796) + (1792241496574 - 1792241496104)
    assert rec["driver_gap_s"] == pytest.approx((OP_A[1] - OP_A[0] - busy) / 1000)


def test_untagged_jobs_go_to_the_span_that_contains_them(events):
    # op_b's group names no span here, as for a streaming query's jobs
    per_op = eventlog.fold(events, {"op_a": OP_A, "stream": STREAM})
    assert per_op["stream"]["jobs"] == 2
    assert per_op["stream"]["tasks"] == 5
    assert per_op["stream"]["shuffle_write_bytes"] == 535
    busy = (1792241497521 - 1792241497302) + (1792241497820 - 1792241497668)
    assert per_op["stream"]["driver_gap_s"] == pytest.approx(
        (STREAM[1] - STREAM[0] - busy) / 1000)
    assert eventlog.total(per_op)["jobs"] == 4


def test_failed_task_attempts_are_counted(events):
    failed = {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
              "Task End Reason": {"Reason": "ExceptionFailure"}}
    rec = eventlog.fold(events + [failed], {"op_a": OP_A})["op_a"]
    assert rec["failed_tasks"] == 1


def test_torn_last_line_is_skipped(tmp_path):
    with open(LOG) as f:
        text = f.read()
    torn = tmp_path / "log"
    torn.write_text(text + '{"Event": "SparkListenerJobSt')
    assert len(eventlog.read_events(str(torn))) == text.count("\n")
