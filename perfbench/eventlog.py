"""Fold a Spark event log into per-operation engine numbers.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
set. This module reads the job, stage and task events and sums, per
operation of the benchmark:

- jobs, completed stages and their tasks;
- executor run time, CPU time and GC time;
- shuffle bytes read and written, bytes spilled;
- the Python-worker SQL metrics (time to run the workers, bytes sent to
  and returned from them);
- failed task attempts;
- the driver gap: the operation's wall time minus the part of it that
  some job was running, i.e. planning and driver-side Python.

A job belongs to the operation named by its job group
(``SparkContext.setJobGroup``). Jobs from other threads carry another
group (a streaming query tags its jobs with its run id); they go to the
operation whose span contains the job's submission time.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_run_s", "python_sent_bytes", "python_returned_bytes",
    "failed_tasks", "driver_gap_s",
)

# stage accumulable name -> (engine key, scale to the key's unit)
_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_sent_bytes", 1),
    "data returned from Python workers": ("python_returned_bytes", 1),
}


def read_events(path: str) -> list[dict]:
    """Parse an uncompressed event log; a torn last line (log still being
    written) is skipped."""
    out = []
    with open(path) as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                continue
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def fold(events: Iterable[dict],
         spans: dict[str, tuple[int, int]]) -> dict[str, dict[str, float]]:
    """Per-operation engine numbers.

    ``spans`` maps each operation name to its (start, end) wall-clock
    interval in epoch milliseconds, as recorded around the call. Returns
    ``{op: {key: value}}`` with every key of ``ENGINE_KEYS``; events that
    fall in no span are ignored.
    """
    out = {op: dict.fromkeys(ENGINE_KEYS, 0) for op in spans}
    job_op: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_op: dict[int, str] = {}
    job_intervals: dict[str, list[tuple[int, int]]] = {op: [] for op in spans}

    def by_time(t: int) -> str | None:
        for op, (a, b) in spans.items():
            if a <= t <= b:
                return op
        return None

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            op = group if group in spans else by_time(e["Submission Time"])
            if op is None:
                continue
            job_op[e["Job ID"]] = op
            job_start[e["Job ID"]] = e["Submission Time"]
            for sid in e.get("Stage IDs", []):
                stage_op[sid] = op
            out[op]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            op = job_op.get(e["Job ID"])
            if op is not None:
                job_intervals[op].append(
                    (job_start[e["Job ID"]], e["Completion Time"])
                )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            op = stage_op.get(info["Stage ID"])
            if op is None:
                continue
            rec = out[op]
            rec["stages"] += 1
            rec["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                hit = _STAGE_ACCUMS.get(acc.get("Name"))
                if hit is not None:
                    key, scale = hit
                    rec[key] += float(acc.get("Value") or 0) * scale
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e.get("Stage ID"))
            reason = (e.get("Task End Reason") or {}).get("Reason")
            if op is not None and reason != "Success":
                out[op]["failed_tasks"] += 1

    for op, (a, b) in spans.items():
        clipped = [(max(s, a), min(t, b)) for s, t in job_intervals[op]]
        busy = _union_ms([(s, t) for s, t in clipped if t > s])
        out[op]["driver_gap_s"] = max(0, (b - a) - busy) / 1000.0
    return out


def total(per_op: dict[str, dict[str, float]]) -> dict[str, float]:
    """Sum every engine key over the operations."""
    return {
        k: sum(rec[k] for rec in per_op.values()) for k in ENGINE_KEYS
    }
