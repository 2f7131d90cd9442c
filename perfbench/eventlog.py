"""Fold a Spark event log (uncompressed, non-rolling JSON lines) into
per-label task metrics.

A job's label is its ``spark.job.description``, which the benchmark sets
around each call.  Streaming micro-batches run on the stream's own thread and
do not inherit the caller's description; their jobs carry the
``sql.streaming.queryId`` and ``streaming.sql.batchId`` properties instead
and are labelled ``stream:<query id>:<batch id>``; the jobs a foreachBatch
function starts carry neither.  So a caller may pass time windows (label,
start ms, end ms): a job submitted inside a window takes the window's label.
A job with none of these is labelled ``unlabelled``.
"""

from __future__ import annotations

import json
from collections import defaultdict

TIME_FIELDS = {  # task metric -> (output name, divisor to seconds)
    "Executor Run Time": ("run_s", 1e3),
    "Executor CPU Time": ("cpu_s", 1e9),
    "JVM GC Time": ("gc_s", 1e3),
}
PYTHON_ACCUMULABLES = {
    "time to start Python workers": ("python_worker_start_s", 1e3),
    "time to initialize Python workers": ("python_worker_start_s", 1e3),
    "time to run Python workers": ("python_run_s", 1e3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_returned", 1),
}
FIELDS = (
    "tasks", "tasks_failed", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes",
    "python_worker_start_s", "python_run_s", "python_bytes_sent",
    "python_bytes_returned", "jobs", "job_s",
)


def job_label(props: dict) -> str:
    batch = props.get("streaming.sql.batchId")
    if batch is not None:
        return f"stream:{props.get('sql.streaming.queryId')}:{batch}"
    return props.get("spark.job.description") or "unlabelled"


def fold(path: str, windows=()) -> dict[str, dict[str, float]]:
    """Per-label sums of the task metrics in FIELDS.  `peak_exec_mem_bytes`
    is the largest single task's peak, not a sum; `job_s` sums job wall
    times, so concurrent jobs count once each."""
    stage_label: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"]
                label = next((w for w, lo, hi in windows if lo <= t <= hi), None) or job_label(
                    ev.get("Properties") or {})
                for sid in ev["Stage IDs"]:
                    stage_label.setdefault(sid, label)
                job_start[ev["Job ID"]] = (label, ev["Submission Time"])
            elif kind == "SparkListenerJobEnd":
                label, t0 = job_start.pop(ev["Job ID"], ("unlabelled", ev["Completion Time"]))
                out[label]["jobs"] += 1
                out[label]["job_s"] += (ev["Completion Time"] - t0) / 1e3
            elif kind == "SparkListenerTaskEnd":
                agg = out[stage_label.get(ev["Stage ID"], "unlabelled")]
                agg["tasks"] += 1
                if ev["Task Info"].get("Failed"):
                    agg["tasks_failed"] += 1
                tm = ev.get("Task Metrics") or {}
                for field, (name, div) in TIME_FIELDS.items():
                    agg[name] += tm.get(field, 0) / div
                agg["shuffle_read_bytes"] += sum(
                    (tm.get("Shuffle Read Metrics") or {}).get(k, 0)
                    for k in ("Local Bytes Read", "Remote Bytes Read")
                )
                agg["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                agg["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                agg["peak_exec_mem_bytes"] = max(
                    agg["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0)
                )
                for acc in ev["Task Info"].get("Accumulables") or []:
                    hit = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                    if hit:
                        agg[hit[0]] += float(acc.get("Update") or 0) / hit[1]
    return dict(out)


def total(folded: dict[str, dict[str, float]], labels=None) -> dict[str, float]:
    """Sum of `folded` over `labels` (all labels when None)."""
    acc = dict.fromkeys(FIELDS, 0.0)
    for label, agg in folded.items():
        if labels is not None and label not in labels:
            continue
        for k, v in agg.items():
            acc[k] = max(acc[k], v) if k == "peak_exec_mem_bytes" else acc[k] + v
    return acc
