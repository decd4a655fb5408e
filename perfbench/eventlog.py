"""Reader for Spark's uncompressed JSON event log and for streaming progress.

Jobs are attributed to benchmark spans by time window: the benchmark runs one
client doing one thing at a time, so a job submitted inside a span's interval
belongs to that span even when the thread that submitted it carried no job
group.  Times in the event log are epoch milliseconds from the driver JVM's
clock, the same clock as Python's ``time.time()``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from datetime import datetime

TASK_FIELDS = ("run_ms", "cpu_ms", "deserialize_ms", "gc_ms", "input_bytes", "shuffle_bytes")


def event_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``: plain
    files, or the ``eventlog_v2_*/events_<n>_*`` parts of a rolling log in
    part order."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            out += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not entry.startswith(".") and not entry.endswith((".inprogress", ".crc")):
            out.append(path)
    return out


def parse_events(lines) -> list[dict]:
    """Jobs of one event stream with their stage/task counters.

    Skipped stages (listed by a job but never submitted) are not counted;
    a stage shared by several jobs counts for the first job that lists it.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            j = {
                "job_id": e["Job ID"],
                "submit_ms": e["Submission Time"],
                "end_ms": None,
                "stages": 0,
                "tasks": 0,
                **{f: 0 for f in TASK_FIELDS},
            }
            jobs[j["job_id"]] = j
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, j["job_id"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid in jobs:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if jid not in jobs or not m:
                continue
            j = jobs[jid]
            j["tasks"] += 1
            j["run_ms"] += m.get("Executor Run Time", 0)
            j["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            j["deserialize_ms"] += m.get("Executor Deserialize Time", 0)
            j["gc_ms"] += m.get("JVM GC Time", 0)
            j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            j["shuffle_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return sorted(jobs.values(), key=lambda j: j["submit_ms"])


def read_jobs(log_dir: str) -> list[dict]:
    jobs = []
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            jobs += parse_events(f)
    return sorted(jobs, key=lambda j: j["submit_ms"])


def attribute(jobs: list[dict], windows: list[dict]) -> dict[int, list[dict]]:
    """Window id → jobs submitted inside it, each job given to the
    innermost (shortest) window containing its submission time.  Windows
    carry ``id``, ``start`` and ``end`` in epoch seconds."""
    out: dict[int, list[dict]] = {w["id"]: [] for w in windows}
    by_len = sorted(windows, key=lambda w: w["end"] - w["start"])
    for j in jobs:
        t = j["submit_ms"] / 1000.0
        for w in by_len:
            if w["start"] <= t <= w["end"]:
                out[w["id"]].append(j)
                break
    return out


def totals(jobs: list[dict]) -> dict[str, float]:
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, **{f: 0 for f in TASK_FIELDS}}
    for j in jobs:
        for k in ("stages", "tasks", *TASK_FIELDS):
            out[k] += j[k]
    return out


def progress_window(p: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of one StreamingQueryProgress."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def median_or_zero(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def progress_summary(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the engine's own ``durationMs`` phases and the
    state operators' size/commit figures, over batches that read input."""
    batches = data_batches(progress)

    def dur(key: str) -> list[float]:
        return [float(p["durationMs"].get(key, 0)) for p in batches]

    ops = [op for p in batches for op in (p.get("stateOperators") or [])]
    last_ops = (batches[-1].get("stateOperators") or []) if batches else []
    dropped = sum(
        (op.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0) for op in ops
    )
    return {
        "batches": len(batches),
        "latest_offset_ms": median_or_zero(dur("latestOffset")),
        "get_batch_ms": median_or_zero(dur("getBatch")),
        "add_batch_ms": median_or_zero(dur("addBatch")),
        "query_planning_ms": median_or_zero(dur("queryPlanning")),
        "wal_commit_ms": median_or_zero(dur("walCommit")),
        "commit_offsets_ms": median_or_zero(dur("commitOffsets")),
        "trigger_overhead_ms": median_or_zero(
            [float(p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0))
             for p in batches]
        ),
        "state_rows_total": float(sum(op.get("numRowsTotal", 0) for op in last_ops)),
        "state_memory_bytes": float(sum(op.get("memoryUsedBytes", 0) for op in last_ops)),
        "state_commit_ms": median_or_zero(
            [float(sum(op.get("commitTimeMs", 0) for op in (p.get("stateOperators") or [])))
             for p in batches]
        ),
        "dedup_dropped_rows": float(dropped),
        "rows_per_batch": median_or_zero([float(p["numInputRows"]) for p in batches]),
    }
