"""Event-log parsing on a small recorded log, time-window attribution and
the streaming-progress summary."""

import os
import shutil

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def _jobs():
    with open(FIXTURE, encoding="utf-8") as f:
        return eventlog.parse_events(f)


def test_parse_counts_jobs_stages_tasks():
    jobs = _jobs()
    assert [j["job_id"] for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert (j0["stages"], j0["tasks"]) == (1, 4)
    # job 1 lists stages 1 and 2; stage 1 was skipped (never submitted)
    assert (j1["stages"], j1["tasks"]) == (1, 1)
    assert j0["run_ms"] == 125 + 121 + 123 + 124
    assert j0["deserialize_ms"] == 55 + 63 + 60 + 59
    assert j0["gc_ms"] == 38
    assert j0["cpu_ms"] == pytest.approx((84676196 + 24205706 + 24054649 + 30646100) / 1e6)
    assert j1["shuffle_bytes"] == 236 and j0["shuffle_bytes"] == 0
    assert j0["end_ms"] - j0["submit_ms"] == 571


def test_totals_sum_counters():
    t = eventlog.totals(_jobs())
    assert (t["jobs"], t["stages"], t["tasks"]) == (2, 2, 5)
    assert t["run_ms"] == 493 + 77


def test_attribute_gives_each_job_to_innermost_window():
    j0, j1 = _jobs()
    t0, t1 = j0["submit_ms"] / 1000, j1["submit_ms"] / 1000
    windows = [
        {"id": 0, "start": t0 - 1, "end": t1 + 1},        # the pass
        {"id": 1, "start": t0 - 0.01, "end": t0 + 0.01},  # a query inside it
        {"id": 2, "start": t1 + 5, "end": t1 + 6},        # nothing ran here
    ]
    got = eventlog.attribute([j0, j1], windows)
    assert [j["job_id"] for j in got[1]] == [0]
    assert [j["job_id"] for j in got[0]] == [1]
    assert got[2] == []


def test_event_files_reads_rolling_log_parts_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (10, 2, 1):
        shutil.copy(FIXTURE, app / f"events_{n}_local-1")
    (app / "appstatus_local-1").write_text("")
    (tmp_path / "local-2.inprogress").write_text("")
    files = eventlog.event_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"]
    assert len(eventlog.read_jobs(str(tmp_path))) == 6


def _progress(batch_id, ts, rows, trigger, add, ops):
    return {
        "batchId": batch_id, "timestamp": ts, "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, "addBatch": add, "latestOffset": 30,
                       "getBatch": 10, "queryPlanning": 100, "walCommit": 20,
                       "commitOffsets": 25},
        "stateOperators": ops,
    }


def test_progress_summary_uses_batches_with_input():
    dedup = {"numRowsTotal": 5, "memoryUsedBytes": 100, "commitTimeMs": 7,
             "customMetrics": {"numDroppedDuplicateRows": 2}}
    state = {"numRowsTotal": 40, "memoryUsedBytes": 1000, "commitTimeMs": 30}
    progress = [
        _progress(0, "2026-01-01T00:00:00.000Z", 300, 3000, 2500, [dedup, state]),
        _progress(1, "2026-01-01T00:00:03.000Z", 300, 2000, 1600, [dedup, state]),
        _progress(2, "2026-01-01T00:00:05.000Z", 0, 900, 800, [dedup, state]),
    ]
    s = eventlog.progress_summary(progress)
    assert s["batches"] == 2
    assert s["add_batch_ms"] == 2050 and s["trigger_overhead_ms"] == 450
    assert s["state_rows_total"] == 45 and s["state_memory_bytes"] == 1100
    assert s["state_commit_ms"] == 37 and s["dedup_dropped_rows"] == 4
    start, end = eventlog.progress_window(progress[1])
    assert end - start == pytest.approx(2.0)
    assert eventlog.progress_summary([])["batches"] == 0
