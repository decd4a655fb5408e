"""Per-layer metrics of a traced run, from the benchmark's spans, the
streaming progress and the Spark event log.

``PER_LAYER`` is the metric → layer → end-to-end map of the README; each
entry names the end-to-end metric and workload it should move.  Every
traced run reports every metric; a layer a workload does not exercise
reports 0.
"""

from __future__ import annotations

import eventlog
from spans import layer_self_times, self_times

# name, unit, better, (end-to-end metric it should move, on workload)
PER_LAYER = [
    ("sources.latest_offset_ms", "ms", "lower", "replay throughput_ticks_per_s"),
    ("sources.get_batch_ms", "ms", "lower", "replay throughput_ticks_per_s"),
    ("sources.input_lag_ms", "ms", "lower", "replay latency_p50_s"),
    ("sources.load_ms", "ms", "lower", "dashboard refresh_s"),
    ("sources.rows_per_batch", "count", "higher", "context only"),
    ("streaming.add_batch_ms", "ms", "lower", "replay throughput_ticks_per_s"),
    ("streaming.state_rows_total", "count", "lower", "replay throughput_ticks_per_s"),
    ("streaming.state_memory_bytes", "bytes", "lower", "replay throughput_ticks_per_s"),
    ("streaming.state_commit_ms", "ms", "lower", "replay throughput_ticks_per_s"),
    ("streaming.query_planning_ms", "ms", "lower", "replay batch_p50_s"),
    ("streaming.wal_commit_ms", "ms", "lower", "replay batch_p50_s"),
    ("streaming.commit_offsets_ms", "ms", "lower", "replay batch_p50_s"),
    ("streaming.trigger_overhead_ms", "ms", "lower", "replay batch_p50_s"),
    ("streaming.jobs_per_batch", "count", "lower", "replay batch_p50_s"),
    ("streaming.tasks_per_batch", "count", "lower", "replay batch_p50_s"),
    ("streaming.batches", "count", "higher", "context only"),
    ("streaming.dedup_dropped_rows", "count", "lower", "context only"),
    ("operators.indicators.frame_calls", "count", "lower", "context only"),
    ("operators.indicators.frame_ms", "ms", "lower",
     "replay throughput_ticks_per_s; dashboard latency_p90_s (flagship)"),
    ("operators.indicators.frame_s_total", "s", "lower", "replay throughput_ticks_per_s"),
    ("plans.build_ms", "ms", "lower", "dashboard refresh_s"),
    ("plans.plan_ms", "ms", "lower", "dashboard refresh_s"),
    ("plans.exec_ms", "ms", "lower", "dashboard refresh_s, latency_p50_s"),
    ("plans.jobs", "count", "lower", "dashboard refresh_s"),
    ("plans.stages", "count", "lower", "dashboard refresh_s"),
    ("plans.tasks", "count", "lower", "dashboard refresh_s"),
    ("ml.arima_train_ms", "ms", "lower", "forecast job_s"),
    ("ml.linreg_train_ms", "ms", "lower", "forecast job_s"),
    ("ml.save_ms", "ms", "lower", "forecast job_s"),
    ("ml.load_ms", "ms", "lower", "forecast job_s"),
    ("ml.score_ms", "ms", "lower", "forecast job_s"),
    ("ml.model_bytes", "bytes", "lower", "forecast job_s"),
    ("exec.task_run_ms", "ms", "lower", "each workload's unit time (refresh_s / job_s)"),
    ("exec.task_cpu_ms", "ms", "lower", "each workload's unit time (refresh_s / job_s)"),
    ("exec.task_deserialize_ms", "ms", "lower", "each workload's unit time (refresh_s / job_s)"),
    ("exec.gc_ms", "ms", "lower", "each workload's unit time (refresh_s / job_s)"),
    ("exec.input_bytes", "bytes", "lower", "each workload's unit time (refresh_s / job_s)"),
    ("exec.shuffle_bytes", "bytes", "lower", "each workload's unit time (refresh_s / job_s)"),
]


def _med(values) -> float:
    return eventlog.median_or_zero(list(values))


def _subtree(spans: list[dict], root: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k["id"])
    return out


def _add_batch_spans(tracer, units: list[dict]) -> None:
    """Micro-batches become spans under the ``run_bounded_pipeline`` call
    that ran them (the engine's own trigger windows)."""
    for u in units:
        if "progress" not in u:
            continue
        runs = [s for s in _subtree(tracer.spans, u["span"]) if s["name"] == "run_bounded_pipeline"]
        for p in eventlog.data_batches(u["progress"]):
            start, end = eventlog.progress_window(p)
            tracer.spans.append({
                "id": len(tracer.spans), "parent": runs[0]["id"] if runs else u["span"],
                "name": f"batch{p['batchId']}", "layer": "streaming",
                "start": start, "end": end,
            })


def report(workload: str, units: list[dict], tracer, log_dir: str,
           frame_times: list[float], plain: list[dict], single: float | None) -> dict:
    jobs = eventlog.read_jobs(log_dir)
    _add_batch_spans(tracer, units)
    spans = tracer.spans
    m: dict[str, float] = {name: 0.0 for name, *_ in PER_LAYER}

    by_unit = eventlog.attribute(
        jobs, [{"id": i, "start": u["start"], "end": u["end"]} for i, u in enumerate(units)])
    per_unit = [eventlog.totals(by_unit[i]) for i in range(len(units))]
    for k in eventlog.TASK_FIELDS:
        name = {"run_ms": "task_run_ms", "cpu_ms": "task_cpu_ms",
                "deserialize_ms": "task_deserialize_ms"}.get(k, k)
        m[f"exec.{name}"] = _med(t[k] for t in per_unit)

    def top_level(sub: list[dict], layer: str) -> list[dict]:
        ids = {s["id"]: s for s in spans}
        return [s for s in sub if s["layer"] == layer
                and not (s["parent"] in ids and ids[s["parent"]]["layer"] == layer)]

    subtrees = [_subtree(spans, u["span"]) for u in units]
    m["sources.load_ms"] = _med(
        sum(s["end"] - s["start"] for s in top_level(sub, "sources")) * 1e3 for sub in subtrees
    )

    extra: dict = {}
    if "progress" in units[0]:
        summaries = [eventlog.progress_summary(u["progress"]) for u in units]
        for key in ("latest_offset_ms", "get_batch_ms", "rows_per_batch"):
            m[f"sources.{key}"] = _med(s[key] for s in summaries)
        for key in ("add_batch_ms", "state_rows_total", "state_memory_bytes", "state_commit_ms",
                    "query_planning_ms", "wal_commit_ms", "commit_offsets_ms",
                    "trigger_overhead_ms", "batches", "dedup_dropped_rows"):
            m[f"streaming.{key}"] = _med(s[key] for s in summaries)
        windows = [eventlog.progress_window(p) for u in units
                   for p in eventlog.data_batches(u["progress"])]
        by_batch = eventlog.attribute(
            jobs, [{"id": i, "start": a, "end": b} for i, (a, b) in enumerate(windows)])
        batch_jobs = [by_batch[i] for i in range(len(windows))]
        m["streaming.jobs_per_batch"] = _med(len(b) for b in batch_jobs)
        m["streaming.tasks_per_batch"] = _med(sum(j["tasks"] for j in b) for b in batch_jobs)
        # every file is present when a catch-up starts: a batch's input
        # waited from the start until the trigger that read it
        m["sources.input_lag_ms"] = _med(
            (eventlog.progress_window(p)[0] - u["start"]) * 1e3
            for u in units for p in eventlog.data_batches(u["progress"])
        )
        extra["a8_observed"] = [
            p.get("observedMetrics", {}).get("tick_metrics")
            for u in units for p in eventlog.data_batches(u["progress"])
        ]
        extra["batch_counters"] = [
            {"jobs": len(b), "stages": sum(j["stages"] for j in b),
             "tasks": sum(j["tasks"] for j in b)} for b in batch_jobs
        ]

    if frame_times:
        m["operators.indicators.frame_calls"] = float(len(frame_times))
        m["operators.indicators.frame_ms"] = _med(frame_times) * 1e3
        m["operators.indicators.frame_s_total"] = float(sum(frame_times))

    panel_spans = [s for s in spans if "query" in s]
    if panel_spans:
        by_panel = eventlog.attribute(jobs, panel_spans)
        per_pass = []
        for sub in subtrees:
            row = {k: sum(s["end"] - s["start"] for s in sub if s["name"] == k) * 1e3
                   for k in ("build", "plan", "exec")}
            pj = [j for s in sub if "query" in s for j in by_panel[s["id"]]]
            row.update({"jobs": len(pj), "stages": sum(j["stages"] for j in pj),
                        "tasks": sum(j["tasks"] for j in pj)})
            per_pass.append(row)
        for k in ("build", "plan", "exec"):
            m[f"plans.{k}_ms"] = _med(r[k] for r in per_pass)
        for k in ("jobs", "stages", "tasks"):
            m[f"plans.{k}"] = _med(r[k] for r in per_pass)
        per_query: dict[str, list[dict]] = {}
        for s in panel_spans:
            kids = _subtree(spans, s["id"])
            qj = by_panel[s["id"]]
            per_query.setdefault(s["query"], []).append({
                **{k: sum(c["end"] - c["start"] for c in kids if c["name"] == k) * 1e3
                   for k in ("build", "plan", "exec")},
                "jobs": len(qj), "stages": sum(j["stages"] for j in qj),
                "tasks": sum(j["tasks"] for j in qj),
            })
        extra["per_query"] = per_query

    if "ml" in units[0]:
        for k in ("arima_train_ms", "linreg_train_ms", "save_ms", "load_ms", "score_ms",
                  "model_bytes"):
            m[f"ml.{k}"] = _med(u["ml"][k] for u in units)

    st = self_times(spans)
    untraced = _med(u["end"] - u["start"] for u in plain)
    traced = _med(u["end"] - u["start"] for u in units)
    units_out = {name: unit for name, unit, *_ in PER_LAYER}
    return {
        "workload": workload,
        "metrics": {k: {"value": float(v), "unit": units_out[k]} for k, v in m.items()},
        "moves": {name: moves for name, _u, _b, moves in PER_LAYER},
        "overhead": {"untraced_unit_s": untraced, "traced_unit_s": traced,
                     "ratio": traced / untraced},
        "throughput_ticks_per_s": sum(u["ticks"] for u in units)
        / sum(u["end"] - u["start"] for u in units),
        "single_core_ticks_per_s": single,
        "layer_self_s": layer_self_times(spans),
        "unit_counters": per_unit,
        "spans": [{**s, "self_s": st[s["id"]]} for s in spans],
        **extra,
    }
