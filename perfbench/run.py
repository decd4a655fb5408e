"""Benchmark of the paper's path: streamed ticks → indicators → alerts
(replay), the dashboard's panel refresh, and the forecast job.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 3 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed`` into
``.perfbench_work/`` (deleted at exit); the last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` alternates untraced and
traced units in one session, reports the per-layer metrics and writes
spans, layer self times and the tracing overhead to ``.perfbench_out/``.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4  # the workloads are sized for a 4-core box

E2E_UNITS = {
    "throughput_ticks_per_s": "1/s", "batch_p50_s": "s", "latency_p50_s": "s",
    "latency_p90_s": "s", "refresh_s": "s", "job_s": "s", "setup_s": "s",
}


class Ctx:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer


def start_session(work: str, cpus: int, event_log: str | None):
    from real_time_stock_market_data_pipeline_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the driver JVM starts with the first session; its temp files go to
        # the run's own directory like everything else
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.dir": event_log, "spark.eventLog.compress": "false"})
    return get_spark(f"perfbench-{os.path.basename(work)}", cpus=cpus, extra_conf=conf)


def stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin closes
    (the gateway's own rule) and would otherwise outlive this process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run_workload(name: str, ctx: Ctx, seconds: float, n_setups: int,
                 interleave: bool = False) -> tuple:
    """prepare → warm-up (first executions of every code path; untimed) →
    ``n_setups`` timed set-ups → measured units until ``seconds`` have
    passed.  With ``interleave`` every traced unit is paired with an
    untraced one (tracer muted; at least two pairs), so a traced run also
    measures its own overhead."""
    from workloads import WORKLOADS

    w = WORKLOADS[name](ctx)
    w.prepare()
    # warm-ups may overlap calls on threads; the tracer's span stack is
    # single-threaded, so the warm-up is one opaque span
    with ctx.tracer.span("warmup", "bench"), ctx.tracer.muted():
        w.warmup()
    setups = []
    for i in range(n_setups):
        with ctx.tracer.span(f"setup{i}", "bench"):
            t0 = time.perf_counter()
            w.setup(i)
            setups.append(time.perf_counter() - t0)
    units, plain = [], []

    def untraced_unit() -> None:
        with ctx.tracer.muted():
            plain.append(w.unit())

    deadline = time.time() + seconds
    while not units or time.time() < deadline or (interleave and len(units) < 2):
        # pairs alternate which side runs first (ABBA), so warming that
        # continues during the run does not bias the overhead ratio
        traced_first = len(units) % 2 == 1
        if interleave and not traced_first:
            untraced_unit()
        with ctx.tracer.span(f"unit{len(units)}", "bench") as s:
            units.append(w.unit())
        if s is not None:
            units[-1]["span"] = s["id"]
        if interleave and traced_first:
            untraced_unit()
    return w, setups, units, plain


def end_to_end(units: list[dict], setups: list[float]) -> tuple[dict, dict]:
    from spans import quantile, summarize

    durations = [u["end"] - u["start"] for u in units]
    if "latency" in units[0]:
        lat = [v for u in units for v, n in u["latency"] for _ in range(n)]
        items = [b for u in units for b in u["batch_s"]]
    else:
        lat = items = [x for u in units for x in u["items"]]
    latency = summarize(lat)
    values = {
        "throughput_ticks_per_s": sum(u["ticks"] for u in units) / sum(durations),
        "batch_p50_s": quantile(items, 0.5),
        "latency_p50_s": latency["p50"],
        "latency_p90_s": latency["p90"],
        "refresh_s": statistics.median(durations),
        "job_s": statistics.median(durations),
        "setup_s": statistics.median(setups),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}, latency


def run_untraced(args, work: str) -> dict:
    from spans import Tracer

    t0 = time.perf_counter()
    spark = start_session(work, CPUS, None)
    try:
        t1 = time.perf_counter()
        ctx = Ctx(spark, work, args.seed, Tracer(False))
        w, setups, units, _ = run_workload(args.workload, ctx, args.seconds, 3)
        rss = jvm_peak_rss_mb(spark)
        t2 = time.perf_counter()
        attempted, failed = w.attempted(units), w.check(units)
        t3 = time.perf_counter()
    finally:
        spark.stop()
    print(f"phases: session {t1 - t0:.1f}s, workload {t2 - t1:.1f}s (setups {sum(setups):.1f}s), "
          f"check {t3 - t2:.1f}s, stop {time.perf_counter() - t3:.1f}s", flush=True)
    metrics, latency = end_to_end(units, setups)
    tail = (f"p{latency['tail_q'] * 100:g}={latency['tail']:.4g}s" if latency["tail_q"]
            else "no percentile has 10 samples beyond it")
    # the JVM's high-water mark follows G1's heap-growth schedule (10-30%
    # apart across seeds), so it is printed for context, not reported
    print(f"{args.workload}: units " + " ".join(f"{u['end'] - u['start']:.2f}s" for u in units)
          + f", failed {failed}/{attempted}, "
          + ", ".join(f"{k}={m['value']:.4g}{m['unit']}" for k, m in metrics.items())
          + f"; latency n={latency['n']}, {tail}; driver JVM peak RSS {rss:.0f} MB", flush=True)
    return {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
            "metrics": metrics}


def run_traced(args, work: str) -> dict:
    """One session with an uncompressed event log; traced units alternate
    with untraced ones, so their ratio is the tracing overhead.  Replay
    also runs one catch-up on a single core."""
    import layers
    from spans import Tracer

    log_dir = os.path.join(work, "eventlog")
    tracer = Tracer(True)
    spark = start_session(work, CPUS, log_dir)
    try:
        ctx = Ctx(spark, work, args.seed, tracer)
        with contextlib.ExitStack() as stack, tracer.span(args.workload, "bench"):
            from workloads import patch_layers

            patch_layers(tracer, stack)
            w, setups, units, plain = run_workload(args.workload, ctx, args.seconds, 3,
                                                   interleave=True)
        attempted, failed = w.attempted(units), w.check(units)
        frame_times = w.frame_calls()
    finally:
        spark.stop()

    single = None
    if args.workload == "replay":
        one_core = os.path.join(work, "one_core")
        spark = start_session(one_core, 1, None)
        try:
            # no set-up: the JVM is warm from the 4-core session
            _w, _s, one, _ = run_workload("replay", Ctx(spark, one_core, args.seed, Tracer(False)),
                                          0, 0)
            single = one[0]["ticks"] / (one[0]["end"] - one[0]["start"])
        finally:
            spark.stop()

    report = layers.report(args.workload, units, tracer, log_dir, frame_times,
                           plain, single)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=float)
    ov = report["overhead"]
    print(f"{args.workload}: trace in {os.path.relpath(path, ROOT)}; unit median "
          f"untraced {ov['untraced_unit_s']:.3f}s traced {ov['traced_unit_s']:.3f}s "
          f"(overhead {ov['ratio'] - 1:+.1%})"
          + (f"; replay 1-core {single:.1f} ticks/s vs {CPUS}-core "
             f"{report['throughput_ticks_per_s']:.1f}" if single else ""), flush=True)
    return {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
            "metrics": report["metrics"]}


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import real_time_stock_market_data_pipeline_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYTHONWARNINGS": "ignore::FutureWarning,ignore::DeprecationWarning",
    })
    tempfile.tempdir = tmp
    try:
        result = (run_traced if args.trace else run_untraced)(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
