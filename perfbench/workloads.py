"""The benchmark's workloads on the paper's path.

Each workload has these phases, all driven by ``run.py``:

* ``prepare``: write the seeded inputs (benchmark work, not timed);
* ``warmup``: first executions of the workload's code paths (not timed);
* ``setup(i)``: one set-up on a fresh copy of the inputs — the program's
  work on a dataset it has not seen before (timed as ``setup_s``);
* ``unit()``: one unit of measured work, repeated until the run's time is
  spent;
* ``check``: compare the outputs with an independent computation, outside
  the timed window; returns the number of failed operations.

Units are recorded as dicts with ``start``/``end`` (epoch seconds) plus the
workload's own samples; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

import datagen
from eventlog import data_batches, progress_window

PKG = "real_time_stock_market_data_pipeline_spark"


def _copy_tables(src: str, dst: str) -> str:
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        shutil.copy(os.path.join(src, name), os.path.join(dst, name))
    return dst


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _d, names in os.walk(path) for n in names
    )


def _frames_equal(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str],
                  rtol: float) -> int:
    """Number of rows of ``exp`` that ``got`` misses or gets wrong: same
    key set, non-float columns equal, float columns within ``rtol`` (NaN
    matches NaN)."""
    if len(got) != len(exp) or sorted(got.columns) != sorted(exp.columns):
        return max(len(exp), 1)
    cols = sorted(exp.columns)
    a = got[cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    b = exp[cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    bad = np.zeros(len(a), dtype=bool)
    for c in cols:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            xv, yv = x.to_numpy(dtype=float), y.to_numpy(dtype=float)
            bad |= ~np.isclose(xv, yv, rtol=rtol, atol=0.0, equal_nan=True)
        else:
            bad |= ~((x == y) | (x.isna() & y.isna())).to_numpy()
    return int(bad.sum())


def patch_layers(tracer, stack: contextlib.ExitStack) -> None:
    """Time the sources layer's public readers wherever the program calls
    them (a no-op when tracing is off)."""
    import importlib

    from real_time_stock_market_data_pipeline_spark.sources import readers

    # import every caller first: the patch rebinds names in loaded modules
    for mod in ("plans", "ml.persistence", "ml.arima", "ml.regression", "streaming.analytics"):
        importlib.import_module(f"{PKG}.{mod}")

    for fname in ("ticks_from_events", "load_table"):
        tracer.patch(stack, PKG, readers, fname, "sources")


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.dir = os.path.join(ctx.work, self.name)
        os.makedirs(self.dir, exist_ok=True)

    def warmup(self) -> None:
        """Untimed first execution of the workload's code paths (JIT,
        codegen, Python worker start), so set-ups and units run warm."""

    def frame_calls(self) -> list[float]:
        """Times of direct ``indicator_frame`` calls (traced runs); none
        unless the workload feeds that operator."""
        return []

    def fresh(self, tag: str) -> str:
        path = os.path.join(self.dir, tag)
        shutil.rmtree(path, ignore_errors=True)
        return path


# ---------------------------------------------------------------------------
# replay: closed-loop catch-up through run_bounded_pipeline
# ---------------------------------------------------------------------------


class Replay(Workload):
    """Time-ordered tick files, all present at the start, streamed through
    ``streaming.analytics.run_bounded_pipeline`` one file per micro-batch.
    Each batch holds a few ticks for every symbol, so the per-symbol state
    handler and ``indicator_frame`` carry most of the work."""

    name = "replay"
    SYMBOLS = 450
    TICKS_PER_FILE = 3000
    FILES = 2
    SETUP_TICKS = 50

    def prepare(self) -> None:
        n = self.TICKS_PER_FILE * self.FILES
        events = datagen.events_frame(self.ctx.seed, n, self.SYMBOLS)
        self.ticks = datagen.ticks_of(events)
        self.src = os.path.join(self.dir, "src")
        self.files = datagen.split_ticks(self.ticks, self.src, self.FILES)
        self.file_rows = [len(p) for p in np.array_split(np.arange(n), self.FILES)]
        self.setup_file = os.path.join(self.dir, "setup_slice.parquet")
        datagen.write_tick_file(self.setup_file, self.ticks.iloc[: self.SETUP_TICKS])
        from real_time_stock_market_data_pipeline_spark.streaming import analytics

        self.analytics = analytics
        self.schema = self.spark.read.parquet(self.files[0]).schema
        self.last_out = None
        self.n_units = 0

    def _catch_up(self, src: str, tag: str):
        out, ck = self.fresh(f"out_{tag}"), self.fresh(f"ck_{tag}")
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        t0 = time.time()
        with self.tr.span("run_bounded_pipeline", "streaming"):
            q = self.analytics.run_bounded_pipeline(stream, out, ck)
        t1 = time.time()
        progress = [json.loads(p.json) for p in q.recentProgress]
        return out, progress, t0, t1

    def setup(self, i: int) -> None:
        """A fresh source holding a small first slice: query start, state
        store creation and one micro-batch."""
        src = self.fresh(f"setup_src_{i}")
        os.makedirs(src)
        shutil.copy2(self.setup_file, src)
        self._catch_up(src, f"setup_{i}")

    def unit(self) -> dict:
        self.n_units += 1
        out, progress, t0, t1 = self._catch_up(self.src, f"u{self.n_units}")
        batches = data_batches(progress)
        ends = [progress_window(p)[1] for p in batches]
        self.last_out = out
        return {
            "start": t0, "end": t1, "ticks": int(sum(p["numInputRows"] for p in batches)),
            "batch_s": [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches],
            # every file is visible when the run starts, so a tick's
            # latency is the time from the start to the commit of the
            # micro-batch that emitted it
            "latency": [(e - t0, n) for e, n in zip(ends, (p["numInputRows"] for p in batches))],
            "progress": progress,
        }

    def attempted(self, units: list[dict]) -> int:
        return sum(u["ticks"] for u in units)

    def check(self, units: list[dict]) -> int:
        """Streamed analytics rows == ``indicators_apply_in_pandas`` over the
        same ticks; streamed alerts == ``alerts_from_analytics`` of that."""
        from real_time_stock_market_data_pipeline_spark.operators.indicators import (
            SeriesSpec, indicators_apply_in_pandas,
        )
        from real_time_stock_market_data_pipeline_spark.operators.relational import (
            valid_tick_predicate,
        )

        spec = SeriesSpec()  # company_id / trade_datetime / tick_id / current_price
        cols = ["company_id", "tick_id", "trade_datetime", "current_price", "volume",
                *self.analytics.IND_COLS]
        ticks = self.spark.read.schema(self.schema).parquet(self.src)
        exp = indicators_apply_in_pandas(ticks.filter(valid_tick_predicate()), spec).select(*cols).toPandas()
        got = self.spark.read.parquet(os.path.join(self.last_out, "analytics")).select(*cols).toPandas()
        bad = _frames_equal(got, exp, ["company_id", "tick_id"], 1e-12)
        alert_keys = ["company_id", "created_at", "alert_type"]
        # once the analytics rows equal the batch result, the alerts of
        # that result are the alerts of the stored rows (no second
        # grouped-map pass)
        exp_alerts = self.analytics.alerts_from_analytics(
            self.spark.read.parquet(os.path.join(self.last_out, "analytics"))
        ).toPandas()
        got_alerts = self.spark.read.parquet(os.path.join(self.last_out, "alerts")).toPandas()
        bad += _frames_equal(got_alerts, exp_alerts, alert_keys, 1e-12)
        return bad

    # -- traced extras --------------------------------------------------
    def frame_calls(self) -> list[float]:
        """Time ``indicator_frame`` on the inputs each replay micro-batch
        feeds the state handler: per symbol, the buffered prices (epoch
        sentinel rows) followed by that batch's new ticks."""
        from real_time_stock_market_data_pipeline_spark.operators.indicators import (
            BUFFER_SIZE, SeriesSpec, indicator_frame,
        )

        spec = SeriesSpec()
        history: dict[str, list[float]] = {}
        times = []
        # generated ticks are never NaN and never have negative volume, so
        # the validation filter reduces to price > 0
        valid = self.ticks[self.ticks["current_price"] > 0]
        bounds = np.cumsum([0, *self.file_rows])
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            part = valid[(valid["tick_id"] >= lo) & (valid["tick_id"] < hi)]
            for sym, new in part.groupby("company_id", sort=True):
                new = new.sort_values(["trade_datetime", "tick_id"], kind="mergesort")
                prev = history.get(sym, [])
                if prev:
                    prior = pd.DataFrame({
                        "company_id": sym, "tick_id": -1,
                        "trade_datetime": pd.Timestamp(0, tz="UTC"),
                        "current_price": prev, "volume": 0,
                    }).astype(new.dtypes.to_dict())
                    combined = pd.concat([prior, new], ignore_index=True)
                else:
                    combined = new.reset_index(drop=True)
                with self.tr.span("indicator_frame", "operators.indicators"):
                    t0 = time.perf_counter()
                    indicator_frame(combined, spec)
                    times.append(time.perf_counter() - t0)
                history[sym] = (prev + new["current_price"].tolist())[-BUFFER_SIZE:]
        return times


# ---------------------------------------------------------------------------
# dashboard: one client refreshing the reference dashboard's panels
# ---------------------------------------------------------------------------


class Dashboard(Workload):
    """Closed loop, one client: each refresh runs the dashboard's panels
    back to back in a seeded order, collecting every panel to the driver as
    the dashboard does.  Batch reads only, so driver-side construction,
    Catalyst and per-job overhead dominate."""

    name = "dashboard"
    SYMBOLS = 50
    TICKS = 3_350
    PANELS = (
        "j1_tick_dashboard", "j2_analytics_dashboard", "j3_alert_feed",
        "a13_ohlc_candles", "o5_price_history", "w11_vwap",
        "a4_daily_summary", "t6_alerts", "flagship",
    )

    def prepare(self) -> None:
        from real_time_stock_market_data_pipeline_spark.plans import QUERIES

        self.queries = QUERIES
        self.sf_dir = os.path.join(self.dir, "sf")
        self.events = datagen.write_tables(self.sf_dir, self.ctx.seed, self.TICKS, self.SYMBOLS)
        self.rng = random.Random(self.ctx.seed)
        self.outputs: dict[str, pd.DataFrame] = {}

    def _release(self) -> None:
        # lazy localCheckpoints some panels take live until the session
        # ends; release them between refreshes as bench.py does
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    def warmup(self) -> None:
        """Every panel once, four at a time: the first execution is mostly
        single-threaded compilation, so overlapping it shortens the run."""

        def run(name: str) -> None:
            self.queries[name](self.spark, self.sf_dir).toPandas()

        with ThreadPoolExecutor(4) as pool:
            for f in [pool.submit(run, n) for n in self.PANELS]:
                f.result()
        self._release()

    def setup(self, i: int) -> None:
        """Build and plan every panel on a fresh copy of the tables (new
        paths, so nothing the program memoized per dataset applies)."""
        sf = _copy_tables(self.sf_dir, self.fresh(f"setup_{i}"))
        for name in self.PANELS:
            self.queries[name](self.spark, sf)._jdf.queryExecution().executedPlan()
        self._release()

    def unit(self) -> dict:
        order = list(self.PANELS)
        self.rng.shuffle(order)
        lat = []
        t0 = time.time()
        for name in order:
            with self.tr.span(name, "plans", query=name):
                q0 = time.perf_counter()
                with self.tr.span("build", "plans"):
                    df = self.queries[name](self.spark, self.sf_dir)
                if self.tr.enabled:
                    with self.tr.span("plan", "plans"):
                        df._jdf.queryExecution().executedPlan()
                with self.tr.span("exec", "exec"):
                    self.outputs[name] = df.toPandas()
                lat.append(time.perf_counter() - q0)
        t1 = time.time()
        self._release()
        return {"start": t0, "end": t1, "ticks": self.TICKS, "items": lat}

    def attempted(self, units: list[dict]) -> int:
        return sum(len(u["items"]) for u in units)

    def check(self, units: list[dict]) -> int:
        """Each panel's last collected output against its DuckDB oracle,
        compared the way ``plans.parity.check_query`` compares them."""
        import duckdb

        from real_time_stock_market_data_pipeline_spark.plans import ORACLES
        from real_time_stock_market_data_pipeline_spark.plans.parity import compare_frames

        con = duckdb.connect()
        try:
            for t in ("events", "customer"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            failed = []
            for name in self.PANELS:
                res = compare_frames(name, self.outputs[name], con.execute(ORACLES[name]).fetchdf())
                if not res.ok:
                    failed.append(name)
                    print(f"check failed: {name}: {res.errors}", flush=True)
        finally:
            con.close()
        # a panel whose output is wrong failed on every refresh
        return len(failed) * len(units)

    def frame_calls(self) -> list[float]:
        """``indicator_frame`` on each symbol's valid ticks — the inputs the
        flagship panel's grouped map feeds it."""
        from real_time_stock_market_data_pipeline_spark.operators.indicators import (
            SeriesSpec, indicator_frame,
        )

        spec = SeriesSpec()
        ticks = datagen.ticks_of(self.events)
        ticks = ticks[ticks["current_price"] > 0]
        times = []
        for _sym, g in ticks.groupby("company_id", sort=True):
            with self.tr.span("indicator_frame", "operators.indicators"):
                t0 = time.perf_counter()
                indicator_frame(g, spec)
                times.append(time.perf_counter() - t0)
        return times


# ---------------------------------------------------------------------------
# forecast: batch ML job — train, persist, reload, score
# ---------------------------------------------------------------------------


class Forecast(Workload):
    """One pass = ARIMA grid-search fit → save → load → 1-step score, OLS
    fit → save → load → latest-window score, plus the k-step ARIMA forecast
    and the batch OLS predictions.  Reads ticks and writes model tables."""

    name = "forecast"
    SYMBOLS = 75
    TICKS = 5_000
    PARITY = ("u2_arima_forecast", "u4_linreg_predictions",
              "s13_model_roundtrip", "s14_arima_registry")

    def prepare(self) -> None:
        from real_time_stock_market_data_pipeline_spark.ml import arima, persistence, regression
        from real_time_stock_market_data_pipeline_spark.operators.relational import (
            valid_tick_predicate,
        )
        from real_time_stock_market_data_pipeline_spark.sources import readers

        self.arima, self.persistence, self.regression = arima, persistence, regression
        self.readers, self.valid = readers, valid_tick_predicate
        self.sf_dir = os.path.join(self.dir, "sf")
        self.events = datagen.write_tables(self.sf_dir, self.ctx.seed, self.TICKS, self.SYMBOLS)

    def warmup(self) -> None:
        """The parity check runs every stage's code path (fit, persist,
        reload, score, forecast) through the plan-level twins, so it
        doubles as the warm-up; ``check`` reports its outcome."""
        self.parity = self._parity()

    def setup(self, i: int) -> None:
        """The first job on a fresh copy of the tables (new paths, so
        nothing the program memoized per dataset applies)."""
        self.unit(_copy_tables(self.sf_dir, self.fresh(f"setup_{i}")))

    def _stage(self, name: str, fn, lat: list[float]):
        with self.tr.span(name, "ml"):
            t0 = time.perf_counter()
            out = fn()
            lat.append(time.perf_counter() - t0)
        return out

    def _fit_save(self, train_df, path: str, rec: dict, key: str):
        P = self.persistence
        if not self.tr.enabled:
            P.save_models(train_df, path)
            return
        # traced: materialize the fit first so training and writing time
        # apart (the untraced job trains inside the write)
        t0 = time.perf_counter()
        with self.tr.span(f"{key}_train", "ml"):
            fitted = train_df.localCheckpoint(eager=True)
        rec[f"{key}_train_ms"] = (time.perf_counter() - t0) * 1e3
        t0 = time.perf_counter()
        with self.tr.span("save_models", "ml"):
            P.save_models(fitted, path)
        rec["save_ms"] += (time.perf_counter() - t0) * 1e3

    def _load(self, path: str, rec: dict):
        t0 = time.perf_counter()
        with self.tr.span("load_models", "ml"):
            m = self.persistence.load_models(self.spark, path)
        rec["load_ms"] += (time.perf_counter() - t0) * 1e3
        return m

    def _score(self, df, rec: dict) -> pd.DataFrame:
        t0 = time.perf_counter()
        with self.tr.span("score", "ml"):
            out = df.toPandas()
        rec["score_ms"] += (time.perf_counter() - t0) * 1e3
        return out

    def unit(self, sf_dir: str | None = None) -> dict:
        sf_dir = sf_dir or self.sf_dir
        P = self.persistence
        lat: list[float] = []
        rec = {"arima_train_ms": 0.0, "linreg_train_ms": 0.0, "save_ms": 0.0,
               "load_ms": 0.0, "score_ms": 0.0}
        models = sf_dir + "_models"
        arima_path = os.path.join(models, "arima")
        lin_path = os.path.join(models, "linreg")
        t0 = time.time()
        tk = self.readers.ticks_from_events(self.spark, sf_dir).filter(self.valid())
        self._stage("arima_fit_save",
                    lambda: self._fit_save(P.train_arima_models(tk), arima_path, rec, "arima"), lat)
        self._stage("arima_load_score",
                    lambda: self._score(P.score_arima_1step(self._load(arima_path, rec)), rec), lat)
        self._stage("linreg_fit_save",
                    lambda: self._fit_save(P.train_models(tk), lin_path, rec, "linreg"), lat)
        self._stage("linreg_load_score",
                    lambda: self._score(P.score_latest(tk, self._load(lin_path, rec)), rec), lat)
        self._stage("arima_forecast", lambda: self.arima.forecast(tk).toPandas(), lat)
        self._stage("linreg_batch_predictions",
                    lambda: self.regression.batch_predictions(tk).toPandas(), lat)
        t1 = time.time()
        rec["model_bytes"] = float(_dir_bytes(models))
        return {"start": t0, "end": t1, "ticks": int((self.events["value"] > 0).sum()),
                "items": lat, "ml": rec}

    def attempted(self, units: list[dict]) -> int:
        return sum(len(u["items"]) for u in units) + len(self.PARITY)

    def check(self, units: list[dict]) -> int:
        return self.parity

    def _parity(self) -> int:
        """The job's plan-level twins (registry round trips, forecast and
        prediction tables) against their DuckDB oracles, once per run."""
        import duckdb

        from real_time_stock_market_data_pipeline_spark.plans import ORACLES, QUERIES
        from real_time_stock_market_data_pipeline_spark.plans.parity import check_query

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.sf_dir}/events.parquet'")

        def run(name: str):
            cur = con.cursor()  # one DuckDB cursor per thread
            try:
                return check_query(name, QUERIES[name](self.spark, self.sf_dir), ORACLES[name], cur)
            finally:
                cur.close()

        try:
            # the queries are independent; overlapping their first
            # (compile-bound) execution shortens the run
            with ThreadPoolExecutor(len(self.PARITY)) as pool:
                results = [f.result() for f in [pool.submit(run, n) for n in self.PARITY]]
        finally:
            con.close()
        for res in results:
            if not res.ok:
                print(f"check failed: {res.name}: {res.errors}", flush=True)
        return sum(not r.ok for r in results)


WORKLOADS = {w.name: w for w in (Replay, Dashboard, Forecast)}
