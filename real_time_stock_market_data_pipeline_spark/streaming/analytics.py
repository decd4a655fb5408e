"""Stateful streaming analytics pipeline (reference §3.2, T1–T8).

The reference's analytics consumer holds a per-symbol ``deque(maxlen=1000)``
in process memory and recomputes six indicators per tick
(analytics/analytics_consumer.py:304-420) — state that dies on restart.
Here the same keyed state lives in Spark's state store via
``applyInPandasWithState``: checkpointed, exactly-once, restart-safe (T3;
strictly stronger than the reference, SURVEY §7.3.4).

Dataflow:
    source (kafka/rate/file) → validate (P7) → dedupe within watermark (P9)
    → per-symbol stateful indicators → analytics sink
                                     ↘ alert filter (T6) → alert sink
                                     ↘ invalid rows → error sink (T8)

The state handler runs ``operators.indicators.indicator_arrays`` — the numpy
kernel behind the batch path's ``indicator_frame`` — so a stream replayed as
a batch produces identical values (tested in tests/test_streaming.py and,
past the 1000-price buffer, tests/test_state_handler.py).  Each micro-batch
sorts the new ticks, appends their prices to the buffered ones, runs the
kernel over that array, emits only the new rows, and truncates state back
to 1000 prices.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.indicators import BUFFER_SIZE, IND_COLS, indicator_arrays
from ..operators.relational import valid_tick_predicate

STATE_SCHEMA = "prices array<double>, n_seen long"

OUT_SCHEMA = (
    "company_id string, tick_id long, trade_datetime timestamp, "
    "current_price double, volume long, "
    + ", ".join(f"{c} double" for c in IND_COLS)
)


def _update_symbol(
    key: tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State handler for one symbol, on arrays: sort the new ticks by
    (trade_datetime, tick_id), run ``indicator_arrays`` over the buffered
    prices followed by theirs, emit the new rows, and keep the last
    ``BUFFER_SIZE`` prices.  Every kernel window depends only on its own
    prices, so the emitted rows equal ``indicator_frame`` over the symbol's
    whole history (tests/test_state_handler.py)."""
    chunks = list(batches)
    new = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    order = np.lexsort((new["tick_id"].to_numpy(), new["trade_datetime"].to_numpy()))
    prices_prev, n_seen = state.get if state.exists else ((), 0)
    k = len(prices_prev)
    prices = np.concatenate((
        np.asarray(prices_prev, dtype=np.float64),
        new["current_price"].to_numpy(np.float64)[order],
    ))
    cols = {c: new[c].array[order] for c in ("company_id", "tick_id", "trade_datetime")}
    cols["current_price"] = prices[k:]
    cols["volume"] = new["volume"].array[order]
    cols.update((c, v[k:]) for c, v in indicator_arrays(prices).items())
    state.update((prices[-BUFFER_SIZE:].tolist(), n_seen + len(new)))
    yield pd.DataFrame(cols, copy=False)


def observed(ticks: DataFrame, observer: Any = "tick_metrics") -> DataFrame:
    """A8 — the reference's self-instrumentation counters
    (analytics_consumer.py:60-64,401-414: messages_processed, errors_count,
    throughput logged every 100 messages) as engine-side observed metrics:
    computed inside the running plan, no second pass over the data.

    ``observer`` is a metric name (streaming: values arrive per micro-batch
    in ``StreamingQueryProgress.observedMetrics[name]``) or a
    ``pyspark.sql.Observation`` (batch: read ``observation.get`` after the
    action).  Attach BEFORE the validity filter so errors_count sees the
    rejected rows.

    Latency stats mirror the reference's per-message processing-time
    mean/median/max/min log line (analytics_consumer.py:401-414): the
    engine-side analogue is event-time-to-processing lag, aggregated inside
    the running plan (``percentile_approx`` for the median — the exact
    percentile would buffer every row)."""
    lag_us = F.unix_micros(F.current_timestamp()) - F.unix_micros(
        F.col("trade_datetime").cast("timestamp")
    )
    return ticks.observe(
        observer,
        F.count(F.lit(1)).alias("messages_processed"),
        F.sum(
            F.when(valid_tick_predicate(), F.lit(0)).otherwise(F.lit(1))
        ).alias("errors_count"),
        F.max("trade_datetime").alias("last_event_time"),
        F.avg(lag_us).alias("lag_us_mean"),
        F.percentile_approx(lag_us, 0.5).alias("lag_us_p50"),
        F.min(lag_us).alias("lag_us_min"),
        F.max(lag_us).alias("lag_us_max"),
    )


def streaming_indicators(
    ticks: DataFrame, dedup_watermark: str | None = "10 minutes"
) -> DataFrame:
    """validate → dedupe within watermark (P9) → stateful per-symbol
    indicators (the analytics row stream).

    The dedupe stage is the streaming twin of ``dedup_keep_first`` on
    (company_id, trade_datetime): ``dropDuplicatesWithinWatermark`` keeps
    the FIRST ARRIVAL and expires its key state once the watermark passes
    ``dedup_watermark`` — bounded state, unlike a global dropDuplicates.
    First-arrival equals the batch twin's lowest-tick_id survivor whenever
    producers emit a symbol's ticks in tick_id order, which is exactly the
    reference producer's suppression setting (producer/producer.py:220-251);
    tests/test_streaming.py proves stream ≡ batch on a late-duplicate
    fixture.  Pass ``dedup_watermark=None`` to skip the stage (e.g. when
    the source is already exactly-once keyed); batch DataFrames skip it
    too since watermarks are streaming-only.
    """
    valid = ticks.filter(valid_tick_predicate())
    if dedup_watermark is not None and valid.isStreaming:
        import pyspark.sql.types as T

        if isinstance(valid.schema["trade_datetime"].dataType, T.TimestampNTZType):
            # parquet-nanos sources arrive as TIMESTAMP_NTZ, but watermarks
            # require TIMESTAMP; identity under the engine's UTC session TZ
            valid = valid.withColumn(
                "trade_datetime", F.col("trade_datetime").cast("timestamp")
            )
        valid = valid.withWatermark(
            "trade_datetime", dedup_watermark
        ).dropDuplicatesWithinWatermark(["company_id", "trade_datetime"])
    return valid.groupBy("company_id").applyInPandasWithState(
        _update_symbol,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ohlc_candles_stream(ticks: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """A13's streaming twin — hourly OHLC candles as a native tumbling-
    window aggregation (the reference dashboard's live candle feed,
    dashboard/app.py:245-246, computed in-stream instead of re-queried).

    Open/close use ``min_by``/``max_by`` over the canonical
    (trade_datetime, tick_id) struct — the same deterministic tie-break as
    the batch plan's two row_numbers (structs compare lexicographically),
    but expressible inside a streaming aggregate where rank windows are
    not.  All six candle measures are map-combinable declarative
    aggregates, so state per open window is O(1) and partial aggregation
    happens before the (window, symbol) shuffle.  Watermark + append mode:
    a candle is emitted exactly once, when event time passes its close by
    ``watermark`` — late ticks inside the allowance still update state;
    later ones are dropped (T4 semantics).  Batch inputs skip the
    watermark and emit every window; stream ≡ batch ≡ a13 is pinned by
    tests/test_streaming.py on a bounded replay."""
    valid = ticks.filter(valid_tick_predicate())
    import pyspark.sql.types as T

    if isinstance(valid.schema["trade_datetime"].dataType, T.TimestampNTZType):
        valid = valid.withColumn(
            "trade_datetime", F.col("trade_datetime").cast("timestamp")
        )
    if valid.isStreaming:
        valid = valid.withWatermark("trade_datetime", watermark)
    key = F.struct(F.col("trade_datetime"), F.col("tick_id"))
    return (
        valid.groupBy(
            F.window("trade_datetime", "1 hour").alias("w"), "company_id"
        )
        .agg(
            F.min_by("current_price", key).alias("open"),
            F.max("current_price").alias("high"),
            F.min("current_price").alias("low"),
            F.max_by("current_price", key).alias("close"),
            F.sum(F.coalesce(F.col("volume"), F.lit(0))).cast("long").alias("bar_volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "company_id",
            F.col("w.start").alias("bar_hour"),
            "open", "high", "low", "close", "bar_volume", "n_ticks",
        )
    )


def vwap_stream(ticks: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """W11's streaming twin — daily VWAP per symbol as a watermarked
    tumbling-window aggregation.  Every measure is a plain map-combinable
    aggregate (no ordering dependence beyond float summation), so this is
    the cheapest possible streaming state: one running (Σpv, Σv, Σp, n)
    tuple per open (symbol, day) window.  Stream ≡ batch ≡ w11 pinned by
    tests/test_streaming.py under the shared 6-decimal rounding."""
    # volume-bearing ticks only — w11's contract (zero/NULL-volume ticks
    # carry no execution weight and would only distort avg_price/n_ticks)
    valid = ticks.filter(
        valid_tick_predicate() & F.col("volume").isNotNull() & (F.col("volume") > 0)
    )
    import pyspark.sql.types as T

    if isinstance(valid.schema["trade_datetime"].dataType, T.TimestampNTZType):
        valid = valid.withColumn(
            "trade_datetime", F.col("trade_datetime").cast("timestamp")
        )
    if valid.isStreaming:
        valid = valid.withWatermark("trade_datetime", watermark)
    pv = F.col("current_price") * F.col("volume").cast("double")
    return (
        valid.groupBy(F.window("trade_datetime", "1 day").alias("w"), "company_id")
        .agg(
            # try_divide: defensive — under ANSI mode a zero-sum divisor
            # (unreachable past the volume>0 filter, but cheap to guard)
            # must yield NULL, not kill the whole streaming query
            F.try_divide(F.sum(pv), F.sum(F.col("volume").cast("double"))).alias("vwap"),
            (F.sum("current_price") / F.count(F.lit(1))).alias("avg_price"),
            F.sum("volume").cast("long").alias("total_volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "company_id",
            F.col("w.start").cast("date").alias("trade_date"),
            "vwap", "avg_price", "total_volume", "n_ticks",
        )
    )


def alerts_from_analytics(analytics: DataFrame) -> DataFrame:
    """T6 threshold alerts — same predicates/severities as the oracle-checked
    t6_alerts plan (RSI>70 / <30 → HIGH; volatility>0.05 → MEDIUM)."""
    rsi, vol = F.col("rsi_14"), F.col("volatility")
    rsi_alerts = analytics.filter(rsi.isNotNull() & ((rsi > 70.0) | (rsi < 30.0))).select(
        "company_id",
        F.col("trade_datetime").alias("created_at"),
        F.when(rsi > 70.0, F.lit("RSI_OVERBOUGHT")).otherwise(F.lit("RSI_OVERSOLD")).alias("alert_type"),
        rsi.alias("indicator_value"),
        F.when(rsi > 70.0, F.lit(70.0)).otherwise(F.lit(30.0)).alias("threshold_value"),
        F.lit("HIGH").alias("severity"),
        F.format_string("RSI alert: %.2f", rsi).alias("alert_message"),
    )
    vol_alerts = analytics.filter(vol.isNotNull() & (vol > 0.05)).select(
        "company_id",
        F.col("trade_datetime").alias("created_at"),
        F.lit("HIGH_VOLATILITY").alias("alert_type"),
        vol.alias("indicator_value"),
        F.lit(0.05).alias("threshold_value"),
        F.lit("MEDIUM").alias("severity"),
        F.format_string("High volatility detected: %.4f", vol).alias("alert_message"),
    )
    return rsi_alerts.unionAll(vol_alerts)


def run_bounded_pipeline(
    ticks: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Bounded end-to-end run (availableNow ≈ the reference's MAX_MESSAGES):
    analytics rows → parquet, alerts side-output → parquet, exactly-once via
    checkpoint.  foreachBatch fans one computed micro-batch into both sinks.
    Returns the finished StreamingQuery; per-batch A8 counters are in
    ``q.recentProgress[*].observedMetrics['tick_metrics']``."""
    analytics = streaming_indicators(observed(ticks))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        batch_df.write.mode("append").parquet(f"{out_dir}/analytics")
        alerts_from_analytics(batch_df).write.mode("append").parquet(f"{out_dir}/alerts")
        batch_df.unpersist()

    q = (
        analytics.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
