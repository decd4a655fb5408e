"""The streaming state handler without Spark: ``_update_symbol`` fed through
a stub ``GroupState`` must emit, batch after batch, exactly what
``indicator_frame`` computes over the symbol's whole history — also once the
history outgrows the 1000-price buffer the state keeps."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from real_time_stock_market_data_pipeline_spark.operators.indicators import (
    BUFFER_SIZE,
    IND_COLS,
    SeriesSpec,
    indicator_frame,
)
from real_time_stock_market_data_pipeline_spark.streaming.analytics import (
    OUT_SCHEMA,
    _update_symbol,
)


class _State:
    """The part of pyspark's ``GroupState`` the handler uses."""

    def __init__(self) -> None:
        self.value = None

    @property
    def exists(self) -> bool:
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value) -> None:
        self.value = value


def _ticks(seed: int, n: int) -> pd.DataFrame:
    """One symbol's ticks as Spark hands them to the handler: naive
    timestamps, a null volume arriving as NaN.  Ticks come in pairs sharing
    a timestamp, so tick_id must break the ties."""
    rng = np.random.default_rng(seed)
    prices = 100 * np.exp(np.cumsum(rng.normal(0, 0.01, n)))
    volume = rng.integers(1, 1000, n).astype(np.float64)
    volume[n // 3] = np.nan
    return pd.DataFrame({
        "company_id": "AAA",
        "tick_id": np.arange(n, dtype=np.int64),
        "trade_datetime": pd.Timestamp("2024-01-02 09:30")
        + pd.to_timedelta(np.arange(n) // 2, unit="s"),
        "current_price": prices,
        "volume": volume,
    })


@pytest.mark.parametrize("seed", [2, 8])
def test_handler_matches_batch_past_the_buffer(seed):
    """2,600 ticks in batches of 130, rows shuffled inside each batch and
    split over several Arrow chunks.  A rolling std kept as running sums
    drifts with the history length before its window; on these seeds that
    drift breaks the 1e-12 contract for bb_upper/bb_lower once the buffer
    is full."""
    n, size = 2600, 130
    ticks = _ticks(seed, n)
    rng = np.random.default_rng(seed + 100)
    state, emitted = _State(), []
    for lo in range(0, n, size):
        batch = ticks.iloc[lo + rng.permutation(size)]
        cuts = np.sort(rng.choice(np.arange(1, size), 2, replace=False))
        chunks = (batch.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, size]))
        (out,) = _update_symbol(("AAA",), chunks, state)
        assert list(out.columns) == [f.split()[0] for f in OUT_SCHEMA.split(", ")]
        emitted.append(out)
    got = pd.concat(emitted, ignore_index=True)
    exp = indicator_frame(ticks.sample(frac=1, random_state=seed), SeriesSpec())

    assert (got["tick_id"].to_numpy() == np.arange(n)).all()
    for c in ["current_price", "volume", *IND_COLS]:
        np.testing.assert_allclose(
            got[c].to_numpy(float), exp[c].to_numpy(float),
            rtol=1e-12, atol=1e-12, equal_nan=True, err_msg=c,
        )
    assert np.isnan(got["volume"].to_numpy(float)[n // 3])
    assert not np.isnan(got["ema_12"].to_numpy(float)[BUFFER_SIZE:]).any()

    prices, n_seen = state.get
    assert n_seen == n
    assert prices == ticks["current_price"].to_numpy()[-BUFFER_SIZE:].tolist()
