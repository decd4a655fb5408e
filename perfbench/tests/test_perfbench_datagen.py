"""Seeded inputs are deterministic and time-ordered; the metric names the
code emits match BENCHMARK.json."""

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_events_are_deterministic_per_seed():
    a = datagen.events_frame(7, 2000, 30)
    pd.testing.assert_frame_equal(a, datagen.events_frame(7, 2000, 30))
    assert not a["value"].equals(datagen.events_frame(8, 2000, 30)["value"])
    assert a["ts"].is_monotonic_increasing
    assert a["user_id"].between(0, 29).all() and (a["value"] >= 0).all()
    pd.testing.assert_frame_equal(datagen.customer_frame(7, 30), datagen.customer_frame(7, 30))


def test_tick_files_are_time_ordered_slices(tmp_path):
    ticks = datagen.ticks_of(datagen.events_frame(3, 1000, 20))
    assert list(ticks.columns) == [f.name for f in datagen.TICK_SCHEMA]
    assert ticks["volume"].between(0, 99).all()
    paths = datagen.split_ticks(ticks, str(tmp_path), 3)
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    parts = [pq.read_table(p).to_pandas() for p in paths]
    assert sum(len(p) for p in parts) == len(ticks)
    for older, newer in zip(parts, parts[1:]):
        assert older["trade_datetime"].max() <= newer["trade_datetime"].min()
    np.testing.assert_array_equal(
        pd.concat(parts)["tick_id"].to_numpy(), ticks["tick_id"].to_numpy())


def test_metric_names_match_benchmark_json():
    import layers
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, _moves in layers.PER_LAYER]
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
