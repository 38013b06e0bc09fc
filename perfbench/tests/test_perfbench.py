"""Tests of the benchmark's generator, oracles, tail rule and span analysis.

Run from the repository root with ``python -m pytest perfbench/tests``.
No Spark session is started: correct answers are read from a tiny store
through the engine's driver-side read path (``plan_scan`` + ``read_window``).
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import synth  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import chunks_intersecting, tail  # noqa: E402

SEED = 7
STEPS = 3


# -- generator ---------------------------------------------------------------


def test_same_seed_same_data():
    a = synth.tas_steps(SEED, 0, STEPS)
    b = synth.tas_steps(SEED, 0, STEPS)
    assert a.dtype == np.float32 and a.shape == (STEPS, synth.N_LAT, synth.N_LON)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, synth.tas_steps(SEED + 1, 0, STEPS))


def test_steps_do_not_depend_on_batching():
    # appended steps must equal the same steps generated with the base store
    whole = synth.tas_steps(SEED, 0, 5)
    assert np.array_equal(whole[2:5], synth.tas_steps(SEED, 2, 5))


def test_same_seed_same_regions():
    a = list(itertools.islice(synth.regions(SEED), 50))
    assert a == list(itertools.islice(synth.regions(SEED), 50))
    assert a != list(itertools.islice(synth.regions(SEED + 1), 50))
    for r in a:
        assert 5 <= r.lat_hi - r.lat_lo <= 30 and 5 <= r.lon_hi - r.lon_lo <= 30
        assert (r.t_hi - r.t_lo + 1) % 12 == 0
        assert 0 <= r.t_lo and r.t_hi < synth.STORE_STEPS
        assert -90 <= r.lat_lo and r.lat_hi <= 90 and 0 <= r.lon_lo and r.lon_hi <= 360
        assert r.cells() > 0


# -- oracles against answers read from a tiny store --------------------------


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    from cae_polars_tools_spark.sources.zarr_format import write_group

    root = str(tmp_path_factory.mktemp("perfbench") / "tiny.zarr")
    data = synth.tas_steps(SEED, 0, STEPS)
    synth.write_store(write_group, root, data)
    return root, data


def _read(root, **selection):
    from cae_polars_tools_spark.sources.zarr_reader import plan_scan, read_window
    from cae_polars_tools_spark.sources.zarr_store import ZarrStore

    plan = plan_scan(ZarrStore(root), synth.ARRAY, **selection)
    return read_window(plan, 0, plan.total_rows)


def _wrong(x: float) -> float:
    return x * (1 + 1e-6)


def test_global_mean_oracle(tiny):
    root, data = tiny
    cols = _read(root)
    rows = []
    for t in np.unique(cols["time"]):
        v = cols["value"][cols["time"] == t].astype(np.float64)
        rows.append((int(t), float(v.mean()), len(v)))
    assert synth.check_global_mean(data, rows) is None
    t, m, n = rows[1]
    assert synth.check_global_mean(data, rows[:1] + [(t, _wrong(m), n)] + rows[2:])
    assert synth.check_global_mean(data, rows[:1] + [(t, m, n - 1)] + rows[2:])
    assert synth.check_global_mean(data, rows[:-1])


def test_box_oracle(tiny):
    root, data = tiny
    region = synth.Region(0, STEPS - 1, 10, 30, 100, 125)
    v = _read(root, select_ranges=region.select_ranges())["value"].astype(np.float64)
    assert synth.check_box(data, region, float(v.mean()), len(v)) is None
    assert synth.check_box(data, region, _wrong(float(v.mean())), len(v))
    assert synth.check_box(data, region, float(v.mean()), len(v) + 1)
    assert synth.check_box(data, region, None, len(v))


def test_point_oracle(tiny):
    root, data = tiny
    ilat, ilon = synth.Region(0, STEPS - 1, 10, 30, 100, 125).point()
    cols = _read(root, select_dims={"lat": ilat, "lon": ilon})
    rows = list(zip(cols["time"].tolist(), cols["value"].tolist()))
    assert synth.check_point(data, ilat, ilon, rows) is None
    t, v = rows[0]
    nudged = float(np.nextafter(np.float32(v), np.float32(np.inf)))
    assert synth.check_point(data, ilat, ilon, [(t, nudged)] + rows[1:])
    assert synth.check_point(data, ilat, ilon, rows[1:])
    assert synth.check_point(data, ilat, ilon, [(t + 5, v)] + rows[1:])


def test_readback_oracle(tiny):
    root, data = tiny
    v = _read(root, select_dims={"time": slice(1, STEPS)})["value"].astype(np.float64)
    new = data[1:STEPS]
    assert synth.check_readback(new, float(v.sum()), len(v)) is None
    assert synth.check_readback(new, _wrong(float(v.sum())), len(v))
    assert synth.check_readback(new, float(v.sum()), len(v) - 1)


# -- statistics and tracing --------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, pct = tail(xs)
    assert value == 30.0 and pct == 75.0
    assert sum(x > value for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail([float(i) for i in range(24)]) == (23.0, 100.0)
    assert tail([float(i) for i in range(25)]) == (14.0, 60.0)


def test_chunks_intersecting():
    assert chunks_intersecting((np.arange(12), np.arange(90), np.arange(90))) == 1
    assert chunks_intersecting((np.arange(5, 17), [89, 90], [0])) == 4


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner[3] == 0 and outer[3] is None
    whole = outer[2] - outer[1]
    assert t.self_time_s("outer") == pytest.approx(whole - (inner[2] - inner[1]))
    assert t.self_time_s("inner", under="outer") == pytest.approx(inner[2] - inner[1])
    assert t.self_time_s("inner", under="missing") == 0.0


def test_wrap_records_and_restores():
    class Layer:
        def work(self, x):
            return x + 1

    t = Tracer()
    t.wrap(Layer, "work", "layer.work", lambda tr, res, *a: tr.count("layer.calls"))
    assert Layer().work(1) == 2
    t.unwrap()
    assert Layer().work(1) == 2
    assert [s[0] for s in t.spans] == ["layer.work"] and t.counts["layer.calls"] == 1
