"""Seeded synthetic climate data and the numpy oracles the benchmark checks
every operation against.

Nothing here imports the engine or Spark: the generator and the oracles are
the benchmark's own, so the engine only ever receives the generated store
and DataFrames, and the tests can run without a Spark session.

Every value of a time step is drawn from ``numpy.random.default_rng((seed,
step))``, so the same step has the same values whether it is written with
the base store or appended later, and a run is a pure function of its seed.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

N_LAT = 180
N_LON = 360
CHUNKS = (12, 90, 90)
STORE_STEPS = 120
INGEST_BASE_STEPS = 24
APPEND_STEPS = 6
ARRAY = "tas"
DIMS = ("time", "lat", "lon")

# Relative tolerance for means and sums that Spark accumulates in double
# precision over float32 cells in an order the oracle does not share.
RTOL = 1e-9


def lat_axis() -> np.ndarray:
    return np.linspace(-89.5, 89.5, N_LAT)


def lon_axis() -> np.ndarray:
    return np.linspace(0.5, 359.5, N_LON)


def time_axis(start: int, stop: int) -> np.ndarray:
    return np.arange(start, stop, dtype=np.int32)


def tas_steps(seed: int, start: int, stop: int) -> np.ndarray:
    """Near-surface air temperature in kelvin for time steps
    ``[start, stop)``: a latitude profile plus per-step noise, float32."""
    profile = (273.0 + 30.0 * np.cos(np.deg2rad(lat_axis())))[:, None]
    out = np.empty((stop - start, N_LAT, N_LON), dtype=np.float32)
    for i, step in enumerate(range(start, stop)):
        rng = np.random.default_rng((seed, step))
        out[i] = profile + 4.0 * rng.standard_normal((N_LAT, N_LON))
    return out


def write_store(write_group, root: str, data: np.ndarray) -> None:
    """Write ``data`` (steps ``0..``) as a zarr v2 group through the
    engine's own ``write_group`` (passed in, so this module stays
    engine-free)."""
    write_group(
        root,
        {ARRAY: data},
        dims={ARRAY: DIMS},
        coords={
            "time": time_axis(0, data.shape[0]),
            "lat": lat_axis(),
            "lon": lon_axis(),
        },
        chunks={ARRAY: CHUNKS},
    )


# --------------------------------------------------------------------------
# selective_queries regions
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Region:
    """A lat/lon box over a run of time steps. Bounds are whole degrees,
    which never coincide with the half-degree grid, and inclusive."""

    t_lo: int
    t_hi: int
    lat_lo: int
    lat_hi: int
    lon_lo: int
    lon_hi: int

    def positions(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        lat, lon = lat_axis(), lon_axis()
        return (
            np.arange(self.t_lo, self.t_hi + 1),
            np.flatnonzero((lat >= self.lat_lo) & (lat <= self.lat_hi)),
            np.flatnonzero((lon >= self.lon_lo) & (lon <= self.lon_hi)),
        )

    def point(self) -> tuple[int, int]:
        """Grid position (lat, lon) of the box's centre cell."""
        _, ilat, ilon = self.positions()
        return int(ilat[len(ilat) // 2]), int(ilon[len(ilon) // 2])

    def cells(self) -> int:
        return math.prod(len(p) for p in self.positions())

    def where(self) -> str:
        return (
            f"time >= {self.t_lo} AND time <= {self.t_hi} AND "
            f"lat >= {self.lat_lo} AND lat <= {self.lat_hi} AND "
            f"lon >= {self.lon_lo} AND lon <= {self.lon_hi}"
        )

    def select_ranges(self) -> dict:
        return {
            "time": slice(self.t_lo, self.t_hi),
            "lat": slice(self.lat_lo, self.lat_hi),
            "lon": slice(self.lon_lo, self.lon_hi),
        }


def regions(seed: int, n_steps: int = STORE_STEPS):
    """Endless seeded regions. Their sizes follow one fixed sequence, the
    same for every seed: 12-48 time steps (whole multiples of the 12-step
    time chunk) and 5-30 whole degrees in lat and lon, so the number of
    cells a run selects does not depend on the seed. Where each region
    lies is drawn from the seed, with any start step."""
    rng = np.random.default_rng((seed, 0x5E1))
    k = 0
    while True:
        steps = 12 * (1 + k % 4)
        w_lat = 5 + (7 * k) % 26
        w_lon = 5 + (11 * k + 13) % 26
        k += 1
        t_lo = int(rng.integers(0, n_steps - steps + 1))
        lat_lo = int(rng.integers(-90, 90 - w_lat + 1))
        lon_lo = int(rng.integers(0, 360 - w_lon + 1))
        yield Region(t_lo, t_lo + steps - 1, lat_lo, lat_lo + w_lat, lon_lo, lon_lo + w_lon)


# --------------------------------------------------------------------------
# Oracles: each returns None when the answer is right, else a reason.
# --------------------------------------------------------------------------


def _close(got: float, want: float) -> bool:
    return math.isclose(got, want, rel_tol=RTOL, abs_tol=0.0)


def check_global_mean(data: np.ndarray, rows: list[tuple]) -> str | None:
    """``rows``: (time, mean, count) per step, any order."""
    want = data.astype(np.float64).mean(axis=(1, 2))
    per_step = data.shape[1] * data.shape[2]
    if len(rows) != len(want):
        return f"{len(rows)} rows, want {len(want)}"
    for t, mean, count in sorted(rows):
        if not 0 <= t < len(want):
            return f"unexpected time {t}"
        if count != per_step:
            return f"time {t}: count {count}, want {per_step}"
        if mean is None or not _close(mean, want[t]):
            return f"time {t}: mean {mean}, want {want[t]}"
    return None


def check_box(data: np.ndarray, region: Region, mean: float, count: int) -> str | None:
    """Mean and count of the region's cells; ``data`` starts at step 0."""
    it, ilat, ilon = region.positions()
    sub = data[np.ix_(it, ilat, ilon)]
    if count != sub.size:
        return f"count {count}, want {sub.size}"
    want = float(sub.astype(np.float64).mean())
    if mean is None or not _close(mean, want):
        return f"mean {mean}, want {want}"
    return None


def check_point(data: np.ndarray, ilat: int, ilon: int, rows: list[tuple]) -> str | None:
    """``rows``: (time, value) for every step; values must match exactly."""
    want = data[:, ilat, ilon]
    if len(rows) != len(want):
        return f"{len(rows)} rows, want {len(want)}"
    got = np.array([v for _, v in sorted(rows)], dtype=np.float32)
    times = [t for t, _ in sorted(rows)]
    if times != list(range(len(want))):
        return "time axis does not match"
    if not np.array_equal(got, want):
        return f"{int((got != want).sum())} values differ"
    return None


def check_readback(new_data: np.ndarray, total: float, count: int) -> str | None:
    """Count and sum of the steps just appended."""
    if count != new_data.size:
        return f"count {count}, want {new_data.size}"
    want = float(new_data.astype(np.float64).sum())
    if total is None or not _close(total, want):
        return f"sum {total}, want {want}"
    return None
