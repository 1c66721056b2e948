"""Single-thread micro-timings of the STL kernel and the Gorilla codec on a
workload's own 1-minute series (the gap-fill stage's input)."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from hastl_spark.kernel import canonicalize_stl_params
from hastl_spark.kernel.stl import stl_filt
from hastl_spark.operators.gorilla import decode, encode

# stl_gapfill's defaults (operators/gapfill.py), jump=1
STL_ARGS = dict(n_p=52, q_s=19, d_s=0, jump_s=1, jump_t=1, jump_l=1,
                n_inner=2, n_outer=1)


def dense_series(tier_1m: pd.DataFrame) -> list[tuple[np.ndarray, np.ndarray]]:
    """Per source: (epoch seconds, values with NaN at gaps) on the full
    1-minute grid, as the gap-fill UDF builds it."""
    out = []
    for _, g in tier_1m.sort_values("bucket").groupby("source"):
        idx = pd.DatetimeIndex(g["bucket"])
        grid = pd.date_range(idx.min(), idx.max(), freq="60s")
        s = pd.Series(g["sum_n_tok"].astype("float64").values, index=idx)
        out.append(((grid.asi8 // 10**9).astype(np.int64),
                    s.reindex(grid).to_numpy()))
    return out


def _rate(points: int, fn, min_s: float) -> float:
    """Points per second: median over repeats of ``fn`` until ``min_s``."""
    walls = []
    t_end = time.perf_counter() + min_s
    while not walls or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return points / statistics.median(walls)


def measure(tier_1m: pd.DataFrame, min_s: float = 0.5) -> dict:
    series = dense_series(tier_1m)
    n_pts = sum(len(v) for _, v in series)
    fits = [(v[None, :].astype(np.float32),
             canonicalize_stl_params(len(v), **STL_ARGS)) for _, v in series]
    # the chunk encoder stores the gap-free 1m values
    kept = [(t[~np.isnan(v)], v[~np.isnan(v)]) for t, v in series]
    n_kept = sum(len(v) for _, v in kept)
    blobs = [encode(t, v) for t, v in kept]
    return {
        "kernel.stl_pts_per_s": _rate(
            n_pts, lambda: [stl_filt(y, p) for y, p in fits], min_s),
        "gorilla.encode_pts_per_s": _rate(
            n_kept, lambda: [encode(t, v) for t, v in kept], min_s),
        "gorilla.decode_pts_per_s": _rate(
            n_kept, lambda: [decode(b) for b in blobs], min_s),
        "gorilla.bits_per_point": 8.0 * sum(map(len, blobs)) / n_kept,
    }
