"""STL gap-fill over per-(source) bucket series — the engine's one hot-path
pandas UDF (``applyInPandas``, Arrow-batched, vectorized NumPy inside; no
per-row Python, per BASELINE.json input_hint).

Each group = one source's rolled-up series. Grid densification happens
*inside* the UDF (reindex onto the complete bucket grid, NaN at gaps) —
doing it relationally would cost an extra shuffle + join for data the UDF
already holds (SURVEY.md §3.4).

Scale note: group size is bounded by the TIME RANGE (minutes in the
retention window), not by raw data volume — a year of minutes is ~525k
points, comfortably one task even at 10^12 input sequences. The skew-heavy
dimension (docs per source) was already collapsed by the salted rollup.
For windows beyond that (decades of minutes, or second-granularity tiers),
pass ``chunk_buckets``: the grid is split into fixed-size chunks with a
halo of surrounding buckets, one STL task per (source, chunk), interiors
stitched — bounding every task regardless of series length. With the
default ``n_outer=1`` the kernel applies no cross-chunk statistic (the
robustness-weight update is skipped on the last outer pass), and every
loess window is local, so a halo covering the widest window
(max(q_s*n_p, q_t, q_l)) reproduces the unchunked interior values EXACTLY
on gap-free grids (pinned by test). On gappy grids the match is only
approximate, for a reason inherent to the reference: stl.fut precomputes
the low-pass loess windows from the NaN-compacted index array
(stl.fut:145-148) but applies them to the DENSE ma3 series
(stl.fut:236-243), so every fit window is shifted left by the number of
NaNs occurring anywhere before it — a global dependence on the NaN prefix
count that no windowed computation can reproduce. The chunked path is
therefore "reference STL applied to each chunk window"; the unchunked
default remains the globally reference-exact path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernel import canonicalize_stl_params
from ..kernel.stl import stl_filt

GAPFILL_SCHEMA = (
    "source string, bucket timestamp, y double, seasonal double, "
    "trend double, remainder double, gapfilled double, cnt long"
)


def default_halo_buckets(n_p: int = 52, **params) -> int:
    """Halo width (in buckets) covering the full influence radius of the
    given STL parameterization — what a chunked or incremental
    recomputation must include around any touched range.

    One inner pass moves information by up to a ONE-SIDED seasonal window
    (q_s cycle points = q_s*n_p buckets at a series boundary, where the
    loess window is entirely to one side) plus the low-pass chain
    (2x ma(n_p) + ma(3) + loess q_l) plus the trend loess (q_t); and the
    n_inner (x n_outer) passes COMPOUND the radius because each pass's
    seasonal input depends on the previous pass's trend. The round-2
    single-window halo (max(q_s*n_p, q_t, q_l)) left ~3e-5 errors within
    ~q_s*n_p/2 of series edges — measured bit-exact only once the halo
    covers the compounded radius (tests/test_gapfill_chunked.py)."""
    # default q_s mirrors stl_gapfill's signature, so a caller that relies
    # on the operator defaults derives the matching halo
    params.setdefault("q_s", 19)
    p0 = canonicalize_stl_params(10 ** 9, n_p, **params)
    passes = max(1, p0.n_inner) * max(1, p0.n_outer)
    per_pass = p0.q_s * n_p + p0.q_t + p0.q_l + 2 * n_p + 3
    return passes * per_pass


def touched_chunk_ids(pos_ranges, chunk_buckets: int, halo_buckets: int) -> list[int]:
    """Chunk ids whose halo-extended window [k*C - H, (k+1)*C + H)
    intersects any of the given [lo, hi] position ranges — the set an
    incremental run must recompute when those positions changed."""
    C, H = int(chunk_buckets), int(halo_buckets)
    out: set[int] = set()
    for lo, hi in pos_ranges:
        k_lo = (int(lo) - H) // C
        k_hi = (int(hi) + H) // C
        out.update(range(k_lo, k_hi + 1))
    return sorted(out)


def stl_gapfill(
    rollup: DataFrame,
    value_col: str = "sum_n_tok",
    bucket_seconds: int = 60,
    n_p: int = 52,
    q_s: int = 19,
    d_s: int = 0,
    jump_s: int = 1,
    jump_t: int = 1,
    jump_l: int = 1,
    n_inner: int = 2,
    n_outer: int = 1,
    key_col: str = "source",
    chunk_buckets: int | None = None,
    halo_buckets: int | None = None,
    only_chunks: list[int] | None = None,
    n_keys: int | None = None,
    **extra_params,
) -> DataFrame:
    """rollup(source, bucket, cnt, value_col) -> densified + decomposed series.

    Output columns: y (raw value, NaN at grid gaps), seasonal/trend/remainder
    (reference STL semantics: remainder NaN at gaps, seasonal+trend defined
    everywhere — stl.fut:378-381), gapfilled = y where present else
    seasonal+trend.
    """
    freq = f"{bucket_seconds}s"
    params = dict(q_s=q_s, d_s=d_s, jump_s=jump_s, jump_t=jump_t,
                  jump_l=jump_l, n_inner=n_inner, n_outer=n_outer, **extra_params)

    if chunk_buckets is not None:
        return _stl_gapfill_chunked(rollup, value_col, bucket_seconds, n_p,
                                    params, key_col, chunk_buckets,
                                    halo_buckets, only_chunks, n_keys)
    if only_chunks is not None:
        raise ValueError("only_chunks requires chunk_buckets (incremental "
                         "recomputation is defined on the chunked grid)")

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        grid = pd.date_range(pdf["bucket"].min(), pdf["bucket"].max(),
                             freq=freq)
        return _decompose(key_col, key[0], pdf, value_col, grid, n_p,
                          params, slice(None))

    schema = GAPFILL_SCHEMA.replace("source string", f"{key_col} string")
    # Pin the grouped-map parallelism: the rolled-up input is small in bytes,
    # so AQE's partition coalescing would funnel every group into one or two
    # tasks and serialize the STL kernels. An explicit hash repartition by
    # the group key keeps tasks per key-bucket (the groupBy reuses this
    # exchange — no extra shuffle) and scales with the session's cores.
    import pyspark.sql.functions as F

    rollup = rollup.repartition(_grouped_map_partitions(rollup, n_keys),
                                F.col(key_col))
    return rollup.groupBy(key_col).applyInPandas(fn, schema)


def _grouped_map_partitions(df: DataFrame, n_keys: int | None = None) -> int:
    """Partition count of a grouped-map stage's hash exchange.

    Known group count ``g`` (``n_keys``): ``max(1, min(4g, 2 x cores))``.
    4g dilutes hash collisions to about one group per task wherever that
    fits in two waves of tasks; beyond two waves, every extra task is an
    empty Python-worker round trip. Measured on a 4-core host (2026-10-16,
    against commit 8f0408e, traced perfbench ``tier_maintain`` seed 3): the
    chunked gap-fill's 20 (source, chunk) groups ran as 256 tasks (task
    skew 88) and the per-tier chunk encodes as 4 x 16 tasks (skew 96),
    13.4 s of an 18.0 s op; at 8 tasks each the skews were 1.5 and 1.3 and
    the two stages took 7.3 s of an 11.8 s op. Per-task Python/Arrow
    overhead, not collisions, was the cost at this size.

    Unknown count: ``max(2 x cores, 256)``. The 256 floor came from a
    32-core host, where 64 keys hashed into 2 x cores partitions straggled
    (gap-fill 0.55, chunk encode 0.34 scaling efficiency at 2->8 cores);
    callers that cannot name their group count keep it."""
    dp2 = df.sparkSession.sparkContext.defaultParallelism * 2
    if n_keys is None:
        return max(dp2, 256)
    return max(1, min(4 * int(n_keys), dp2))


def _decompose(key_col: str, source, pdf: pd.DataFrame, value_col: str,
               grid: pd.DatetimeIndex, n_p: int, params: dict,
               interior: slice) -> pd.DataFrame:
    """One grouped-map task's body: densify ``pdf``'s (bucket, value, cnt)
    rows onto ``grid`` (NaN value / 0 count at gaps; a duplicated bucket
    keeps its first row, as reindex raises on a duplicated index),
    STL-decompose the grid series and return the ``interior`` grid
    positions as GAPFILL_SCHEMA rows. A series shorter than two seasonal
    cycles passes through undecomposed (S/T/R NaN, gapfilled = y)."""
    idx = pd.DatetimeIndex(pdf["bucket"])
    first = ~idx.duplicated()
    idx = idx[first]
    y = (pd.Series(pdf[value_col].astype("float64").values[first], index=idx)
         .reindex(grid).values)  # float64, NaN at gaps
    cnt = (pd.Series(pdf["cnt"].values[first], index=idx)
           .reindex(grid).fillna(0).astype("int64").values)
    n = len(y)
    if n < 2 * n_p:
        S = T = R = np.full(n, np.nan)
        gapfilled = y
    else:
        p = canonicalize_stl_params(n, n_p, **params)
        S, T, R = (a[0].astype(np.float64)
                   for a in stl_filt(y[None, :].astype(np.float32), p))
        gapfilled = np.where(np.isnan(y), S + T, y)
    return pd.DataFrame({
        key_col: source, "bucket": grid[interior], "y": y[interior],
        "seasonal": S[interior], "trend": T[interior],
        "remainder": R[interior], "gapfilled": gapfilled[interior],
        "cnt": cnt[interior],
    })


def _stl_gapfill_chunked(rollup: DataFrame, value_col: str, bucket_seconds: int,
                         n_p: int, params: dict, key_col: str,
                         chunk_buckets: int, halo_buckets: int | None,
                         only_chunks: list[int] | None = None,
                         n_keys: int | None = None) -> DataFrame:
    """Grid-chunked STL gap-fill: split the bucket grid into
    ``chunk_buckets``-sized chunks, extend each by a halo wide enough to
    cover the widest loess window, run one STL task per (key, chunk), emit
    only chunk interiors (an exact partition of the global grid — no
    overlap, no stitch seams).

    Chunk ids are anchored at the EPOCH (``k = unix(bucket)//bucket_seconds
    // C``), not at each key's first observation: a backfill that extends a
    series earlier must not shift every chunk boundary (that would make
    incremental recomputation rewrite the whole history), and absolute ids
    let an incremental run name exactly the chunks a touched time range
    intersects.

    Rows are assigned to their own chunk plus the ±ceil(H/C) neighbors whose
    halo can reach them (a relational explode — no driver loop, correct for
    ANY halo/chunk ratio), so the grouped-map task size is bounded by
    chunk + 2*halo regardless of series length.

    Caveat: a chunk whose [start - halo, end + halo) range contains no
    observations at all never materializes, so gaps longer than
    chunk + 2*halo are not extrapolated across (the unchunked path fills
    them from the global fit). At that gap size there is no nearby anchor
    anyway; size chunks to the retention window's plausible gap scale.
    """
    from pyspark.sql import functions as F

    C = int(chunk_buckets)
    if halo_buckets is None:
        # widest influence: seasonal window spans q_s points of a cycle
        # subseries = q_s * n_p buckets; trend/lowpass span q_t / q_l
        halo_buckets = default_halo_buckets(n_p, **params)
    H = int(halo_buckets)
    if C < 2 * n_p:
        raise ValueError(f"chunk_buckets={C} must be >= 2*n_p={2 * n_p}")
    D = -(-H // C)  # neighbors per side a halo can span (ceil(H/C))

    bounds = rollup.groupBy(key_col).agg(F.min("bucket").alias("_g0"),
                                         F.max("bucket").alias("_g1"))
    df = rollup.join(F.broadcast(bounds), key_col)
    pos = (F.unix_timestamp("bucket") / bucket_seconds).cast("long")
    p0c = (F.unix_timestamp("_g0") / bucket_seconds).cast("long")
    p1c = (F.unix_timestamp("_g1") / bucket_seconds).cast("long")
    k0 = (pos / C).cast("long")
    members = F.filter(
        F.transform(F.sequence(F.lit(-D), F.lit(D)), lambda d: k0 + d),
        lambda m: (m >= (p0c / C).cast("long")) & (m <= (p1c / C).cast("long"))
        & (pos >= m * C - H) & (pos <= (m + 1) * C - 1 + H),
    )
    df = df.select(
        key_col, "bucket", "cnt", value_col,
        p0c.alias("_p0"), p1c.alias("_p1"),
        F.explode(members).alias("_chunk"),
    )
    if only_chunks is not None:
        # incremental mode: recompute ONLY the named (epoch-anchored) chunks.
        # Bounds above were computed on the FULL series — an incremental run
        # must see true per-key edges, or grid clipping at the filter
        # boundary would shift NaN prefixes (the stl.fut low-pass hazard
        # documented in the module docstring) and silently change values.
        df = df.filter(F.col("_chunk").isin([int(c) for c in only_chunks]))

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        source, k = key[0], int(key[1])
        kp0 = int(pdf["_p0"].iloc[0])
        kp1 = int(pdf["_p1"].iloc[0])
        lo = max(k * C - H, kp0)
        hi = min((k + 1) * C - 1 + H, kp1)
        i_lo = max(k * C, kp0) - lo             # first interior offset
        i_hi = min((k + 1) * C - 1, kp1) - lo   # last interior offset
        if i_hi < i_lo:
            return pd.DataFrame(columns=["__k", "bucket", "y", "seasonal",
                                         "trend", "remainder", "gapfilled",
                                         "cnt"]).rename(columns={"__k": key_col})
        grid = pd.to_datetime(
            np.arange(lo, hi + 1) * bucket_seconds, unit="s")
        return _decompose(key_col, source, pdf, value_col, grid, n_p,
                          params, slice(i_lo, i_hi + 1))

    schema = GAPFILL_SCHEMA.replace("source string", f"{key_col} string")
    df = df.repartition(_grouped_map_partitions(rollup, n_keys),
                        F.col(key_col), F.col("_chunk"))
    return df.groupBy(key_col, "_chunk").applyInPandas(fn, schema)
