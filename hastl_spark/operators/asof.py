"""Distributed as-of (nearest-predecessor/successor) join.

Spark has no native ASOF JOIN (DuckDB/Pandas do); the naive formulation —
an inequality join + per-left-row rank — degenerates to a broadcast
nested-loop or an exploding theta-join.  Three plans, one semantics (all
row-identical by test; BENCH/asof_scale.json holds historical scale
numbers from 2026-08 runs on another host) — two union-merge window
variants plus a zero-shuffle broadcast fast path
(``asof_join_broadcast``, defined below, for small right sides):

``asof_join`` (per-key window):
    tag left rows side=1 and right rows side=0, union them on the key,
    sort each key by (time, side) inside ONE hash shuffle, and propagate
    the most recent right-side payload to each left row with
    ``last(col, ignorenulls=True)`` over an unbounded-preceding window.
    Cost: one shuffle of O(|L| + |R|) rows, no join, no broadcast
    dependency.  Limitation: the window hashes on the key alone, so ONE
    hot key = one straggler task (measured: a 322M-row skewed-source
    enrich pinned a single task for minutes while 13 finished in seconds
    — AQE's skew splitting applies to joins, not windows).

``asof_join_bucketed`` (skew-safe, two-pass):
    additionally bucket time into ``bucket_seconds`` grains and window by
    (key, bucket) — parallelism becomes #(key, bucket) pairs, so a hot
    key splits across its time range.  Cross-bucket history is restored
    by a carry pass on the BUCKET-GRAIN frame (one row per (key, bucket)
    — tiny): the latest right row per bucket, propagated forward with an
    ignorenulls window, is injected into each bucket as a synthetic row
    at the bucket boundary sorting before (backward) / after (forward)
    all real rows.  Same exact semantics as ``asof_join`` (pinned by
    tests); cost is the same O(|L| + |R|) shuffle (now balanced) plus
    one distinct + window over the bucket-grain frame.

``direction="backward"`` matches right rows with time <= left time
(inclusive); ``"forward"`` matches time >= left time.  ``tolerance_seconds``
nulls out matches further than the tolerance, like ``pandas.merge_asof``.

If ``right`` holds duplicate (by, time) rows, the one sorting last in the
window order wins for backward (first for forward) — deterministic only
if the right side is unique per (by, time), which aggregated tiers are;
dedupe first otherwise (``pandas.merge_asof`` has the same caveat).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_T = "__asof_t"
_SIDE = "__asof_side"
_RT = "__asof_rt"
_B = "__asof_b"


def _prep(left, right, by, left_on, right_on, direction):
    """Validate + build the tagged, union-compatible side frames."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    payload = [c for c in right.columns if c not in (by, right_on)]
    collide = set(payload) & set(left.columns)
    if collide:
        raise ValueError(f"right payload columns collide with left: {sorted(collide)}")

    r_schema = {f.name: f.dataType for f in right.schema.fields}
    l_cols = [c for c in left.columns if c != by]
    l_types = {f.name: f.dataType for f in left.schema.fields}

    # Backward: right sorts BEFORE left at equal time (side 0 < 1) so an
    # equal-time right row is visible to last() — inclusive semantics.
    # Forward mirrors it: left first (side 0), first() over the following
    # window sees an equal-time right row (side 1).
    left_side, right_side = (1, 0) if direction == "backward" else (0, 1)

    l2 = left.select(
        F.col(by),
        F.col(left_on).cast("timestamp").alias(_T),
        F.lit(left_side).alias(_SIDE),
        *[F.col(c) for c in l_cols],
        *[F.lit(None).cast(r_schema[c]).alias(c) for c in payload],
        F.lit(None).cast("timestamp").alias(_RT),
    )
    r2 = right.select(
        F.col(by),
        F.col(right_on).cast("timestamp").alias(_T),
        F.lit(right_side).alias(_SIDE),
        *[F.lit(None).cast(l_types[c]).alias(c) for c in l_cols],
        *[F.col(c) for c in payload],
        F.col(right_on).cast("timestamp").alias(_RT),
    )
    return l2, r2, payload, l_cols, left_side


def _window_pick(u, part_cols, direction, payload, l_cols, by, left_side):
    """Run the merge window over ``u`` and keep enriched left rows."""
    base = Window.partitionBy(*part_cols).orderBy(_T, _SIDE)
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pick = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731

    matched = [pick(c).alias(c) for c in payload]
    return (
        u.select(F.col(by), F.col(_T), F.col(_SIDE),
                 *[F.col(c) for c in l_cols],
                 *matched, pick(_RT).alias(_RT))
        .filter(F.col(_SIDE) == left_side)
    )


def _finish(out, by, l_cols, payload, right_on, tolerance_seconds):
    """Apply the tolerance gate and project the public schema."""
    if tolerance_seconds is not None:
        # exact MICROSECOND distance: unix_timestamp() truncates sub-second
        # parts, which would make the window plans disagree with the
        # ns-exact broadcast plan (and pandas) near the tolerance boundary
        dist = F.abs(F.unix_micros(_T) - F.unix_micros(_RT))
        keep = (F.col(_RT).isNotNull()
                & (dist <= F.lit(int(tolerance_seconds) * 1_000_000)))
        out = out.select(
            by, _T, _SIDE,
            *l_cols,
            *[F.when(keep, F.col(c)).alias(c) for c in payload],
            F.when(keep, F.col(_RT)).alias(_RT),
        )
    return out.select(by, *l_cols, *payload, F.col(_RT).alias(f"matched_{right_on}"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    by: str,
    left_on: str,
    right_on: str,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Return ``left`` with the as-of matching row of ``right`` appended.

    ``right``'s non-key columns are appended (their names must not collide
    with ``left``'s); ``right_on`` itself comes back as ``matched_<right_on>``
    so callers can see/filter the match distance.  Unmatched left rows keep
    the right columns null (left-outer semantics).
    """
    l2, r2, payload, l_cols, left_side = _prep(
        left, right, by, left_on, right_on, direction)
    u = l2.unionByName(r2)
    out = _window_pick(u, [by], direction, payload, l_cols, by, left_side)
    return _finish(out, by, l_cols, payload, right_on, tolerance_seconds)


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    *,
    by: str,
    left_on: str,
    right_on: str,
    bucket_seconds: int = 3600,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Skew-safe ``asof_join``: identical semantics, windowed by
    (key, time-bucket) with carry rows restoring cross-bucket history.

    Pick ``bucket_seconds`` so a hot key's densest bucket fits a task
    comfortably (e.g. 1h for second-grain events); the bucket-grain carry
    frame has one row per (key, bucket) and stays tiny at any scale.
    """
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    l2, r2, payload, l_cols, left_side = _prep(
        left, right, by, left_on, right_on, direction)

    bucket = lambda c: F.floor(F.unix_timestamp(c) / bucket_seconds)  # noqa: E731
    l2b = l2.withColumn(_B, bucket(F.col(_T)))
    r2b = r2.withColumn(_B, bucket(F.col(_T)))

    # --- bucket-grain carry pass (tiny frame: one row per (key, bucket)).
    # Latest (backward) / earliest (forward) right row per bucket, packed.
    pack = F.struct(*[F.col(c) for c in payload], F.col(_RT))
    if direction == "backward":
        per_bucket = r2b.groupBy(by, _B).agg(F.max_by(pack, F.col(_T)).alias("_pk"))
        carry_w = (Window.partitionBy(by).orderBy(_B)
                   .rowsBetween(Window.unboundedPreceding, -1))
        carry = F.last("_pk", ignorenulls=True).over(carry_w)
        carry_side, boundary = -1, F.col(_B) * bucket_seconds
    else:
        per_bucket = r2b.groupBy(by, _B).agg(F.min_by(pack, F.col(_T)).alias("_pk"))
        carry_w = (Window.partitionBy(by).orderBy(_B)
                   .rowsBetween(1, Window.unboundedFollowing))
        carry = F.first("_pk", ignorenulls=True).over(carry_w)
        carry_side, boundary = 2, (F.col(_B) + 1) * bucket_seconds

    # one distinct over the union — map-side partial aggregation already
    # collapses duplicates before the exchange, so per-side distincts
    # would just add two more shuffling aggregations
    buckets = (
        l2b.select(by, _B)
        .unionByName(r2b.select(by, _B)).distinct()
        .join(per_bucket, [by, _B], "left")
        .select(by, _B, carry.alias("_carry"))
        .filter(F.col("_carry").isNotNull())
    )
    l_types = dict(zip(l2.schema.names, [f.dataType for f in l2.schema.fields]))
    carry_rows = buckets.select(
        F.col(by),
        boundary.cast("timestamp").alias(_T),
        F.lit(carry_side).alias(_SIDE),
        *[F.lit(None).cast(l_types[c]).alias(c) for c in l_cols],
        *[F.col(f"_carry.{c}").alias(c) for c in payload],
        F.col(f"_carry.{_RT}").alias(_RT),
        F.col(_B),
    )

    # --- balanced merge window over (key, bucket); every bucket resolves
    # locally because its carry row seeds the history at the boundary.
    u = l2b.unionByName(r2b).unionByName(carry_rows)
    out = _window_pick(u, [by, _B], direction, payload, l_cols, by, left_side)
    return _finish(out, by, l_cols, payload, right_on, tolerance_seconds)


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    *,
    by: str,
    left_on: str,
    right_on: str,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
    max_right_rows: int = 5_000_000,
) -> DataFrame:
    """Zero-shuffle as-of: the broadcast-hash-join analogue.

    When the right side is small (a rollup tier: keys x buckets), ship it
    to every task and resolve each left row MAP-SIDE with a vectorized
    binary search (``np.searchsorted`` per Arrow batch) — the left side is
    never shuffled or sorted, so the plan is pure scan + mapInPandas and
    scales with input bandwidth, immune to key skew entirely.  This is
    what a 10^12-row enrich against a 10^5-row tier should compile to.

    The right side is collected to the driver (like any broadcast build
    side); ``max_right_rows`` fails fast beyond the supported size.
    Semantics identical to ``asof_join`` (pinned by tests), including
    inclusive boundaries, left-outer nulls, and the tolerance gate.
    """
    import numpy as np
    import pandas as pd

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    payload = [c for c in right.columns if c not in (by, right_on)]
    collide = set(payload) & set(left.columns)
    if collide:
        raise ValueError(f"right payload columns collide with left: {sorted(collide)}")

    # Single execution of the (typically aggregated) right-side plan: the
    # limit+1 collect IS the size probe — a separate count() would run the
    # whole build-side job twice.
    rpdf = right.select(by, right_on, *payload).limit(max_right_rows + 1).toPandas()
    if len(rpdf) > max_right_rows:
        raise ValueError(
            f"right side exceeds max_right_rows={max_right_rows}; "
            "use asof_join_bucketed for large-large as-of")
    if rpdf[by].isna().any():
        # the window plans group NULL keys together and match them; a dict
        # keyed by NaN cannot (NaN != NaN under dict lookup) — refuse
        # rather than silently drop the group (review finding). Left-side
        # NULL keys stay unmatched under BOTH plans when the right side
        # has none, so that path needs no special casing.
        raise ValueError(
            "asof_join_broadcast: right side has NULL by-keys — the "
            "broadcast build cannot represent a NULL key group; use "
            "asof_join (window plan) or filter the NULL keys explicitly")
    rpdf = rpdf.sort_values([by, right_on], kind="mergesort")
    # Build side: per key, typed numpy arrays only — the hot loop on the
    # workers must be pure fancy-indexing, no pandas conversions.
    build: dict = {}
    for key, grp in rpdf.groupby(by, sort=False):
        times = (pd.to_datetime(grp[right_on]).to_numpy()
                 .astype("datetime64[ns]").astype("int64"))
        rts = pd.to_datetime(grp[right_on]).to_numpy().astype("datetime64[ns]")
        cols = {c: grp[c].to_numpy() for c in payload}
        build[key] = (times, rts, cols)
    payload_dtypes = {c: rpdf[c].to_numpy().dtype for c in payload}

    # The build table ships inside the task closure: PySpark auto-wraps
    # large serialized commands in a JVM-side broadcast, which is the
    # battle-tested path. An explicit sc.broadcast() python object fetched
    # inside mapInPandas deadlocked Spark 4.1's single-threaded
    # PythonRunner at scale here (JVM epoll-reading output while every
    # worker blocked reading input; 0% CPU) — do not reintroduce it.
    backward = direction == "backward"
    tol_ns = None if tolerance_seconds is None else int(tolerance_seconds) * 10**9

    from pyspark.sql.types import StructField, StructType, TimestampType

    # Payload + match fields MUST be declared nullable: unmatched left rows
    # carry nulls even when the right column itself is non-nullable (e.g. a
    # count() aggregate) — Arrow enforces the declared nullability.
    out_schema = list(left.schema.fields) + [
        StructField(f.name, f.dataType, True)
        for f in right.schema.fields if f.name in payload
    ]
    schema = StructType(out_schema + [
        StructField(f"matched_{right_on}", TimestampType(), True)])
    l_names = [f.name for f in left.schema.fields]

    def _masked_series(vals, miss):
        """Typed column with nulls at ``miss`` — dtype-preserving so Arrow
        round-trips ints as ints (pandas nullable arrays), not float64."""
        if np.issubdtype(vals.dtype, np.integer):
            return pd.Series(pd.arrays.IntegerArray(
                vals.astype("int64"), mask=miss.copy()))
        if np.issubdtype(vals.dtype, np.floating):
            vals = vals.astype("float64", copy=True)
            vals[miss] = np.nan
            return pd.Series(vals)
        if np.issubdtype(vals.dtype, np.datetime64):
            vals = vals.astype("datetime64[ns]", copy=True)
            vals[miss] = np.datetime64("NaT")
            return pd.Series(vals)
        out = vals.astype(object, copy=True)
        out[miss] = None
        return pd.Series(out)

    def resolve(batches):
        tbl = build
        for pdf in batches:
            n = len(pdf)
            ts = (pdf[left_on].to_numpy().astype("datetime64[ns]")
                  .astype("int64"))
            # group rows by key via factorize+argsort (C speed) — no
            # per-key O(n) mask scans
            codes, uniques = pd.factorize(pdf[by], sort=False)
            order = np.argsort(codes, kind="stable")
            bounds = np.searchsorted(codes[order], np.arange(len(uniques) + 1))
            hit = np.zeros(n, dtype=bool)
            out_cols = {}
            out_rt = np.full(n, np.datetime64("NaT"), dtype="datetime64[ns]")
            gathered = {c: None for c in payload}
            for ki, key in enumerate(uniques):
                entry = tbl.get(key)
                if entry is None:
                    continue
                sel = order[bounds[ki]:bounds[ki + 1]]
                times, rts, cols = entry
                t = ts[sel]
                if backward:
                    pos = np.searchsorted(times, t, side="right") - 1
                else:
                    pos = np.searchsorted(times, t, side="left")
                    pos[pos >= len(times)] = -1
                if tol_ns is not None:
                    ok = pos >= 0
                    dist = np.abs(t - np.where(ok, times[np.maximum(pos, 0)], 0))
                    pos = np.where(ok & (dist <= tol_ns), pos, -1)
                h = pos >= 0
                hsel, hpos = sel[h], pos[h]
                hit[hsel] = True
                out_rt[hsel] = rts[hpos]
                for c in payload:
                    src = cols[c]
                    buf = gathered[c]
                    if buf is None:
                        buf = gathered[c] = np.zeros(n, dtype=src.dtype)
                    buf[hsel] = src[hpos]
            res = pdf[l_names].copy()
            miss = ~hit
            for c in payload:
                buf = gathered[c]
                if buf is None:  # no key of this batch exists in right
                    buf = np.zeros(n, dtype=payload_dtypes[c])
                res[c] = _masked_series(buf, miss)
            res[f"matched_{right_on}"] = out_rt
            yield res

    return left.mapInPandas(resolve, schema=schema)
