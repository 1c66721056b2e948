"""Distributed as-of (nearest-predecessor/successor) join.

Spark has no native ASOF JOIN (DuckDB/Pandas do); the naive formulation —
an inequality join + per-left-row rank — degenerates to a broadcast
nested-loop or an exploding theta-join.  ``asof_join`` is a union-merge
window instead: tag left rows side=1 and right rows side=0, union them on
the key, sort each key by (time, side) inside ONE hash shuffle, and
propagate the most recent right-side payload to each left row with
``last(col, ignorenulls=True)`` over an unbounded-preceding window.  Cost:
one shuffle of O(|L| + |R|) rows, no join, no broadcast dependency.  The
window hashes on the key alone, so one hot key is one long task (AQE's
skew splitting applies to joins, not windows).

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

    A NULL ``by`` is a key like any other: the window partitions NULLs
    together, so a left row with a NULL key matches right rows with a NULL
    key, as ``pandas.merge_asof`` does (DuckDB's ``ASOF LEFT JOIN`` leaves
    it unmatched instead).
    """
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

    base = Window.partitionBy(by).orderBy(_T, _SIDE)
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pick = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731

    out = (
        l2.unionByName(r2)
        .select(F.col(by), F.col(_T), F.col(_SIDE),
                *[F.col(c) for c in l_cols],
                *[pick(c).alias(c) for c in payload], pick(_RT).alias(_RT))
        .filter(F.col(_SIDE) == left_side)
    )

    if tolerance_seconds is not None:
        # exact MICROSECOND distance: unix_timestamp() truncates sub-second
        # parts, which would disagree with pandas near the tolerance boundary
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
