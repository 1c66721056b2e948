"""Retention: age out raw/fine-grained data while coarser tiers keep the
history — the third leg of rollup + downsample + RETENTION (north_rule).

Policy = {tier: keep_duration}; a bucket is dropped from a tier once it is
older than the tier's horizon (measured against the tier's own max bucket,
so deterministic replays age identically). Deletion is a snapshot rewrite
of affected partitions through the same atomic-manifest machinery as MERGE
— readers see pre- or post-retention state, never a mix; the lineage
records what was dropped.
"""

from __future__ import annotations

import os
from datetime import timedelta

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hastl_spark.sources.tables import KeyedTable

# classic telescoping defaults (seconds)
DEFAULT_POLICY = {
    "tier_1m": 90 * 86400,
    "tier_1h": 2 * 365 * 86400,
    "tier_1d": None,          # keep forever
    "gapfill_1m": 90 * 86400,
}


def apply_retention(spark: SparkSession, table: KeyedTable, keep_seconds: int,
                    bucket_col: str = "bucket", now=None) -> dict:
    """Drop rows with ``bucket < horizon - keep_seconds``. Returns the
    lineage record (rows kept per partition, cutoff).

    On a day-partitioned table (part_spec day_of == bucket_col) this is
    partition-pruned: whole days older than the cutoff are dropped from the
    manifest without touching data files, only the single boundary day is
    rewritten, and newer days keep their existing files — O(1 day) instead
    of a full-table rewrite. Other layouts fall back to the snapshot
    overwrite."""
    man = table._load()
    spec = table.part_spec
    if (spec and spec.get("day_of") == bucket_col and man["partitions"]
            and spec.get("fmt", "yyyy-MM-dd") in ("yyyy-MM-dd", "yyyy-MM")):
        return _apply_retention_day_pruned(spark, table, keep_seconds,
                                           bucket_col, now)
    cur = table.read(spark)
    if now is None:
        now = cur.agg(F.max(bucket_col)).collect()[0][0]
    cutoff = F.lit(now) - F.expr(f"INTERVAL {int(keep_seconds)} SECONDS")
    kept = cur.filter(F.col(bucket_col) >= cutoff)
    rec = table.overwrite(spark, kept, watermark_col=bucket_col)
    # record the actual CUTOFF (rows below it were dropped), not the
    # horizon — an auditor reading lineage needs the deletion boundary
    rec["retention_cutoff"] = str(now - timedelta(seconds=int(keep_seconds)))
    rec["retention_horizon"] = str(now)
    rec["keep_seconds"] = int(keep_seconds)
    return rec


def _apply_retention_day_pruned(spark: SparkSession, table: KeyedTable,
                                keep_seconds: int, bucket_col: str,
                                now=None) -> dict:
    import datetime

    from hastl_spark.sources.tables import PART_SEP

    pvals = table.partition_values()
    if now is None:
        # horizon from the manifest watermarks (max bucket ever merged) —
        # no data scan needed
        wms = table._load()["watermarks"]
        now = max(wms.values()) if wms else None
        if now is not None:
            now = datetime.datetime.fromisoformat(str(now))
        else:
            now = table.read(spark).agg(F.max(bucket_col)).collect()[0][0]
    cutoff = now - datetime.timedelta(seconds=int(keep_seconds))
    # partition time-key at the table's granularity (day or month) —
    # ISO formats compare lexicographically either way
    py_fmt = {"yyyy-MM-dd": "%Y-%m-%d", "yyyy-MM": "%Y-%m"}[
        table.part_spec.get("fmt", "yyyy-MM-dd")]
    cutoff_day = cutoff.strftime(py_fmt)

    day_of = lambda p: p.split(PART_SEP)[-1]
    fully_old = [p for p in pvals if day_of(p) < cutoff_day]
    boundary = [p for p in pvals if day_of(p) == cutoff_day]

    rows_kept_boundary = 0
    rewritten = []
    if boundary:
        kept = (table.read_partitions(spark, boundary)
                .filter(F.col(bucket_col) >= F.lit(cutoff)))
        mrec = table.merge_upsert(spark, kept, watermark_col=bucket_col,
                                  replace_partitions=True)
        rewritten = mrec["partitions"]
        rows_kept_boundary = mrec["rows_in"]
        # boundary partitions whose kept set was empty wrote no partition
        # dir -> they were not rewritten and must be dropped outright
        fully_old += [p for p in boundary if p not in set(rewritten)]

    if fully_old:
        rec = table.drop_partitions(fully_old)
    else:
        rec = {"snapshot": table.snapshot(), "partitions": []}
    rec.update({
        "op": "retention_day_pruned",
        "retention_cutoff": str(now - timedelta(seconds=int(keep_seconds))),
        "retention_horizon": str(now),
        "keep_seconds": int(keep_seconds),
        "dropped_partitions": len(fully_old),
        "rewritten_partitions": rewritten,
        "rows_in": rows_kept_boundary,
        "untouched_partitions": len(table.partition_values()) - len(rewritten),
    })
    return rec


def apply_chunk_retention(spark: SparkSession, table: KeyedTable,
                          tier_policy: dict, now=None) -> dict:
    """Retention for the unified Gorilla chunk table (partition value
    ``source~tier~yyyy-MM``, per-partition watermark = max ``chunk_end``):

    * partitions whose watermark is older than their tier's cutoff hold
      ONLY fully-aged chunks -> dropped metadata-only (no file IO);
    * boundary partitions (start month at/before the cutoff but watermark
      newer) are rewritten keeping chunks with ``chunk_end >= cutoff`` —
      chunk-granularity retention: points inside a kept chunk that are
      individually older than the cutoff remain until their whole chunk
      ages out (the standard trade for compressed chunk stores; cf.
      TimescaleDB drop_chunks semantics).

    ``tier_policy`` maps the chunk table's ``tier`` column values (e.g.
    "1m", "gapfill_1m") to keep_seconds (None = keep forever).
    """
    import datetime

    from hastl_spark.sources.tables import PART_SEP

    man = table._load()
    wms = man["watermarks"]
    if not wms:
        return {"partitions": [], "op": "chunk_retention", "rows_in": 0}
    as_dt = lambda v: datetime.datetime.fromisoformat(str(v))
    if now is None:
        now = max(as_dt(v) for v in wms.values())
    cutoffs = {t: (now - datetime.timedelta(seconds=k) if k is not None else None)
               for t, k in tier_policy.items()}

    drop, boundary = [], []
    for p in table.partition_values():
        _, tier, month = p.split(PART_SEP)
        cut = cutoffs.get(tier)
        if cut is None:
            continue
        if as_dt(wms[p]) < cut:
            drop.append(p)
        elif month <= cut.strftime("%Y-%m"):
            boundary.append(p)

    rows_kept = 0
    rewritten = []
    if boundary:
        cut_expr = None
        for tier, cut in cutoffs.items():
            if cut is None:
                continue
            cond = (F.col("tier") == tier) & (F.col("chunk_end") >= F.lit(cut))
            cut_expr = cond if cut_expr is None else (cut_expr | cond)
        # tiers without a policy keep everything
        no_policy = ~F.col("tier").isin([t for t, c in cutoffs.items()
                                         if c is not None])
        kept = table.read_partitions(spark, boundary).filter(cut_expr | no_policy)
        mrec = table.merge_upsert(spark, kept, watermark_col="chunk_end",
                                  replace_partitions=True)
        rewritten = mrec["partitions"]
        rows_kept = mrec["rows_in"]
        drop += [p for p in boundary if p not in set(rewritten)]

    rec = table.drop_partitions(drop) if drop else {
        "snapshot": table.snapshot(), "partitions": []}
    rec.update({
        "op": "chunk_retention",
        "retention_cutoffs": {t: str(c) for t, c in cutoffs.items()},
        "dropped_partitions": len(drop),
        "rewritten_partitions": rewritten,
        "rows_in": rows_kept,
        "untouched_partitions": len(table.partition_values()) - len(rewritten),
    })
    return rec


def run_retention(spark: SparkSession, out_dir: str,
                  policy: dict | None = None) -> dict:
    policy = dict(DEFAULT_POLICY if policy is None else policy)
    results = {}
    for tier, keep in policy.items():
        if keep is None:
            continue
        path = os.path.join(out_dir, tier)
        table = KeyedTable(path, ["source", "bucket"])
        if table.exists():
            results[tier] = apply_retention(spark, table, keep)
    chunk_table = KeyedTable(os.path.join(out_dir, "chunks"),
                             ["source", "tier", "chunk_start"])
    if chunk_table.exists():
        # chunk tiers inherit their source tier's horizon
        tier_policy = {"1m": policy.get("tier_1m"),
                       "1h": policy.get("tier_1h"),
                       "1d": policy.get("tier_1d"),
                       "gapfill_1m": policy.get("gapfill_1m")}
        results["chunks"] = apply_chunk_retention(spark, chunk_table, tier_policy)
    return results
