"""Retention: age out raw/fine-grained data while coarser tiers keep the
history — the third leg of rollup + downsample + RETENTION (north_rule).

Policy = {tier: keep_duration}; a bucket is dropped from a tier once it is
older than the tier's horizon (the table's max manifest watermark, so
deterministic replays age identically). Every table, whatever its layout,
ages out by one rule (``_age_out``) that classifies each partition from
metadata alone:

* **drop** (metadata-only, no file IO) — its watermark is older than its
  cutoff;
* **leave untouched** — its oldest row is at or after the cutoff: the
  start of its day or month when the table is partitioned by the
  retention column's day or month, else the column's parquet-footer min;
* **rewrite** — every other partition (every candidate when some footer
  lacks stats), in one ``replace_partitions`` merge of the rows it keeps.

Both publish through the atomic-manifest machinery of MERGE — readers see
pre- or post-retention state, never a mix; the lineage records what was
dropped.

``run_retention`` ends with one reclaim step: ``KeyedTable.vacuum()`` on
every table under ``out_dir``, keep-forever tiers included. It deletes the
data dirs the age-out and earlier merges superseded and strips the
expired lineage records' maps, so stored bytes track the live data, not
the number of commits.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hastl_spark.sources.tables import PART_SEP, KeyedTable

# classic telescoping defaults (seconds)
DEFAULT_POLICY = {
    "tier_1m": 90 * 86400,
    "tier_1h": 2 * 365 * 86400,
    "tier_1d": None,          # keep forever
    "gapfill_1m": 90 * 86400,
}

_KEY_FMT = {"yyyy-MM-dd": "%Y-%m-%d", "yyyy-MM": "%Y-%m"}


def _horizon(spark: SparkSession, table: KeyedTable, col: str):
    """Max ``col`` of the table: its max manifest watermark, or a scan when
    the table records no watermarks."""
    wms = table._load()["watermarks"]
    if wms:
        return max(_as_dt(v) for v in wms.values())
    return table.read(spark).agg(F.max(col)).collect()[0][0]


def _as_dt(v) -> datetime.datetime:
    return datetime.datetime.fromisoformat(str(v))


def _oldest_rows(table: KeyedTable, man: dict, col: str, pvals) -> dict | None:
    """``{pval: oldest possible col value}`` from metadata only, or None
    when some partition has no usable bound."""
    spec = table.part_spec or {}
    fmt = _KEY_FMT.get(spec.get("fmt", "yyyy-MM-dd"))
    if spec.get("day_of") == col and fmt:
        try:
            return {p: datetime.datetime.strptime(p.split(PART_SEP)[-1], fmt)
                    for p in pvals}
        except ValueError:  # a NULL time key: no day to start from
            return None
    stats = KeyedTable._footer_stats(
        table.path, {p: man["partitions"][p] for p in pvals}, col)
    return stats and {p: s["_lo"] for p, s in stats.items()}


def _age_out(spark: SparkSession, table: KeyedTable, col: str, cutoff_of,
             keep) -> dict:
    """The one retention rule. ``cutoff_of(pval)`` is the partition's
    cutoff (None = keep forever); ``keep`` is the Column predicate of the
    rows a rewritten partition keeps. Returns the lineage record of the
    last commit, with the drop/rewrite/untouched counts."""
    man = table._load()
    wms = man["watermarks"]
    drop, cands = [], {}
    for p in sorted(man["partitions"]):
        cut = cutoff_of(p)
        if cut is None:
            continue
        if p in wms and _as_dt(wms[p]) < cut:
            drop.append(p)
        else:
            cands[p] = cut
    lo = _oldest_rows(table, man, col, cands) if cands else {}
    rewrite = [p for p, cut in cands.items() if lo is None or lo[p] < cut]

    rewritten, rows_in = [], 0
    if rewrite:
        kept = table.read_partitions(spark, rewrite).filter(keep)
        mrec = table.merge_upsert(spark, kept, watermark_col=col,
                                  replace_partitions=True)
        rewritten, rows_in = mrec["partitions"], mrec["rows_in"]
        # partitions whose kept set was empty wrote no partition dir ->
        # they were not rewritten and must be dropped outright
        drop += [p for p in rewrite if p not in set(rewritten)]

    rec = table.drop_partitions(drop) if drop else {
        "snapshot": table.snapshot(), "partitions": []}
    rec.update({
        "dropped_partitions": len(drop),
        "rewritten_partitions": rewritten,
        "rows_in": rows_in,
        "untouched_partitions": len(table.partition_values()) - len(rewritten),
    })
    return rec


def apply_retention(spark: SparkSession, table: KeyedTable, keep_seconds: int,
                    bucket_col: str = "bucket", now=None) -> dict:
    """Drop rows with ``bucket < horizon - keep_seconds`` by the one rule
    (``_age_out``), on any partition layout. Returns the lineage record
    (cutoff, horizon, dropped/rewritten/untouched partitions)."""
    if now is None:
        now = _horizon(spark, table, bucket_col)
    cutoff = now - datetime.timedelta(seconds=int(keep_seconds))
    rec = _age_out(spark, table, bucket_col, lambda p: cutoff,
                   F.col(bucket_col) >= F.lit(cutoff))
    # record the actual CUTOFF (rows below it were dropped), not the
    # horizon — an auditor reading lineage needs the deletion boundary
    rec.update({"op": "retention", "retention_cutoff": str(cutoff),
                "retention_horizon": str(now),
                "keep_seconds": int(keep_seconds)})
    return rec


def apply_chunk_retention(spark: SparkSession, table: KeyedTable,
                          tier_policy: dict, now=None) -> dict:
    """Retention for the unified Gorilla chunk table (partition value
    ``source~tier~yyyy-MM``, per-partition watermark = max ``chunk_end``)
    by the one rule, each partition cut at its tier's horizon. A chunk is
    kept while ``chunk_end >= cutoff`` — chunk-granularity retention:
    points inside a kept chunk that are individually older than the cutoff
    remain until their whole chunk ages out (the standard trade for
    compressed chunk stores; cf. TimescaleDB drop_chunks semantics).

    ``tier_policy`` maps the chunk table's ``tier`` column values (e.g.
    "1m", "gapfill_1m") to keep_seconds (None = keep forever).
    """
    if now is None:
        now = _horizon(spark, table, "chunk_end")
    cutoffs = {t: now - datetime.timedelta(seconds=k)
               for t, k in tier_policy.items() if k is not None}
    keep = F.lit(False)
    for tier, cut in cutoffs.items():
        keep = keep | ((F.col("tier") == tier)
                       & (F.col("chunk_end") >= F.lit(cut)))
    rec = _age_out(spark, table, "chunk_end",
                   lambda p: cutoffs.get(p.split(PART_SEP)[1]), keep)
    rec.update({"op": "chunk_retention",
                "retention_cutoffs": {t: str(cutoffs.get(t))
                                      for t in tier_policy}})
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
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if os.path.isfile(os.path.join(path, "_manifest.json")):
            KeyedTable(path, ["source", "bucket"]).vacuum()
    return results
