"""Retention: telescoping age-out of fine tiers with atomic snapshots."""

import os

import pytest
from layout import unnamed_files
from pyspark.sql import functions as F

from hastl_spark.plans.retention import (apply_chunk_retention, apply_retention,
                                         run_retention)
from hastl_spark.plans.rollup_job import run_pipeline
from hastl_spark.sources.sequences import generate_scale
from hastl_spark.sources.tables import KeyedTable


@pytest.mark.slow
def test_retention_drops_old_buckets_only(spark, tmp_path):
    seqs = generate_scale(spark, "xs").cache()
    out = str(tmp_path / "tiers")
    run_pipeline(spark, seqs, out, check_invariant=False)

    t = KeyedTable(f"{out}/tier_1m", ["source", "bucket"])
    before = t.read(spark)
    n_before = before.count()
    mx = before.agg(F.max("bucket")).collect()[0][0]

    rec = apply_retention(spark, t, keep_seconds=3600)  # keep last hour
    after = t.read(spark)
    assert after.filter(
        F.col("bucket") < F.lit(mx) - F.expr("INTERVAL 3600 SECONDS")).count() == 0
    kept_expected = before.filter(
        F.col("bucket") >= F.lit(mx) - F.expr("INTERVAL 3600 SECONDS")).count()
    assert after.count() == kept_expected < n_before
    assert rec["rows_in"] == kept_expected
    # snapshot advanced atomically; vacuum reclaims the old snapshot
    assert t.snapshot() == 2
    assert t.vacuum() >= 1
    assert t.read(spark).count() == kept_expected

    # policy runner: 1d tier untouched (keep forever)
    res = run_retention(spark, out, {"tier_1d": None, "tier_1h": 48 * 3600})
    assert "tier_1d" not in res and "tier_1h" in res


def test_day_pruned_retention_touches_only_boundary_day(spark, tmp_path):
    """On a day-partitioned table, retention must drop whole old days from
    the manifest WITHOUT rewriting them, rewrite only the cutoff-day
    partitions, and leave newer days' file paths untouched."""
    import pandas as pd

    from hastl_spark.sources.tables import DAY_SPEC, PART_SEP

    buckets = pd.date_range("2026-03-01", periods=5 * 24 * 60, freq="60s")
    pdf = pd.DataFrame({"source": "s1", "bucket": buckets,
                        "cnt": 1, "sum_n_tok": 7})
    df = spark.createDataFrame(pdf)
    t = KeyedTable(str(tmp_path / "t"), ["source", "bucket"],
                   part_spec=DAY_SPEC)
    t.merge_upsert(spark, df, watermark_col="bucket")
    man1 = t._load()
    assert len(man1["partitions"]) == 5  # 5 days

    # keep 36h: horizon = 2026-03-05 23:59, cutoff = 2026-03-04 11:59
    rec = apply_retention(spark, t, keep_seconds=36 * 3600)
    assert rec["op"] == "retention"
    man2 = t._load()
    days = sorted(p.split(PART_SEP)[-1] for p in man2["partitions"])
    assert days == ["2026-03-04", "2026-03-05"]
    # the newest day's data dir was NOT rewritten
    assert (man2["partitions"][f"s1{PART_SEP}2026-03-05"]
            == man1["partitions"][f"s1{PART_SEP}2026-03-05"])
    # the boundary day WAS rewritten (new snapshot path)
    assert (man2["partitions"][f"s1{PART_SEP}2026-03-04"]
            != man1["partitions"][f"s1{PART_SEP}2026-03-04"])
    # row-level semantics match the filter exactly
    got = t.read(spark)
    cutoff = pd.Timestamp("2026-03-05 23:59:00") - pd.Timedelta(hours=36)
    exp = pdf[pdf.bucket >= cutoff]
    assert got.count() == len(exp)
    assert got.agg(F.min("bucket")).collect()[0][0] == cutoff.to_pydatetime()


def test_chunk_retention_drops_aged_partitions_metadata_only(spark, tmp_path):
    """Unified chunk table (source~tier~month partitions, chunk_end
    watermark): fully-aged month partitions drop metadata-only; the
    boundary month is rewritten keeping chunks with chunk_end >= cutoff;
    unpoliced tiers keep everything."""
    import pandas as pd

    from hastl_spark.operators.chunks import gorilla_chunks
    from hastl_spark.sources.tables import CHUNK_SPEC, PART_SEP

    # 3 months of hourly points in one-day chunks (encoded per-month so
    # chunk boundaries align with partitions for crisp assertions)
    ch = None
    for start, hours in (("2026-01-01", 31 * 24), ("2026-02-01", 28 * 24),
                         ("2026-03-01", 31 * 24)):
        pdf = pd.DataFrame({
            "source": "s1",
            "bucket": pd.date_range(start, periods=hours, freq="3600s"),
            "sum_n_tok": 5.0})
        cm = gorilla_chunks(spark.createDataFrame(pdf), "sum_n_tok",
                            chunk_seconds=86400)
        ch = cm if ch is None else ch.unionByName(cm)
    ch = ch.withColumn("tier", F.lit("1m"))
    ch = ch.unionByName(ch.withColumn("tier", F.lit("1d")))
    t = KeyedTable(str(tmp_path / "chunks"), ["source", "tier", "chunk_start"],
                   part_spec=CHUNK_SPEC)
    t.merge_upsert(spark, ch, watermark_col="chunk_end",
                   replace_partitions=True)
    man1 = t._load()
    months_1m = sorted(p.split(PART_SEP)[2] for p in man1["partitions"]
                       if p.split(PART_SEP)[1] == "1m")
    assert months_1m == ["2026-01", "2026-02", "2026-03"]

    # keep 35 days of 1m chunks; 1d unpoliced (None)
    rec = apply_chunk_retention(spark, t, {"1m": 35 * 86400, "1d": None})
    assert rec["op"] == "chunk_retention"
    man2 = t._load()
    # horizon = max chunk_end (2026-03-31 23:00) -> cutoff ~2026-02-24:
    # the January partition's chunks all END before the cutoff -> dropped
    # (metadata-only: no rows_in attributed to the drop itself)
    p_jan = f"s1{PART_SEP}1m{PART_SEP}2026-01"
    assert p_jan in man1["partitions"] and p_jan not in man2["partitions"]
    assert rec["dropped_partitions"] >= 1
    # 1d tier untouched — all three months still present, same file paths
    for m in ("2026-01", "2026-02", "2026-03"):
        p = f"s1{PART_SEP}1d{PART_SEP}{m}"
        assert man2["partitions"][p] == man1["partitions"][p]
    # surviving 1m chunks all end at/after the cutoff
    kept = t.read(spark).filter("tier = '1m'").toPandas()
    cutoff = pd.Timestamp("2026-03-31 23:00:00") - pd.Timedelta(days=35)
    assert (kept["chunk_end"] >= cutoff).all()
    # the March partition was untouched (wholly newer than the cutoff)
    p_mar = f"s1{PART_SEP}1m{PART_SEP}2026-03"
    assert man2["partitions"][p_mar] == man1["partitions"][p_mar]


def _snapshot_dirs(t):
    return sorted(os.listdir(os.path.join(t.path, "data")))


def _chunk_table_with_newest_chunks(spark, tmp_path):
    """One chunk per (source, tier), each ending at the table's horizon;
    a 1-day policy puts the cutoff inside the chunks' month."""
    import pandas as pd

    from hastl_spark.operators.chunks import gorilla_chunks
    from hastl_spark.sources.tables import CHUNK_SPEC

    pdf = pd.DataFrame({
        "source": ["s1"] * 25 + ["s2"] * 25,
        "bucket": list(pd.date_range("2026-01-02", periods=25,
                                     freq="3600s")) * 2,
        "sum_n_tok": 5.0})
    ch = gorilla_chunks(spark.createDataFrame(pdf), "sum_n_tok",
                        chunk_seconds=7 * 86400)
    ch = ch.withColumn("tier", F.lit("1m")).unionByName(
        ch.withColumn("tier", F.lit("1h")))
    t = KeyedTable(str(tmp_path / "chunks"), ["source", "tier", "chunk_start"],
                   part_spec=CHUNK_SPEC)
    t.merge_upsert(spark, ch, watermark_col="chunk_end",
                   replace_partitions=True)
    assert t.read(spark).count() == 4
    return t, lambda: apply_chunk_retention(
        spark, t, {"1m": 86400, "1h": 86400, "1d": None})


def _day_table_starting_at_cutoff(spark, tmp_path):
    """Two days of hourly rows; a 47h policy puts the cutoff exactly at the
    older day's midnight, so the cutoff day loses no row."""
    import pandas as pd

    from hastl_spark.sources.tables import DAY_SPEC

    pdf = pd.DataFrame({
        "source": "s1",
        "bucket": pd.date_range("2026-03-04", periods=48, freq="3600s"),
        "cnt": 1, "sum_n_tok": 7})
    t = KeyedTable(str(tmp_path / "t"), ["source", "bucket"],
                   part_spec=DAY_SPEC)
    t.merge_upsert(spark, spark.createDataFrame(pdf), watermark_col="bucket")
    return t, lambda: apply_retention(spark, t, keep_seconds=47 * 3600)


@pytest.mark.parametrize("build", [_chunk_table_with_newest_chunks,
                                   _day_table_starting_at_cutoff],
                         ids=["chunk", "day"])
def test_boundary_partitions_that_lose_no_row_are_left_alone(spark, tmp_path,
                                                             build):
    """A partition at the cutoff whose oldest row is at or after it loses
    nothing, so retention must neither rewrite nor drop it: no new
    snapshot, no new data dir."""
    t, retain = build(spark, tmp_path)
    snap, dirs = t.snapshot(), _snapshot_dirs(t)
    rec = retain()
    assert rec["rewritten_partitions"] == []
    assert rec["dropped_partitions"] == 0
    assert t.snapshot() == snap
    assert _snapshot_dirs(t) == dirs


def test_source_partitioned_retention_drops_skips_and_rewrites(spark,
                                                               tmp_path):
    """A table partitioned by source only (the tier_1d layout, no
    part_spec) ages out by the same rule: an all-aged partition is dropped
    without a rewrite, a partition with no aged row keeps its data dir, and
    only the mixed partition is rewritten."""
    import pandas as pd

    days = lambda start, n: pd.date_range(start, periods=n, freq="1D")
    pdf = pd.concat([
        pd.DataFrame({"source": "old", "bucket": days("2026-01-01", 5)}),
        pd.DataFrame({"source": "new", "bucket": days("2026-01-20", 6)}),
        pd.DataFrame({"source": "mixed", "bucket": days("2026-01-08", 18)}),
    ], ignore_index=True).assign(cnt=1, sum_n_tok=3)
    t = KeyedTable(str(tmp_path / "tier_1d"), ["source", "bucket"])
    t.merge_upsert(spark, spark.createDataFrame(pdf), watermark_col="bucket")
    man1 = t._load()
    assert sorted(man1["partitions"]) == ["mixed", "new", "old"]

    # horizon 2026-01-25 -> cutoff 2026-01-15
    rec = apply_retention(spark, t, keep_seconds=10 * 86400)
    cutoff = pd.Timestamp("2026-01-15")
    assert rec["op"] == "retention"
    assert isinstance(rec["dropped_partitions"], int)
    assert rec["dropped_partitions"] == 1
    assert rec["rewritten_partitions"] == ["mixed"]
    man2 = t._load()
    assert "old" not in man2["partitions"]
    assert man2["partitions"]["new"] == man1["partitions"]["new"]
    assert man2["partitions"]["mixed"] != man1["partitions"]["mixed"]
    got = sorted((r["source"], r["bucket"]) for r in t.read(spark).collect())
    exp = sorted((s, b.to_pydatetime()) for s, b in
                 zip(pdf.source, pdf.bucket) if b >= cutoff)
    assert got == exp


def test_run_retention_reclaims_every_table(spark, tmp_path):
    """After run_retention no table holds a parquet file its manifest does
    not name — keep-forever tiers included — and the result keeps one
    record per aged table."""
    import pandas as pd

    from hastl_spark.sources.tables import DAY_SPEC

    out = tmp_path / "tiers"
    pdf = pd.DataFrame({
        "source": "s1",
        "bucket": pd.date_range("2026-03-01", periods=72, freq="3600s"),
        "cnt": 1, "sum_n_tok": 7})
    tables = {"tier_1m": KeyedTable(str(out / "tier_1m"), ["source", "bucket"],
                                    part_spec=DAY_SPEC),
              "tier_1d": KeyedTable(str(out / "tier_1d"), ["source", "bucket"])}
    for t in tables.values():
        t.merge_upsert(spark, spark.createDataFrame(pdf), watermark_col="bucket")
        # a second merge supersedes the newest day's (or source's) files
        t.merge_upsert(spark, spark.createDataFrame(pdf.tail(3)),
                       watermark_col="bucket")
    counts = {n: t.read(spark).count() for n, t in tables.items()}

    res = run_retention(spark, str(out), {"tier_1m": 36 * 3600,
                                          "tier_1d": None})
    assert set(res) == {"tier_1m"}
    for rec in res.values():
        assert isinstance(rec, dict)
        assert {"dropped_partitions", "rewritten_partitions"} <= set(rec)
    for name, t in tables.items():
        assert unnamed_files(t) == [], name
    assert tables["tier_1d"].read(spark).count() == counts["tier_1d"]
    assert tables["tier_1m"].read(spark).count() == 37  # cutoff row onwards
