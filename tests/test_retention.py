"""Retention: telescoping age-out of fine tiers with atomic snapshots."""

import pytest
from pyspark.sql import functions as F

from hastl_spark.plans.retention import apply_retention, run_retention
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
    assert rec["op"] == "retention_day_pruned"
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
    from hastl_spark.plans.retention import apply_chunk_retention
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
