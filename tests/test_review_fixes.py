"""Pinning tests for the round-5 operator/source review fixes."""

import pytest
from pyspark.sql import functions as F

from hastl_spark.operators.sketch import kmv_distinct
from hastl_spark.operators.text import deterministic_split
from hastl_spark.sources.tables import KeyedTable


def test_kmv_ignores_nulls(spark):
    rows = ([("g", v) for v in range(50)] + [("g", None)]
            + [("empty", None)])
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {r.grp: (r.n_seen, r.est)
           for r in kmv_distinct(df, group_col="grp", value_col="v",
                                 k=256).collect()}
    # SQL count(DISTINCT v) semantics: NULL neither counts nor eats a slot
    assert got["g"] == (50, 50.0)
    assert "empty" not in got


def test_split_rejects_string_ids(spark):
    df = spark.createDataFrame([("src00-0000000001",)], "doc_id string")
    with pytest.raises(ValueError, match="integral id"):
        deterministic_split(df)


def test_merge_with_all_null_watermark_keeps_previous(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "t"), ["source", "bucket"])
    t.merge_upsert(spark, spark.createDataFrame(
        [("a", 1, 5)], "source string, bucket int, wm long"),
        watermark_col="wm")
    assert t.watermark("a") == 5
    nulls = spark.createDataFrame(
        [("a", 2, None)], "source string, bucket int, wm long")
    t.merge_upsert(spark, nulls, watermark_col="wm")  # must not TypeError
    assert t.watermark("a") == 5  # keyed merge: previous watermark kept
    t.merge_upsert(spark, nulls, watermark_col="wm",
                   replace_partitions=True)
    assert t.watermark("a") is None  # replaced content has no watermark


def test_overwrite_without_watermark_clears_ghosts(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "t"), ["source", "bucket"])
    t.merge_upsert(spark, spark.createDataFrame(
        [("a", 1, 5), ("b", 1, 9)], "source string, bucket int, wm long"),
        watermark_col="wm")
    t.overwrite(spark, spark.createDataFrame(
        [("a", 1, 7)], "source string, bucket int, wm long"))
    assert t.watermark("a") is None and t.watermark("b") is None


def test_fingerprint_window_guard(spark):
    from hastl_spark.operators.text import (fingerprint_portable,
                                            fingerprint_portable_np)

    df = spark.createDataFrame([(1, "abcdefghijkl")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overflows int64"):
        fingerprint_portable(df, window=10)
    with pytest.raises(ValueError, match="overflows int64"):
        fingerprint_portable_np(df, window=10)


def test_gapfill_duplicate_buckets_keep_first(spark):
    """Unchunked path must not crash on duplicate (key, bucket) rows —
    same keep-first policy as the chunked path."""
    import datetime as dt

    from hastl_spark.operators.gapfill import stl_gapfill

    t0 = dt.datetime(2026, 1, 1)
    rows = [("s", t0, 1, 10.0), ("s", t0, 1, 99.0),
            ("s", t0 + dt.timedelta(hours=2), 1, 30.0)]
    df = spark.createDataFrame(
        rows, "source string, bucket timestamp, cnt long, v double")
    out = stl_gapfill(df, value_col="v", bucket_seconds=3600, n_p=24,
                      q_s=13, d_s=0).collect()
    assert len(out) == 3  # 3-bucket grid, no reindex crash
    first = [r for r in out if r.bucket == t0][0]
    assert first.y == 10.0  # first duplicate kept

def test_delete_where_fails_fast_on_legacy_watermarks(spark, tmp_path):
    """ADVICE r5: a manifest with partition watermarks but no recorded
    watermark_col (pre-upgrade table) cannot recompute watermarks after a
    delete rewrite — delete_where must refuse, not keep a stale high
    watermark."""
    import json
    import os

    t = KeyedTable(str(tmp_path / "t"), ["source", "bucket"])
    t.merge_upsert(spark, spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 9)], "source string, bucket int, wm long"),
        watermark_col="wm")
    # simulate a pre-upgrade manifest: watermarks present, column not recorded
    mp = t._manifest_path
    man = json.load(open(mp))
    man.pop("watermark_col", None)
    with open(mp, "w") as f:
        json.dump(man, f)
    with pytest.raises(ValueError, match="watermark_col"):
        t.delete_where(spark, "bucket = 2")


def test_rollback_to_schema_none_snapshot_sheds_schema(spark, tmp_path):
    """ADVICE r5: rolling back to a snapshot recorded with schema=None
    (the empty table after a full drop_partitions) must POP the current
    manifest schema, mirroring drop_partitions' empty-table behavior."""
    t = KeyedTable(str(tmp_path / "t"), ["source", "bucket"])
    t.merge_upsert(spark, spark.createDataFrame(
        [("a", 1, 5)], "source string, bucket int, v long"))  # snap 1
    t.drop_partitions(["a"])                                  # snap 2: empty, schema shed
    assert t._load().get("schema") is None
    t.merge_upsert(spark, spark.createDataFrame(
        [("a", 1, "s")], "source string, bucket int, v string"))  # snap 3: retyped v
    assert t._load().get("schema") is not None
    t.rollback(2)
    # the rolled-back manifest must not keep snap 3's string-v schema
    assert t._load().get("schema") is None


@pytest.mark.parametrize("before, update, want", [
    pytest.param([("a", 1, 10), ("", 1, 20), ("", 2, 21)],
                 [("a", 2, 11), ("", 1, 99)],
                 {("a", 1): 10, ("a", 2): 11, ("", 1): 99, ("", 2): 21},
                 id="empty_string"),
    pytest.param([("", 1, 1), ("", 2, 2)],
                 [(None, 3, 3)],
                 {("", 1): 1, ("", 2): 2, (None, 3): 3},
                 id="null_into_empty_string"),
])
def test_merge_key_merges_empty_string_partition(spark, tmp_path, before,
                                                 update, want):
    """'' and NULL partition values both render as
    __HIVE_DEFAULT_PARTITION__ in dir names. The merge renders them the
    same way Spark-side, so an update in either KEY-MERGES into that one
    partition and never overwrites it."""
    t = KeyedTable(str(tmp_path / "t"), ["source", "bucket"])
    schema = "source string, bucket int, v long"
    t.merge_upsert(spark, spark.createDataFrame(before, schema))
    t.merge_upsert(spark, spark.createDataFrame(update, schema))
    got = {(r.source, r.bucket): r.v for r in t.read(spark).collect()}
    assert got == want
