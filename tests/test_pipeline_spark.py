"""Spark pipeline correctness (SURVEY.md §5.2 layer 3): rollup vs direct
aggregation, gap-fill vs the NumPy oracle, tier composition, MERGE
idempotence, Gorilla round-trip through the chunk operator."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hastl_spark.kernel import canonicalize_stl_params
from hastl_spark.kernel.stl import stl_filt
from hastl_spark.operators.chunks import decode_chunks_df, gorilla_chunks
from hastl_spark.operators.densify import densify_grid
from hastl_spark.operators.gapfill import stl_gapfill
from hastl_spark.operators.rollup import (
    rollup_1m,
    rollup_tier,
    token_invariant_violations,
    with_event_time,
)
from hastl_spark.sources.sequences import generate_scale
from hastl_spark.sources.tables import KeyedTable


@pytest.fixture(scope="module")
def seqs(spark):
    df = generate_scale(spark, "xs").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def r1m(spark, seqs):
    df = rollup_1m(with_event_time(seqs)).cache()
    df.count()
    return df


def test_generator_deterministic_and_skewed(spark, seqs):
    again = generate_scale(spark, "xs")
    assert seqs.count() == again.count()
    a = seqs.agg(F.expr("bit_xor(xxhash64(doc_id, n_tok))")).collect()[0][0]
    b = again.agg(F.expr("bit_xor(xxhash64(doc_id, n_tok))")).collect()[0][0]
    assert a == b
    shares = dict(seqs.groupBy("source").count().collect())
    total = sum(shares.values())
    assert shares["src00"] / total > 0.45  # skew is real


def test_token_invariant_holds(seqs):
    assert token_invariant_violations(seqs).count() == 0


def test_token_arrays_bitexact_through_row_stage(spark, seqs):
    """FULL-fidelity token-array equality (BASELINE.json input_hint) across
    the row-level event-time stage, at test scale (the pipeline uses a
    sampled checksum at scale — see rollup_job.run_pipeline)."""
    chk = "bit_xor(xxhash64(doc_id, tokens)) AS c"
    pre = seqs.selectExpr(chk).collect()[0]["c"]
    post = with_event_time(seqs).selectExpr(chk).collect()[0]["c"]
    assert pre == post


def test_rollup_matches_unsalted_groupby(spark, seqs, r1m):
    direct = (
        with_event_time(seqs)
        .groupBy("source", F.date_trunc("minute", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(F.col("n_tok").cast("long")).alias("sum_n_tok"))
    )
    diff = r1m.exceptAll(direct).count() + direct.exceptAll(r1m).count()
    assert diff == 0


def test_densify_grid_fills_gaps(spark, r1m):
    dense = densify_grid(r1m)
    per_src = dense.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cnt").isNull().cast("int")).alias("n_gaps"),
        ((F.max("bucket").cast("long") - F.min("bucket").cast("long")) / 60 + 1).alias("expect"),
    ).collect()
    for r in per_src:
        assert r["n"] == r["expect"]
        assert r["n_gaps"] > 0  # generator injected gaps


def test_gapfill_matches_kernel_oracle(spark, r1m):
    stl_kwargs = dict(n_p=52, q_s=19, d_s=0, jump_s=1, jump_t=1, jump_l=1)
    got = stl_gapfill(r1m, **stl_kwargs).toPandas().sort_values(["source", "bucket"])
    pdf = r1m.toPandas()
    for src, g in got.groupby("source"):
        sub = pdf[pdf.source == src].sort_values("bucket")
        grid = pd.date_range(sub.bucket.min(), sub.bucket.max(), freq="60s")
        y = pd.Series(sub.sum_n_tok.astype("float64").values,
                      index=pd.DatetimeIndex(sub.bucket)).reindex(grid).values
        p = canonicalize_stl_params(len(y), 52, 19, d_s=0, jump_s=1, jump_t=1, jump_l=1)
        S, T, R = stl_filt(y[None, :].astype(np.float32), p)
        np.testing.assert_array_equal(g.seasonal.values.astype(np.float32), S[0])
        np.testing.assert_array_equal(g.trend.values.astype(np.float32), T[0])
        # gapfilled finite everywhere, equals y where present
        nn = ~np.isnan(y)
        np.testing.assert_array_equal(g.gapfilled.values[nn], y[nn])
        assert np.isfinite(g.gapfilled.values).all()


def test_tier_composition_exact(spark, seqs, r1m):
    r1h = rollup_tier(r1m, "1h")
    direct = (
        with_event_time(seqs)
        .groupBy("source", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(F.col("n_tok").cast("long")).alias("sum_n_tok"))
    )
    assert r1h.exceptAll(direct).count() + direct.exceptAll(r1h).count() == 0
    r1d = rollup_tier(r1h, "1d")
    assert r1d.agg(F.sum("cnt")).collect()[0][0] == seqs.count()


def test_merge_idempotent_and_incremental(spark, r1m, tmp_path):
    t = KeyedTable(str(tmp_path / "t1m"), ["source", "bucket"])
    rec1 = t.merge_upsert(spark, r1m, watermark_col="bucket")
    n1 = t.read(spark).count()
    # idempotence: merging the same snapshot changes nothing
    rec2 = t.merge_upsert(spark, r1m, watermark_col="bucket")
    n2 = t.read(spark).count()
    assert n1 == n2 == rec1["rows_in"]
    # incremental upsert: bump one bucket's value, row count stable, value new
    one = r1m.limit(1).withColumn("sum_n_tok", F.lit(999999).cast("long"))
    t.merge_upsert(spark, one, watermark_col="bucket")
    assert t.read(spark).count() == n1
    key = one.collect()[0]
    got = t.read(spark).filter(
        (F.col("source") == key["source"]) & (F.col("bucket") == key["bucket"])
    ).collect()[0]["sum_n_tok"]
    assert got == 999999
    assert t.snapshot() == 3


def test_merge_stats_from_parquet_footers(spark, r1m, tmp_path):
    """merge_upsert's manifest stats (row counts + watermarks) come from the
    parquet footers of the files it just wrote — metadata-only, zero Spark
    jobs — and must equal a real aggregation over the table (both the
    first-snapshot branch and the key-merge branch)."""
    import collections
    import os

    from hastl_spark.sources.tables import _wm_json

    t = KeyedTable(str(tmp_path / "tft"), ["source", "bucket"])
    t.merge_upsert(spark, r1m, watermark_col="bucket")
    one = r1m.limit(1).withColumn("sum_n_tok", F.lit(7).cast("long"))
    t.merge_upsert(spark, one, watermark_col="bucket")  # key-merge branch
    man = t._load()
    bydir = collections.defaultdict(dict)
    for pval, rel in man["partitions"].items():
        base, dirname = os.path.split(rel)
        bydir[base][pval] = dirname
    foot = {}
    for base, pdirs in bydir.items():
        got = KeyedTable._footer_stats(os.path.join(str(t.path), base),
                                       pdirs, "bucket")
        assert got is not None, "timestamp watermarks must have footer stats"
        foot.update(got)
    agg = {r["source"]: r for r in
           t.read(spark).groupBy("source")
           .agg(F.count(F.lit(1)).alias("_n"), F.max("bucket").alias("_wm"))
           .collect()}
    assert set(foot) == set(agg)
    for p in foot:
        assert foot[p]["_n"] == agg[p]["_n"]
        assert _wm_json(foot[p]["_wm"]) == _wm_json(agg[p]["_wm"])
        assert man["watermarks"][p] == _wm_json(agg[p]["_wm"])


def test_gorilla_chunks_roundtrip(spark, r1m):
    chunks = gorilla_chunks(r1m, "sum_n_tok", chunk_seconds=6000)
    pts = decode_chunks_df(chunks).toPandas()
    chunks = chunks.toPandas()
    assert len(chunks) > pts.source.nunique()  # several windows per source
    pdf = r1m.toPandas().sort_values(["source", "bucket"])
    for src, g in pts.groupby("source"):
        sub = pdf[pdf.source == src]
        np.testing.assert_array_equal(
            np.sort(g.ts.values), np.sort(sub.bucket.astype("int64").values // 10**9))
        np.testing.assert_allclose(
            np.sort(g.value.values), np.sort(sub.sum_n_tok.astype("float64").values))
    # compression: well under raw 16 B/point
    assert chunks["bytes"].sum() < 16 * chunks["n_points"].sum() / 2


def test_day_partitioned_merge_rewrites_only_touched_days(spark, r1m, tmp_path):
    """With part_spec=DAY_SPEC, a merge whose updates touch one day must
    leave every other day's data dirs at their previous snapshot paths."""
    from hastl_spark.sources.tables import DAY_SPEC, PART_SEP

    t = KeyedTable(str(tmp_path / "t1m_day"), ["source", "bucket"],
                   part_spec=DAY_SPEC)
    # widen the fixture to 2 days (xs spans a single day)
    r1m = r1m.unionByName(
        r1m.withColumn("bucket", F.col("bucket") + F.expr("INTERVAL 1 DAY")))
    t.merge_upsert(spark, r1m, watermark_col="bucket")
    man1 = t._load()
    assert all(PART_SEP in p for p in man1["partitions"])  # source~YYYY-MM-DD
    days = sorted({p.split(PART_SEP)[1] for p in man1["partitions"]})
    assert len(days) >= 2, "fixture must span >= 2 days for this test"

    # update one bucket of the LAST day only
    one = (r1m.filter(F.to_date("bucket").cast("string") == days[-1])
           .limit(1).withColumn("sum_n_tok", F.lit(123456).cast("long")))
    t.merge_upsert(spark, one, watermark_col="bucket")
    man2 = t._load()
    for p, rel in man1["partitions"].items():
        if p.split(PART_SEP)[1] == days[-1] and p in {
                f"{r['source']}{PART_SEP}{days[-1]}" for r in one.collect()}:
            assert man2["partitions"][p] != rel  # rewritten
        elif p.split(PART_SEP)[1] != days[-1]:
            assert man2["partitions"][p] == rel  # untouched days keep files
    # read-back equivalence: only the bumped key changed
    key = one.collect()[0]
    got = t.read(spark).filter(
        (F.col("source") == key["source"]) & (F.col("bucket") == key["bucket"])
    ).collect()[0]["sum_n_tok"]
    assert got == 123456
    assert t.read(spark).count() == r1m.count()


def test_replace_partitions_supersedes_stale_chunk_rows(spark, r1m, tmp_path):
    """Backfill scenario from ADVICE: chunk regeneration that shifts chunk
    boundaries must fully supersede the partition's old chunk rows (a keyed
    upsert would leave stale overlapping chunks -> double-counted points)."""
    t = KeyedTable(str(tmp_path / "chunks"), ["source", "tier", "chunk_start"],
                   part_spec={"cols": ["source", "tier"]})
    late = r1m.orderBy("source", "bucket")  # deterministic
    # run 1: chunks over buckets EXCLUDING each source's first 3 (simulates
    # the backfill arriving later) in 3000-s windows
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy("bucket")
    ranked = late.withColumn("_rn", F.row_number().over(w))
    ch1 = gorilla_chunks(ranked.filter("_rn > 3").drop("_rn"), "sum_n_tok",
                         chunk_seconds=3000).withColumn("tier", F.lit("1m"))
    t.merge_upsert(spark, ch1, replace_partitions=True)
    # run 2 (backfill): chunks regenerated over the FULL series in 6000-s
    # windows, so every other run-1 chunk_start key has no run-2 twin
    ch2 = gorilla_chunks(ranked.drop("_rn"), "sum_n_tok",
                         chunk_seconds=6000).withColumn("tier", F.lit("1m"))
    t.merge_upsert(spark, ch2, replace_partitions=True)

    pts = decode_chunks_df(t.read(spark)).toPandas()
    exp = r1m.toPandas()
    # no double counting: decoded point count == input rows exactly
    assert len(pts) == len(exp)
    assert abs(pts["value"].sum() - exp["sum_n_tok"].astype("float64").sum()) < 1e-6
