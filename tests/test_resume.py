"""Resume-from-checkpoint equivalence (SURVEY.md §5.2 layer 3): running the
pipeline incrementally (first half, then --since-bucket second half) must
produce tier tables identical to a single-shot run, and vacuum must not
change what readers see."""

import pytest
from layout import unnamed_files
from pyspark.sql import functions as F

from hastl_spark.operators.chunks import decode_chunks_df
from hastl_spark.plans.rollup_job import run_pipeline
from hastl_spark.sources.sequences import SEQS_PER_BUCKET, generate_scale
from hastl_spark.sources.tables import KeyedTable


@pytest.mark.slow
def test_incremental_equals_single_shot(spark, tmp_path):
    seqs = generate_scale(spark, "xs").cache()
    seq_no = F.split("doc_id", "-").getItem(1).cast("long")
    b = (seq_no / SEQS_PER_BUCKET).cast("long")
    first, second = seqs.filter(b < 150), seqs.filter(b >= 150)

    single = str(tmp_path / "single")
    run_pipeline(spark, seqs, single, check_invariant=False)

    incr = str(tmp_path / "incr")
    run_pipeline(spark, first, incr, check_invariant=False)
    run_pipeline(spark, second, incr, check_invariant=False)

    for tier in ("tier_1m", "tier_1h", "tier_1d"):
        a = KeyedTable(f"{single}/{tier}", ["source", "bucket"]).read(spark)
        c = KeyedTable(f"{incr}/{tier}", ["source", "bucket"]).read(spark)
        # 1m buckets never straddle the split, so count/sum rows must be
        # identical; coarser tiers have exactly one straddling bucket per
        # source whose partial sums still must add up
        if tier == "tier_1m":
            assert a.exceptAll(c).count() + c.exceptAll(a).count() == 0
        else:
            ta = a.agg(F.sum("cnt"), F.sum("sum_n_tok")).collect()[0]
            tc = c.agg(F.sum("cnt"), F.sum("sum_n_tok")).collect()[0]
            assert ta["sum(cnt)"] == tc["sum(cnt)"]

    # the second run re-encoded only its touched chunk windows; every
    # tier's chunks still decode to exactly that tier's rows
    chunks = KeyedTable(f"{incr}/chunks",
                        ["source", "tier", "chunk_start"]).read(spark)
    for table, tier, vcol in (("tier_1m", "1m", "sum_n_tok"),
                              ("gapfill_1m", "gapfill_1m", "gapfilled"),
                              ("tier_1h", "1h", "sum_n_tok"),
                              ("tier_1d", "1d", "sum_n_tok")):
        rows = KeyedTable(f"{incr}/{table}", ["source", "bucket"]).read(spark) \
            .select("source", F.unix_timestamp("bucket").alias("ts"),
                    F.col(vcol).cast("double").alias("value"))
        pts = decode_chunks_df(chunks.filter(F.col("tier") == tier))
        assert rows.count() > 0, table
        assert rows.exceptAll(pts).count() + pts.exceptAll(rows).count() == 0, table

    # vacuum removes every superseded file without changing visible rows
    for name in ("tier_1m", "gapfill_1m", "tier_1h", "tier_1d", "chunks"):
        t = KeyedTable(f"{incr}/{name}", ["source", "bucket"])
        before = t.read(spark).count()
        t.vacuum()
        assert t.read(spark).count() == before, name
        assert unnamed_files(t) == [], name


@pytest.mark.slow
def test_incremental_tier_merge_on_straddling_bucket(spark, tmp_path):
    """The coarser tiers must be maintained by re-rollup of the WHOLE 1m
    table (which the pipeline does), so a second incremental run updates the
    straddling hourly bucket rather than duplicating it."""
    seqs = generate_scale(spark, "xs").cache()
    seq_no = F.split("doc_id", "-").getItem(1).cast("long")
    b = (seq_no / SEQS_PER_BUCKET).cast("long")
    out = str(tmp_path / "p")
    run_pipeline(spark, seqs.filter(b < 90), out, check_invariant=False)
    run_pipeline(spark, seqs.filter(b >= 90), out, check_invariant=False)

    single = str(tmp_path / "s")
    run_pipeline(spark, seqs, single, check_invariant=False)
    for tier in ("tier_1h", "tier_1d"):
        a = KeyedTable(f"{single}/{tier}", ["source", "bucket"]).read(spark)
        c = KeyedTable(f"{out}/{tier}", ["source", "bucket"]).read(spark)
        assert a.exceptAll(c).count() + c.exceptAll(a).count() == 0
