"""Grouped-map stage shape: exchange sizing from the real group count, one
Gorilla encode stage for all tiers, and a pipeline that leaves no cached
frames behind."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hastl_spark.operators.chunks import gorilla_chunks
from hastl_spark.operators.gapfill import _grouped_map_partitions
from hastl_spark.plans import rollup_job
from hastl_spark.plans.rollup_job import run_pipeline
from hastl_spark.sources.sequences import (SEQS_PER_BUCKET, generate_scale,
                                           generate_sequences)
from hastl_spark.sources.tables import KeyedTable

STL_KW = {"chunk_buckets": 1440, "n_p": 52, "q_s": 7}
ANCHORED = {"1m": 86400, "1h": 365 * 86400, "1d": 3650 * 86400,
            "gapfill_1m": 86400}
TIER_TABLES = {"1m": ("tier_1m", "sum_n_tok"), "1h": ("tier_1h", "sum_n_tok"),
               "1d": ("tier_1d", "sum_n_tok"),
               "gapfill_1m": ("gapfill_1m", "gapfilled")}
CHUNK_COLS = ["source", "tier", "chunk_start", "chunk_end", "n_points",
              "crc32", "v_min", "v_max", "v_sum", "blob"]


def _seqs(spark, n_days=3):
    return generate_sequences(spark, n_sources=2, n_buckets=n_days * 1440,
                              base_rate=4.0, tok_lo=4, tok_hi=16,
                              with_tokens=True).cache()


def _split_at_bucket(seqs, bucket):
    """(the input before ``bucket``, the input from ``bucket`` on)."""
    seq_no = F.split(F.col("doc_id"), "-").getItem(1).cast("long")
    early = (seq_no / SEQS_PER_BUCKET).cast("long") < bucket
    return seqs.filter(early), seqs.filter(~early)


def _sorted_rows(pdf):
    pdf = pdf[CHUNK_COLS].copy()
    pdf["blob"] = pdf["blob"].map(bytes)
    return pdf.sort_values(CHUNK_COLS[:3]).reset_index(drop=True)


def _grouped_maps(node):
    """FlatMapGroupsInPandas nodes in a logical plan tree. A cached input
    is an InMemoryRelation leaf, so plans that ran before are not counted."""
    kids = node.children()
    return (node.nodeName() == "FlatMapGroupsInPandas") + sum(
        _grouped_maps(kids.apply(i)) for i in range(kids.size()))


def _capture_encode(monkeypatch):
    """Record the grouped-map count of every chunk frame run_pipeline
    builds."""
    plans = []
    encode = rollup_job.encode_chunks

    def spy(*a, **kw):
        df = encode(*a, **kw)
        plans.append(_grouped_maps(df._jdf.queryExecution().optimizedPlan()))
        return df

    monkeypatch.setattr(rollup_job, "encode_chunks", spy)
    return plans


def test_grouped_map_partitions_rule(spark):
    df = spark.range(1)
    dp2 = 2 * spark.sparkContext.defaultParallelism
    for g in (1, 2, dp2 // 4, dp2, 1000):
        assert _grouped_map_partitions(df, g) == min(4 * g, dp2)
    assert _grouped_map_partitions(df, 0) == 1  # never 0
    assert _grouped_map_partitions(df) == max(dp2, 256)  # unknown: unchanged


@pytest.mark.slow
def test_pipeline_sizes_chunked_gapfill_by_group_count(spark, tmp_path,
                                                       monkeypatch):
    """Both chunked gap-fill runs (full build, then incremental) get a
    finite (source x chunk) count — not the unknown-count 256 floor."""
    seen = []
    real = rollup_job.stl_gapfill

    def spy(rollup, **kw):
        seen.append((kw.get("n_keys"), kw.get("only_chunks")))
        return real(rollup, **kw)

    monkeypatch.setattr(rollup_job, "stl_gapfill", spy)
    seqs = _seqs(spark)
    out = str(tmp_path / "t")
    for s in _split_at_bucket(seqs, 2 * 1440):
        run_pipeline(spark, s, out, check_invariant=False,
                     stl_kwargs=STL_KW, incremental_gapfill=True)
    (full_keys, full_only), (inc_keys, inc_only) = seen
    assert full_only is None and inc_only
    assert inc_keys == 2 * len(inc_only)
    # 2 days of epoch-anchored 1440-bucket chunks, plus the halo neighbours
    assert 2 * 2 <= full_keys < 256
    assert _grouped_map_partitions(seqs, full_keys) < 256


@pytest.mark.slow
@pytest.mark.parametrize("build", ["full", "incremental"])
def test_single_encode_stage_matches_per_tier_chunks(spark, tmp_path,
                                                     monkeypatch, build):
    """The pipeline's one (source, tier) encode stage writes the same chunk
    rows, blob included, as gorilla_chunks run per tier on the final
    tables. The incremental case adds an incremental keyed merge on top."""
    plans = _capture_encode(monkeypatch)
    incremental = build == "incremental"
    seqs = _seqs(spark)
    out = str(tmp_path / build)
    runs = _split_at_bucket(seqs, 2 * 1440) if incremental else [seqs]
    for s in runs:
        run_pipeline(spark, s, out, check_invariant=False, stl_kwargs=STL_KW,
                     incremental_gapfill=incremental, chunk_seconds=ANCHORED)
    assert plans == [1] * len(runs)

    got = KeyedTable(f"{out}/chunks", ["source", "tier", "chunk_start"]) \
        .read(spark).toPandas()
    want = []
    for tier, (table, vcol) in TIER_TABLES.items():
        tdf = KeyedTable(f"{out}/{table}", ["source", "bucket"]).read(spark)
        ch = gorilla_chunks(tdf, vcol, chunk_seconds=ANCHORED[tier]).toPandas()
        want.append(ch.assign(tier=tier))
    got, want = _sorted_rows(got), _sorted_rows(pd.concat(want))
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want)


def _completed_tasks(sc, group):
    st = sc.statusTracker()
    return sum(st.getStageInfo(s).numCompletedTasks
               for j in st.getJobIdsForGroup(group)
               for s in st.getJobInfo(j).stageIds
               if st.getStageInfo(s) is not None)


def _build_in_group(spark, group, build):
    """Run ``build()`` under job group ``group``; assert that it left no
    cached frame and ran no job outside the group."""
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup(group, "pipeline build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped


@pytest.mark.slow
def test_pipeline_releases_every_cached_frame(spark, tmp_path):
    """run_pipeline leaves the session's cache empty, so a second build of
    the same input does all the first build's work again (a leaked cached
    gap-fill result would be served in place of the STL UDF). Every job it
    runs, the overlapped cascade thread's included, lands in the caller's
    job group."""
    seqs = generate_scale(spark, "xs")
    spark.catalog.clearCache()
    tasks = []
    for i in range(2):
        group = f"rebuild-{i}-{tmp_path.name}"
        _build_in_group(spark, group,
                        lambda: run_pipeline(spark, seqs, str(tmp_path / f"b{i}")))
        tasks.append(_completed_tasks(spark.sparkContext, group))
    assert tasks[1] == tasks[0] > 0


@pytest.mark.slow
def test_incremental_append_releases_every_cached_frame(spark, tmp_path,
                                                        monkeypatch):
    """The perfbench tier_maintain shape: a chunked base build over a day
    and an hour, then one appended hour with incremental gap-fill. The
    append's 1m merge touches only day 1, so it takes the release-and-read
    path, while its 1h/1d key-merges cover their tables and hand their
    cached frames downstream. Either way the cache ends empty and every
    job lands in the caller's job group."""
    covers = {}
    merge = KeyedTable.merge_upsert

    def spy(self, *a, **kw):
        rec = merge(self, *a, **kw)
        if kw.get("keep_data"):
            covers[self.path.rsplit("/", 1)[-1]] = rec["covers_table"]
        return rec

    monkeypatch.setattr(KeyedTable, "merge_upsert", spy)
    seqs = generate_sequences(spark, n_sources=4, n_buckets=1560,
                              base_rate=8.0, tok_lo=16, tok_hi=64,
                              with_tokens=True)
    base, rest = _split_at_bucket(seqs, 1500)
    out = str(tmp_path / "t")
    kw = dict(stl_kwargs={"chunk_buckets": 1440}, incremental_gapfill=True)
    spark.catalog.clearCache()
    for name, part in (("base", base), ("append", rest)):
        covers.clear()
        _build_in_group(spark, f"{name}-{tmp_path.name}",
                        lambda: run_pipeline(spark, part, out, **kw))
    assert covers["tier_1m"] is False
    assert covers["tier_1h"] is True and covers["tier_1d"] is True
