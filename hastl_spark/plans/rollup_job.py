"""End-to-end rollup + STL-gapfill + Gorilla pipeline driver.

``python -m hastl_spark.plans.rollup_job --scale tiny --out /tmp/tiers``

Stages (SURVEY.md §3.4):
  sequences -> token-invariant check -> event-time derivation ->
  salted 1m rollup -> MERGE tier_1m -> STL gap-fill (applyInPandas) ->
  MERGE gapfill_1m -> 1h/1d re-rollup -> MERGE -> one Gorilla encode over
  all tiers -> MERGE chunk table; lineage manifest per run; prints one JSON
  metrics line.

Runs incrementally: pass ``--since-bucket N`` to restrict the raw scan to
buckets >= N (Iceberg snapshot-diff stand-in); MERGE keeps prior rows.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import time

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hastl_spark.operators.chunks import encode_chunks
from hastl_spark.operators.gapfill import (default_halo_buckets, stl_gapfill,
                                           touched_chunk_ids)
from hastl_spark.operators.gorilla import CODEC_VERSION
from hastl_spark.operators.rollup import rollup_1m, rollup_tier, token_invariant_violations, with_event_time
from hastl_spark.session import get_spark
from hastl_spark.sources.sequences import SEQS_PER_BUCKET, generate_scale
from hastl_spark.sources.tables import (CHUNK_SPEC, DAY_SPEC, MONTH_SPEC,
                                        PART_SEP, KeyedTable)


# time-anchored chunk windows per tier (points/window = span / bucket size:
# 10080 for the 1m tiers, 8760 for 1h, 3650 for 1d — bounded UDF memory,
# month-or-finer incremental granularity)
DEFAULT_CHUNK_SECONDS = {"1m": 7 * 86400, "1h": 365 * 86400,
                         "1d": 3650 * 86400, "gapfill_1m": 7 * 86400}


def run_pipeline(
    spark: SparkSession,
    sequences: DataFrame,
    out_dir: str,
    n_salts: int = 16,
    stl_kwargs: dict | None = None,
    check_invariant: bool = True,
    incremental_gapfill: bool = False,
    chunk_seconds: dict | None = None,
) -> dict:
    """Full pipeline run. The two independent post-1m branches — STL
    gap-fill and the 1h/1d tier cascade — run on concurrent driver threads
    (Spark schedules their jobs FAIRly across the executor): the cascade's
    merge latency hides under the STL compute, removing a serial driver
    segment that Amdahl-caps scaling efficiency. The cascade thread
    inherits the caller's job group and description.

    ``incremental_gapfill=True`` (requires ``stl_kwargs['chunk_buckets']``)
    recomputes only the gap-fill chunks whose halo-extended window
    intersects the days this run's 1m merge touched — an incremental run's
    STL cost scales with the touched range, not the table's full history.
    The first run on an empty gapfill table computes everything.

    Every tier is stored as Gorilla chunks in TIME-ANCHORED windows of
    ``chunk_seconds={tier: seconds}`` (None: ``DEFAULT_CHUNK_SECONDS``),
    keyed-merged into one chunk table. Window keys are stable under
    backfill, so a run into an existing chunk table re-encodes only the
    windows intersecting each tier's merged partitions — no
    O(full-history) chunk cost per incremental run. The window map and the
    codec version are recorded as table props; a run whose map or codec
    differs from the recorded one re-encodes the whole table as an
    overwrite snapshot."""
    os.makedirs(out_dir, exist_ok=True)
    metrics: dict = {}
    stage_walls: dict = {}
    t_start = time.time()

    def _mark(name, t0):
        stage_walls[name] = round(time.time() - t0, 3)
        return time.time()

    seq = with_event_time(sequences)

    # raw -> 1m (salted two-phase agg). Day-partitioned (source~day): an
    # incremental/backfill merge rewrites only the touched days' files.
    # The per-row token-array invariant rides the SAME pass as associative
    # extra aggregates (count of size(tokens)<>n_tok violations + an
    # order-insensitive sampled content checksum — catches drops,
    # truncation and reordering at zero extra scans; the old separate
    # invariant scan was ~25% of pipeline wall). A FULL per-element hash
    # costs 2-5x the pipeline at scale (array hashing is outside codegen),
    # so full-fidelity token equality is asserted in the pytest suite at
    # small scale instead (tests/test_pipeline_spark).
    t0 = time.time()
    r1m_inv = rollup_1m(seq, n_salts=n_salts, with_invariant=check_invariant)
    if check_invariant:
        from pyspark import StorageLevel

        r1m_inv = r1m_inv.persist(StorageLevel.MEMORY_AND_DISK)
        row = r1m_inv.selectExpr("sum(bad) AS bad", "bit_xor(chk) AS chk").collect()[0]
        if (row["bad"] or 0) != 0:  # explicit raise: survives python -O
            raise RuntimeError(
                f"token-array invariant violated on {row['bad']} rows")
        metrics["token_invariant_violations"] = int(row["bad"] or 0)
        metrics["token_checksum"] = str(row["chk"])
        r1m = r1m_inv.select("source", "bucket", "cnt", "sum_n_tok")
        t0 = _mark("rollup_1m_scan", t0)
    else:
        r1m = r1m_inv
    t_1m = KeyedTable(os.path.join(out_dir, "tier_1m"), ["source", "bucket"],
                      part_spec=DAY_SPEC)
    rec = t_1m.merge_upsert(spark, r1m, watermark_col="bucket",
                            keep_data=True)
    if check_invariant:
        r1m_inv.unpersist()
    # The maintained 1m table is consumed by THREE downstream stages
    # (gap-fill, 1h re-rollup, chunk encode). When this run's merge covered
    # every partition (any non-incremental run), the merge's own cached
    # written frame IS the table — reuse it instead of re-listing and
    # re-decoding the freshly written partition files. Measured on a 4-core
    # host (2026-10-20, 6 alternating pairs): reading every tier back made
    # the perfbench tier_build op 17% slower (6.59 -> 7.71 s). Incremental
    # runs fall back to a cached table read.
    if rec.pop("covers_table", False):
        cur_1m = rec.pop("data")
    else:
        rec.pop("data").unpersist()
        cur_1m = t_1m.read(spark).persist()
        cur_1m.count()
    metrics["tier_1m"] = rec
    t0 = _mark("merge_1m", t0)
    days = sorted({p.split(PART_SEP)[1] for p in metrics["tier_1m"]["partitions"]})
    # The gap-fill and chunk-encode group counts (which size their hash
    # exchanges, see gapfill._grouped_map_partitions) are multiples of the
    # source count. It comes from the table MANIFEST's full partition set,
    # not this merge's lineage: both stages group FULL-TABLE reads, and an
    # incremental run touching a subset of sources would otherwise
    # undercount their groups.
    table_parts = t_1m.partition_values()
    n_sources = len({p.split(PART_SEP)[0] for p in table_parts}) or None
    t_gap = KeyedTable(os.path.join(out_dir, "gapfill_1m"), ["source", "bucket"],
                       part_spec=DAY_SPEC)
    tier_cache: dict = {}

    def _keep(rec, name):
        """Reuse a merge's cached written frame as the tier's content when
        it covered every partition (the common non-incremental run) —
        downstream stages then skip re-reading the freshly written files,
        which cost a full tier_build op 17% (see the 1m merge above); else
        release it."""
        if rec.pop("covers_table", False):
            tier_cache[name] = rec.pop("data")
        else:
            rec.pop("data").unpersist()

    def _content(name, table):
        df = tier_cache.get(name)
        return df if df is not None else table.read(spark)

    def branch_gapfill():
        # STL gap-fill on the 1m series. Incremental mode recomputes only
        # the epoch-anchored chunks whose halo window intersects this run's
        # touched days; the day-partitioned MERGE then rewrites only those
        # days' files. Exactness caveat: chunked STL matches the global fit
        # exactly on dense grids only (see operators/gapfill.py docstring).
        kw = dict(stl_kwargs or {})
        incremental = incremental_gapfill and t_gap.exists()
        if incremental and not kw.get("chunk_buckets"):
            raise ValueError("incremental_gapfill requires "
                             "stl_kwargs['chunk_buckets']")
        n_groups = n_sources
        if kw.get("chunk_buckets"):
            # chunked groups are (source, chunk): an incremental run
            # recomputes the chunks whose halo window intersects this run's
            # touched days, a full run every chunk over the table's days
            bsec = kw.get("bucket_seconds", 60)
            # 'is None', not 'or': an explicit halo_buckets=0 must make the
            # touched-chunk set match the halo stl_gapfill actually applies
            halo = kw.get("halo_buckets")
            halo = halo if halo is not None else default_halo_buckets(
                kw.get("n_p", 52),
                **{k: v for k, v in kw.items()
                   if k in ("q_s", "d_s", "jump_s", "jump_t", "jump_l",
                            "n_inner", "n_outer", "q_t", "q_l", "d_t", "d_l")})
            ranges = []
            for d in (days if incremental else
                      sorted({p.split(PART_SEP)[1] for p in table_parts})):
                lo = datetime.datetime.fromisoformat(d + "T00:00:00+00:00")
                lo_pos = int(lo.timestamp()) // bsec
                ranges.append((lo_pos, lo_pos + 86400 // bsec - 1))
            chunk_ids = touched_chunk_ids(ranges, kw["chunk_buckets"], halo)
            if incremental:
                kw["only_chunks"] = chunk_ids
                metrics["gapfill_chunks_recomputed"] = len(chunk_ids)
            n_groups = n_sources and n_sources * len(chunk_ids)
        kw.setdefault("n_keys", n_groups)
        gap = stl_gapfill(cur_1m, **kw)
        rec = t_gap.merge_upsert(spark, gap, watermark_col="bucket",
                                 keep_data=True)
        _keep(rec, "gapfill_1m")
        metrics["gapfill_1m"] = rec

    # tier cascade (re-aggregates the maintained 1m table, not the raw
    # scan). Incremental: only the DAYS this run's 1m merge touched need
    # re-rollup — the touched-day set comes from the merge's own lineage
    # record (day boundaries align with 1h and 1d buckets, so day-filtered
    # re-rollup yields complete tier buckets); MERGE keeps other days' rows.
    # month granularity for 1h: a source-day of hourly data is 24 rows, so
    # day dirs would be pathological small files at any input scale
    t_1h = KeyedTable(os.path.join(out_dir, "tier_1h"), ["source", "bucket"],
                      part_spec=MONTH_SPEC)
    t_1d = KeyedTable(os.path.join(out_dir, "tier_1d"), ["source", "bucket"])

    def branch_cascade():
        upd_1m = cur_1m.filter(F.to_date("bucket").cast("string").isin(days))
        r1h = rollup_tier(upd_1m, "1h")
        rec_h = t_1h.merge_upsert(spark, r1h, watermark_col="bucket",
                                  keep_data=True)
        _keep(rec_h, "1h")
        metrics["tier_1h"] = rec_h
        upd_1h = _content("1h", t_1h).filter(
            F.to_date("bucket").cast("string").isin(days))
        rec_d = t_1d.merge_upsert(spark, rollup_tier(upd_1h, "1d"),
                                  watermark_col="bucket",
                                  keep_data=True)
        _keep(rec_d, "1d")
        metrics["tier_1d"] = rec_d

    # gap-fill (STL pandas-UDF compute) and the 1h/1d cascade (two small
    # merges) are independent given cur_1m: overlapping them hides the
    # cascade's fixed merge latency under the STL work instead of adding it
    # serially (measured as the dominant Amdahl term at small core counts).
    # InheritableThread: the cascade's jobs keep the caller's local
    # properties (job group, description, scheduler pool)
    errs: list[BaseException] = []

    def _run(fn):
        try:
            fn()
        except BaseException as e:  # surface thread failures to caller
            errs.append(e)

    th = InheritableThread(_run, args=(branch_cascade,), daemon=True)
    th.start()
    _run(branch_gapfill)
    th.join()
    if errs:
        raise errs[0]
    t0 = _mark("gapfill+cascade", t0)

    # ONE unified chunk table keyed (source, tier, chunk_start): the four
    # per-tier chunk streams union into a single MERGE (one write job
    # instead of four — chunk rows are tiny, job latency dominated)
    t_ch = KeyedTable(os.path.join(out_dir, "chunks"),
                      ["source", "tier", "chunk_start"],
                      part_spec=CHUNK_SPEC)
    tier_srcs = {
        "1m": (cur_1m, "sum_n_tok"),
        "1h": (_content("1h", t_1h), "sum_n_tok"),
        "1d": (_content("1d", t_1d), "sum_n_tok"),
        "gapfill_1m": (_content("gapfill_1m", t_gap), "gapfilled"),
    }
    # a tier missing from chunk_seconds raises here, on the driver
    windows = {t: int((chunk_seconds or DEFAULT_CHUNK_SECONDS)[t])
               for t in tier_srcs}
    # Window-map guard: chunks encoded under a different window map (or an
    # older codec, or a legacy table that recorded no map) have DIFFERENT
    # chunk_start keys under the same CHUNK_SPEC, so a keyed merge would
    # leave stale overlapping chunks that duplicate points on decode (and
    # decode() asserts one codec magic). The map and codec are table props;
    # on any mismatch the run re-encodes every tier in full and publishes
    # it as an overwrite snapshot (stale partitions dropped).
    prev_windows = t_ch.prop("chunk_seconds") if t_ch.exists() else None
    prev_codec = t_ch.prop("codec") if t_ch.exists() else None
    migrate_chunks = t_ch.exists() and (prev_windows != windows
                                        or prev_codec != CODEC_VERSION)
    # window keys are stable, so on a run into an existing table
    # re-encoding only the windows each tier's merge touched is exact
    inc_chunks = t_ch.exists() and not migrate_chunks
    # ONE encode stage for all tiers: the tier frames union as
    # (source, tier, bucket, value double) — lossless, the codec encodes
    # float64 — and one exchange + grouped map keyed (source, tier)
    # encodes them, instead of one mostly-idle stage per tier.
    frames = []
    n_windows = {}
    for tier, (tdf, vcol) in tier_srcs.items():
        if inc_chunks:
            # re-encode ONLY the time windows intersecting this run's
            # touched days (whole windows: the encode needs every row of
            # a touched window, not just touched days). The gapfill
            # tier's touched set comes from the gap-fill MERGE's own
            # partitions — its halo rewrites days beyond the 1m merge's
            W = windows[tier]
            tier_days = days
            if tier == "gapfill_1m":
                tier_days = sorted({
                    p.split(PART_SEP)[1]
                    for p in metrics["gapfill_1m"]["partitions"]})
            win_set: set[int] = set()
            for d in tier_days:
                d0 = int(datetime.datetime.fromisoformat(
                    d + "T00:00:00+00:00").timestamp())
                win_set.update(range(d0 // W, (d0 + 86399) // W + 1))
            wins = sorted(win_set)
            n_windows[tier] = len(wins)
            tdf = tdf.filter(
                (F.unix_timestamp("bucket") / W).cast("long").isin(wins))
        frames.append(tdf.select(
            "source", F.lit(tier).alias("tier"), "bucket",
            F.col(vcol).cast("double").alias("value")))
    tiers = frames[0]
    for f in frames[1:]:
        tiers = tiers.unionByName(f)
    chunks = encode_chunks(tiers, windows,
                           n_keys=n_sources and n_sources * len(frames))
    # keyed upsert: stable window keys replace exactly the re-encoded
    # windows. Month sub-partitioning (by chunk_start) + the chunk_end
    # watermark make retention a metadata-only drop of fully-aged
    # partitions (plans/retention.py).
    props = {"chunk_seconds": windows, "codec": CODEC_VERSION}
    if inc_chunks:
        metrics["chunk_windows_recomputed"] = n_windows
    if migrate_chunks:
        metrics["chunks_migration"] = {
            "from": prev_windows, "to": windows,
            "from_codec": prev_codec, "to_codec": CODEC_VERSION}
        metrics["chunks"] = t_ch.overwrite(
            spark, chunks, watermark_col="chunk_end", props=props)
    else:
        metrics["chunks"] = t_ch.merge_upsert(
            spark, chunks, watermark_col="chunk_end", props=props)
    _mark("chunks", t0)

    cur_1m.unpersist()
    for df_c in tier_cache.values():
        df_c.unpersist()
    wall = time.time() - t_start
    pts = (metrics["tier_1m"]["rows_in"] + metrics["tier_1h"]["rows_in"]
           + metrics["tier_1d"]["rows_in"] + metrics["gapfill_1m"]["rows_in"])
    metrics["summary"] = {
        "wall_s": round(wall, 3),
        "rolled_up_points": pts,
        "points_per_sec": round(pts / wall, 1),
        "stage_walls": stage_walls,
    }
    with open(os.path.join(out_dir, "_run_manifest.json"), "w") as f:
        json.dump(metrics, f, indent=1, default=str)
    return metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description="rollup + STL gap-fill + Gorilla pipeline")
    from hastl_spark.sources.sequences import SCALES
    ap.add_argument("--scale", default="tiny", choices=sorted(SCALES),
                    help="synthetic scale")
    ap.add_argument("--sequences-path", default=None, help="read sequences parquet instead of generating")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--n-salts", type=int, default=16)
    ap.add_argument("--since-bucket", type=int, default=None,
                    help="incremental: only process bucket index >= N")
    ap.add_argument("--incremental-gapfill", action="store_true",
                    help="recompute only gap-fill chunks touched by this "
                         "run's days (requires --chunk-buckets)")
    ap.add_argument("--chunk-buckets", type=int, default=None,
                    help="chunked STL gap-fill chunk size in buckets")
    args = ap.parse_args(argv)

    spark = get_spark(args.cpus, app_name="hastl-rollup-job")
    if args.sequences_path:
        seqs = spark.read.parquet(args.sequences_path)
    else:
        seqs = generate_scale(spark, args.scale)
    if args.since_bucket is not None:
        seq_no = F.split(F.col("doc_id"), "-").getItem(1).cast("long")
        seqs = seqs.filter((seq_no / SEQS_PER_BUCKET).cast("long") >= args.since_bucket)

    stl_kwargs = ({"chunk_buckets": args.chunk_buckets}
                  if args.chunk_buckets else None)
    if args.incremental_gapfill and not args.chunk_buckets:
        # validate UP FRONT: the run_pipeline check only fires once the
        # gapfill table exists, i.e. the SECOND run — by then the first run
        # has already merged an unchunked full gapfill under the bad config
        raise SystemExit("--incremental-gapfill requires --chunk-buckets "
                         "(incremental recomputation is defined on the "
                         "chunked grid)")
    metrics = run_pipeline(spark, seqs, args.out, n_salts=args.n_salts,
                           stl_kwargs=stl_kwargs,
                           incremental_gapfill=args.incremental_gapfill)
    print(json.dumps(metrics["summary"]))


if __name__ == "__main__":
    main()
