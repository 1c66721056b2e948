"""Benchmark harness: ALL driver-contract queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the full
rollup + STL-gapfill + Gorilla pipeline over the deterministic synthetic
``sequences`` table (cached under .bench_data/ — generation is not timed).

Each query is executed through a NOOP SINK (write.format("noop")) so the
measured plan evaluates every output expression; a count() action lets
Catalyst prune the projected work — pure-projection queries collapse to a
bare scan count (late-r4 review finding; totals from rounds 1-4 timed
count() and under-measure projection-heavy queries accordingly).

Noise control (this host's capacity drifts minute-to-minute; a single-shot
bench misstated round 3 by 1.5x): every query is timed
$SPARK_GRAFT_REPEAT times (default 3) in INTERLEAVED rounds — the full
query list runs end-to-end, then again — so one contended window can't
poison all of a query's samples. The headline per-query number is the MIN
(least-interference sample); medians ride alongside so variance is visible
in the artifact.

Prints ONE COMPACT JSON line (last line of stdout — the driver's tail
capture is small, see BENCH_r04.json's truncation):
  {"metric": "...", "value": <sum of per-query mins>, "unit": "sec",
   "queries": {name: min_sec, ...}, "sf": ...,
   "pipeline_points_per_sec": ..., "pipeline_tokens_per_sec": ...,
   "packing_tokens_per_sec": ..., "efficiency": <scaling efficiency>}
The FULL record (medians, per-repeat walls, pipeline/packing detail,
efficiency provenance) is written to BENCH/bench_full.json.

The `efficiency` field is the north_rule's N->4N scaling-efficiency
number. It is not measured here: measuring it takes alternating taskset
pairs of perfbench runs (about 20 min), so the last record
(BENCH/scaling_last.json, written by scripts/scaling_bench.py) is embedded,
with its `measured_at`, `protocol` and core counts under `efficiency_meta`.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

HEADLINE = [
    "rollup_1m", "rollup_1h", "rollup_1d", "densify_1h", "top_users",
    "dow_profile", "sessions", "lineitem_pricing", "revenue_by_nation",
    "docs_stats", "docs_quality", "docs_lang", "docs_tokens_bpe",
    "docs_scrubbed", "docs_exact_dedup", "docs_jaccard_pairs",
    "dup_groups", "contamination",
    "minhash_portable", "minhash_pairs", "simhash_portable",
    "embedding_near_dups", "fingerprints_portable",
    "embeddings_knn", "embeddings_quantized", "label_centroid_norm",
    "ann_topk", "ivf_topk_full",
    "media_features", "media_real_decode",
    "pack_assignments", "packs_summary", "pack_tokens", "mixture_sample",
    "asof_enrich", "range_busy", "kmv_users",
    "time_weighted", "value_quantiles", "ohlc_1h",
    "gapfill_locf_1h", "gapfill_linear_1h",
    "anomalies_1h", "downsample_ltob",
    "counter_rate_1h", "histogram_day", "funnel", "ewma_1h",
    "docs_repetition", "tfidf_top3", "vocab_top50", "docs_split",
    "state_durations", "heartbeat_uptime",
    "stl_gapfill_1h", "loess_smooth_1h", "gorilla_roundtrip_1h",
    "trend_strength",
]

PIPELINE_SCALE = os.environ.get("SPARK_GRAFT_PIPE_SCALE", "small")
ROOT = os.path.dirname(os.path.abspath(__file__))


def load_efficiency() -> dict | None:
    """The last recorded scaling efficiency with its provenance, or None."""
    p = os.path.join(ROOT, "BENCH", "scaling_last.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        sl = json.load(f)
    meta = ("low_cpus", "high_cpus", "workload", "protocol", "nproc",
            "measured_at")
    return {"value": sl["scaling_efficiency"],
            **{k: sl[k] for k in meta if k in sl}}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_REPEAT", "3")))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from hastl_spark.plans.rollup_job import run_pipeline
    from hastl_spark.session import get_spark
    from hastl_spark.sources.sequences import generate_scale

    spark = get_spark(cpus, app_name="hastl-bench")
    qs = entrymod.queries()

    # HEADLINE pins a stable cross-round ordering; any contract query not
    # yet listed is appended automatically so the bench can never silently
    # under-cover a newly added operator (round-5 lesson: 5 new queries
    # were invisible to a hardcoded list)
    headline = [n for n in HEADLINE if n in qs] + sorted(
        n for n in qs if n not in HEADLINE)

    # warm the JVM/Python-worker pools once (not timed per-query)
    qs["rollup_1m"](spark, sf_dir).count()

    def consume(df):
        # the timing action is a NOOP SINK, not count(): count() lets
        # Catalyst prune every expression the count doesn't need — a pure
        # projection query (docs_scrubbed, contamination's left join, the
        # pack_tokens assembly) collapses to a bare scan count and the
        # "benchmark" times nothing. The noop sink consumes all columns
        # JVM-side with zero driver transfer.
        df.write.format("noop").mode("overwrite").save()

    samples: dict[str, list[float]] = {name: [] for name in headline}
    for _ in range(repeat):
        for name in headline:
            t0 = time.time()
            consume(qs[name](spark, sf_dir))
            samples[name].append(round(time.time() - t0, 3))
    timings = {n: min(v) for n, v in samples.items()}
    medians = {n: round(statistics.median(v), 3) for n, v in samples.items()}

    # ---- synthetic-sequences pipeline (points/sec is the north metric) ----
    # stage on tmpfs when available: the sandbox block device throttles under
    # sustained load and would dominate the measurement (see BENCH/BASELINE.md)
    if os.path.isdir("/dev/shm"):
        data_root = "/dev/shm/hastl_bench"
        os.makedirs(data_root, exist_ok=True)
    else:
        data_root = os.path.join(ROOT, ".bench_data")
    seq_path = os.path.join(data_root, f"sequences_{PIPELINE_SCALE}")
    if not os.path.exists(os.path.join(seq_path, "_SUCCESS")):
        generate_scale(spark, PIPELINE_SCALE).write.mode("overwrite").parquet(seq_path)
    seqs = spark.read.parquet(seq_path)
    tokens_scanned = seqs.selectExpr("sum(n_tok)").collect()[0][0]

    pipe_walls = []
    pts = 0
    for i in range(repeat):
        out_dir = os.path.join(data_root, f"tiers_{PIPELINE_SCALE}")
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.time()
        metrics = run_pipeline(spark, seqs, out_dir, check_invariant=False)
        pipe_walls.append(time.time() - t0)
        pts = metrics["summary"]["rolled_up_points"]
    pipe_wall = min(pipe_walls)

    # ---- physical packing throughput over the SAME sequences table ----
    # (the training-assembly op at real scale: every token crosses one
    # shuffle as an array slice). sum(size(tokens)) forces full assembly —
    # a bare count() would let Catalyst prune the collect_list — and must
    # equal tokens_scanned (conservation).
    from pyspark.sql import functions as F
    from hastl_spark.operators.packing import pack_tokens

    pseq = seqs.select(
        F.substring("doc_id", -10, 10).cast("long").alias("doc_id"),
        "source", "tokens", "n_tok")
    pack_walls, tokens_packed = [], 0
    for _ in range(repeat):
        t0 = time.time()
        tokens_packed = pack_tokens(pseq, 2048).select(
            F.sum(F.size("tokens"))).collect()[0][0]
        pack_walls.append(time.time() - t0)
    pack_wall = min(pack_walls)
    assert int(tokens_packed) == int(tokens_scanned), "packing lost tokens"

    eff = load_efficiency()
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "repeat": repeat,
        "sf": sf,
        "pipeline": {
            "scale": PIPELINE_SCALE,
            "input_rows": seqs.count(),
            "tokens_scanned": int(tokens_scanned),
            "rolled_up_points": pts,
            "wall_s": round(pipe_wall, 3),
            "walls_s": [round(w, 3) for w in pipe_walls],
            "points_per_sec": round(pts / pipe_wall, 1),
            "tokens_per_sec": round(tokens_scanned / pipe_wall, 1),
            "cpus": cpus,
        },
    }
    out["packing"] = {
        "scale": PIPELINE_SCALE,
        "budget": 2048,
        "tokens_packed": int(tokens_packed),
        "wall_s": round(pack_wall, 3),
        "walls_s": [round(w, 3) for w in pack_walls],
        "tokens_per_sec": round(tokens_packed / pack_wall, 1),
        "cpus": cpus,
    }
    if eff:
        out["efficiency"] = eff.pop("value")
        out["efficiency_meta"] = eff

    # Full record (medians, per-repeat walls, efficiency provenance) goes
    # to a file; the PRINTED line must stay compact — the round-4 driver
    # artifact recorded "parsed": null because the 49-query double dict
    # overflowed the driver's stdout tail capture and the line arrived
    # truncated mid-JSON. Print one short final line with the contract
    # fields only.
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    # per-SF artifact so a quick sf0.01 smoke can never clobber the
    # headline sf0.1 record; bench_full.json stays as "latest run"
    for name in (f"bench_full_sf{sf}.json", "bench_full.json"):
        with open(os.path.join(ROOT, "BENCH", name), "w") as f:
            json.dump(out, f, indent=1)

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": {n: round(v, 2) for n, v in timings.items()},
        "sf": sf,
        "pipeline_points_per_sec": out["pipeline"]["points_per_sec"],
        "pipeline_tokens_per_sec": out["pipeline"]["tokens_per_sec"],
        "packing_tokens_per_sec": out["packing"]["tokens_per_sec"],
    }
    if "efficiency" in out:
        compact["efficiency"] = out["efficiency"]
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # the driver captures only the last 2000 chars of stdout (the
        # round-4 artifact arrived truncated mid-JSON): keep the slowest
        # queries, note the drop, full record stays in BENCH/bench_full.json
        slow = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:40])
        compact["queries"] = {n: round(v, 2) for n, v in slow.items()}
        compact["queries_truncated"] = len(timings) - len(slow)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
