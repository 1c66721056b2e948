"""Seeded ``sequences`` input for the tier workloads.

Same schema and construction as ``hastl_spark.sources.sequences`` (Zipf
sources, harmonic doc rate with trend, ~5% hashed gaps plus one 3-bucket
gap per source per day, ``doc_id = f"{source}-{seq:010d}"``), built with
Catalyst expressions only. The seed moves the gap positions, the per-doc
token lengths and a +-10% doc-count jitter; the volume stays put, so every
seed costs the same work.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hastl_spark.sources.sequences import (N_P_BUCKETS, SEQS_PER_BUCKET,
                                           TREND_PER_BUCKET, VOCAB,
                                           source_names, source_weights)

DAY = 1440          # 1-minute buckets per day
SLICE = 60          # buckets per append slice (one hour)

# 4 sources rather than the library's 16-source `small`: the grouped-map
# stages schedule 4 tasks per source, and at 16 sources one append cycle
# takes ~18 s on 4 cores, too long for the benchmark's per-run budget.
SHAPE = {
    "n_sources": 4,
    "base_buckets": 2 * DAY,   # tier_maintain's base build
    "n_slices": 12,            # hourly slices after the base
    "rate": 8.0,               # mean docs per bucket over all sources
    "tok_lo": 16,
    "tok_hi": 128,
}


def n_buckets() -> int:
    return SHAPE["base_buckets"] + SHAPE["n_slices"] * SLICE


def generate(spark: SparkSession, seed: int) -> DataFrame:
    """The seeded sequences table (doc_id, tokens, n_tok, source)."""
    names = source_names(SHAPE["n_sources"])
    weights = source_weights(SHAPE["n_sources"])
    rate_map = F.map_from_arrays(
        F.array(*[F.lit(s) for s in names]),
        F.array(*[F.lit(SHAPE["rate"] * w) for w in weights]))
    s = F.lit(int(seed))
    b = F.col("b")

    grid = (spark.range(0, n_buckets(), 1,
                        spark.sparkContext.defaultParallelism)
            .withColumnRenamed("id", "b")
            .crossJoin(F.broadcast(spark.createDataFrame(
                [(n,) for n in names], "source string"))))
    jitter = 0.9 + 0.2 * F.pmod(F.xxhash64(s, F.col("source"), b, F.lit(3)),
                                F.lit(1000)) / 1000.0
    n_docs = F.greatest(F.lit(1), F.round(
        F.element_at(rate_map, F.col("source"))
        * (1.0 + 0.45 * F.sin(2.0 * math.pi * b / N_P_BUCKETS)
           + TREND_PER_BUCKET * b) * jitter).cast("int"))
    hashed_gap = F.pmod(F.xxhash64(s, F.col("source"), b), F.lit(20)) == 0
    day_gap_start = F.pmod(F.xxhash64(s, F.col("source"),
                                      (b / DAY).cast("long"), F.lit(7)),
                           F.lit(DAY))
    minute = F.pmod(b, F.lit(DAY))
    day_gap = (minute >= day_gap_start) & (minute < day_gap_start + 3)
    docs = (grid.filter(~(hashed_gap | day_gap))
            .select("source", "b", F.explode(
                F.sequence(F.lit(0), n_docs - 1)).alias("k")))
    seq = (b * SEQS_PER_BUCKET + F.col("k")).cast("long")
    docs = docs.withColumn("doc_id", F.concat(
        F.col("source"), F.lit("-"), F.format_string("%010d", seq)))
    h = F.xxhash64(F.col("doc_id"), s)
    span = SHAPE["tok_hi"] - SHAPE["tok_lo"] + 1
    docs = docs.withColumn(
        "n_tok", (F.lit(SHAPE["tok_lo"]) + F.pmod(h, F.lit(span))).cast("int"))
    docs = docs.withColumn("tokens", F.transform(
        F.sequence(F.lit(0), F.col("n_tok") - 1),
        lambda i: F.pmod(h + i, F.lit(VOCAB)).cast("int")))
    return docs.select("doc_id", "tokens", "n_tok", "source")


def bucket_index() -> F.Column:
    """Minute-bucket index of a sequences row, derived from doc_id."""
    seq = F.split(F.col("doc_id"), "-").getItem(1).cast("long")
    return (seq / SEQS_PER_BUCKET).cast("long")
