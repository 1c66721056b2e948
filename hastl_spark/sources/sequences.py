"""Deterministic synthetic ``sequences`` table generator (FIXTURES.md §1).

Schema is exactly the mandated input (BASELINE.json ``input_hint``):
``(doc_id string, tokens array<int32>, n_tok int32, source string)``.

Entirely Catalyst-native (``spark.range`` + ``sequence``/``transform``/
``xxhash64`` expressions — no Python row generation), so any scale is
generated distributedly and identically.

Construction:
  * sources ``src00..srcNN`` with Zipf-ish weights — ``src00`` carries ~half
    the rows, to exercise skew handling;
  * per (source, minute-bucket b) the document count follows the reference's
    harmonic generator shape (sinusoid of period n_p buckets + linear trend,
    examples/utils.py:17-33), so the per-bucket n_tok sums the pipeline
    decomposes look like the reference's canonical example;
  * ~5% of buckets are deleted via hash(source, b) % 20 == 0, plus one
    contiguous 3-bucket gap per source per day — the STL gap-fill workload;
  * ``doc_id = f"{source}-{seq:010d}"`` with ``seq = b * SEQS_PER_BUCKET + k``;
    event time derives from doc_id alone (EPOCH0 + b minutes), so the input
    table needs no timestamp column.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH0 = "2026-01-01 00:00:00"
SEQS_PER_BUCKET = 100_000  # seq = b * SPB + k ; k < SPB
VOCAB = 50257
N_P_BUCKETS = 52          # seasonal period of the doc-rate, in buckets
TREND_PER_BUCKET = 0.002  # relative linear trend, mirrors harmonic.py:54


def source_names(n_sources: int) -> list[str]:
    return [f"src{i:02d}" for i in range(n_sources)]


def source_weights(n_sources: int) -> list[float]:
    """Zipf-ish with exponent 2 — src00 gets ~60% at 16 sources."""
    w = [1.0 / (i + 1) ** 2 for i in range(n_sources)]
    s = sum(w)
    return [x / s for x in w]


def generate_sequences(
    spark: SparkSession,
    n_sources: int = 4,
    n_buckets: int = 2000,
    base_rate: float = 16.0,
    tok_lo: int = 64,
    tok_hi: int = 2048,
    with_tokens: bool = True,
) -> DataFrame:
    """Build the sequences DataFrame. ``base_rate`` = mean docs/bucket
    summed over all sources; per-source rate = base_rate * weight(source)."""
    names = source_names(n_sources)
    weights = source_weights(n_sources)
    rate_map = F.map_from_arrays(
        F.array(*[F.lit(s) for s in names]),
        F.array(*[F.lit(base_rate * w) for w in weights]),
    )

    buckets = spark.range(n_buckets).withColumnRenamed("id", "b")
    srcs = spark.createDataFrame([(s,) for s in names], "source string")
    grid = buckets.crossJoin(srcs).repartition(64, "b")

    # harmonic doc-count per bucket: rate * (1 + 0.45*sin(2*pi*b/n_p) + trend*b)
    grid = grid.withColumn("rate", F.element_at(rate_map, F.col("source")))
    grid = grid.withColumn(
        "n_docs",
        F.greatest(
            F.lit(1),
            F.round(
                F.col("rate")
                * (
                    1.0
                    + 0.45 * F.sin(2.0 * math.pi * F.col("b") / N_P_BUCKETS)
                    + TREND_PER_BUCKET * F.col("b")
                )
            ).cast("int"),
        ),
    )

    # gap injection: hash(source, b) % 20 == 0 (~5%) + one 3-bucket gap per day
    h = F.pmod(F.xxhash64(F.col("source"), F.col("b")), F.lit(20))
    day = (F.col("b") / 1440).cast("long")
    day_gap_start = F.pmod(F.xxhash64(F.col("source"), day, F.lit(7)), F.lit(1440))
    in_day_gap = (
        (F.pmod(F.col("b"), F.lit(1440)) >= day_gap_start)
        & (F.pmod(F.col("b"), F.lit(1440)) < day_gap_start + 3)
    )
    grid = grid.filter(~((h == 0) | in_day_gap))

    # explode docs within each surviving bucket
    df = grid.select(
        "source",
        "b",
        F.explode(F.sequence(F.lit(0), F.col("n_docs") - 1)).alias("k"),
    )
    seq = (F.col("b") * SEQS_PER_BUCKET + F.col("k")).cast("long")
    # format_string('%010d') == python f"{seq:010d}": pads short values and
    # KEEPS all digits of longer ones. lpad() would silently TRUNCATE seqs
    # past 10 digits (b >= 100000, i.e. histories > ~69 days of minutes),
    # corrupting doc_ids and the event times derived from them.
    df = df.withColumn(
        "doc_id",
        F.concat(F.col("source"), F.lit("-"), F.format_string("%010d", seq)),
    )
    span = tok_hi - tok_lo + 1
    df = df.withColumn(
        "n_tok", (F.lit(tok_lo) + F.pmod(F.xxhash64(F.col("doc_id")), F.lit(span))).cast("int")
    )
    if with_tokens:
        df = df.withColumn(
            "tokens",
            F.transform(
                F.sequence(F.lit(0), F.col("n_tok") - 1),
                lambda i: F.pmod(F.xxhash64(F.col("doc_id")) + i, F.lit(VOCAB)).cast("int"),
            ),
        )
    else:
        df = df.withColumn("tokens", F.array().cast("array<int>"))
    return df.select("doc_id", "tokens", "n_tok", "source")


SCALES = {
    # name: (n_sources, n_buckets, base_rate, tok_lo, tok_hi)
    "xs": (4, 300, 8.0, 16, 64),
    "tiny": (4, 2000, 16.0, 64, 2048),
    "small": (16, 5000, 96.0, 16, 128),
    "medium": (16, 20000, 128.0, 16, 128),
    # ~1.0e9 rows (~38 GB parquet): the 10^9-row tokenized-sequence table
    # named by the baseline metric, for a single-node throughput headline
    "b1": (64, 30000, 1536.0, 8, 24),
}


def generate_scale(spark: SparkSession, scale: str, with_tokens: bool = True) -> DataFrame:
    ns, nb, rate, lo, hi = SCALES[scale]
    return generate_sequences(spark, ns, nb, rate, lo, hi, with_tokens=with_tokens)
