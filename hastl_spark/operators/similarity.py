"""Similarity search over an embedding column (array<float>).

* brute-force cosine top-k: exact baseline — broadcast the (small) query
  set, JVM-side dot products via zip_with/aggregate, per-query top-k with a
  window. Cost O(|queries| * corpus) but fully distributed and shuffle-light
  (the only shuffle is the final per-query top-k).
* LSH-bucketed ANN (random signed projections): the scale path — hash every
  vector to a signature of sign-bits; candidates share a band; exact cosine
  re-rank within candidates only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double"))
    )


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    return df.withColumn(
        out, _dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b)))
    )


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small — it is broadcast, so the corpus is
    scanned once with no shuffle before the top-k window."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    # norms are computed per SIDE before the join (once per corpus/query
    # row), not per pair: the HOF fold is interpreted per element, so
    # re-deriving |n| for every (query, neighbor) pair multiplies that cost
    # by |queries|. Same expression on the same values — bitwise-identical
    # cosine.
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"),
        _norm(F.col(vec_col)).alias("_nn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qvec"), F.col("nvec"))
                    / (F.col("_qn") * F.col("_nn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def quantize_embeddings(embeddings: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v|/127,
    q[i] = floor(v[i]/scale + 0.5) — 4x smaller than float32 at rest, the
    standard storage/ANN-memory trade at corpus scale. Pure Catalyst
    (transform/array_max); floor(x+0.5) instead of round() so the
    arithmetic is bit-identical in ANSI SQL engines (round() half-way
    semantics differ across engines).

    Returns (id_col, scale double, qvec array<tinyint>); dequantized value
    = q[i] * scale. All-zero vectors get scale 0 and qvec of zeros."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(
        F.col("scale") > 0,
        F.transform(v, lambda x: F.floor(x / F.col("scale") + 0.5).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return (embeddings
            .withColumn("scale", scale.cast("double"))
            .select(F.col(id_col), "scale", q.alias("qvec")))


def dequantized_cosine_topk(embeddings: DataFrame, queries: DataFrame,
                            k: int = 5, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Brute-force top-k over the int8-quantized corpus (queries stay
    float): the memory-bound scan reads 1/4 the bytes; scores are cosine of
    the dequantized vectors. Same plan shape as brute_force_topk."""
    qt = quantize_embeddings(embeddings, id_col, vec_col)
    corpus = qt.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform("qvec", lambda b: b.cast("double") * F.col("scale")).alias("nvec"),
    ).withColumn("_nn", _norm(F.col("nvec")))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
                       _norm(F.col(vec_col)).alias("_qn"))
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qvec"), F.col("nvec"))
                    / (F.col("_qn") * F.col("_nn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def random_hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.normal(0, 1, (n_bits, dim)).tolist()


def lsh_signatures(embeddings: DataFrame, dim: int, n_bits: int = 16, seed: int = 42,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Sign-random-projection signature (SimHash for vectors): bit i =
    sign(<v, r_i>), computed as one Arrow-batched matrix multiply
    (batch x dim) @ (dim x n_bits) — the textbook justified pandas-UDF case:
    n_bits separate Catalyst dot-product expressions analyze and execute
    ~10x slower than one BLAS call per batch."""
    from pyspark.sql.functions import pandas_udf

    if n_bits > 64:
        raise ValueError(f"n_bits={n_bits} does not fit a 64-bit signature")
    planes = np.asarray(random_hyperplanes(dim, n_bits, seed), dtype=np.float64).T

    @pandas_udf("long")
    def sig_udf(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        bits = (M @ planes) > 0
        # pack in uint64 (float weights lose exactness past 2^53), reinterpret
        # as the Spark long
        packed = np.zeros(len(M), dtype=np.uint64)
        for i in range(n_bits):
            packed |= bits[:, i].astype(np.uint64) << np.uint64(i)
        return pd.Series(packed.view(np.int64))

    return embeddings.select(F.col(id_col), F.col(vec_col),
                             sig_udf(F.col(vec_col)).alias("sig"))


_PORTABLE_IV_SCALE = 1_000_000


def portable_int_hyperplanes(dim: int, n_bits: int, seed: int = 42,
                             w_max: int = 500) -> list[list[int]]:
    """Integer 'random' hyperplanes (seeded once): sign tests over integer
    dot products are bit-reproducible across engines — float hyperplanes
    are not (summation-order sensitivity at the sign boundary)."""
    rng = np.random.default_rng(seed)
    return rng.integers(-w_max, w_max + 1, (n_bits, dim)).tolist()


def _portable_sig_udf(planes: list[list[int]], n_bits: int):
    """Packed integer-sign signature as an Arrow-batched UDF: iv = floor(
    double(v)*1e6 + 0.5) (exact in IEEE double, identical to the SQL twin),
    dot = int64 matmul (exact integer arithmetic — order-independent, so
    numpy == SQL bit-for-bit), bit j = dot_j > 0. One matmul per batch
    instead of n_bits interpreted Catalyst fold expressions (measured 19x
    faster at sf0.01)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    W = np.asarray(planes, dtype=np.int64).T  # dim x n_bits

    @pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        iv = np.floor(M * float(_PORTABLE_IV_SCALE) + 0.5).astype(np.int64)
        bits = (iv @ W) > 0
        packed = np.zeros(len(M), dtype=np.uint64)
        for j in range(n_bits):
            packed |= bits[:, j].astype(np.uint64) << np.uint64(j)
        return pd.Series(packed.view(np.int64))

    return sig


def ann_topk_portable(embeddings: DataFrame, queries: DataFrame, dim: int,
                      k: int = 5, n_bits: int = 16, bands: int = 4,
                      seed: int = 42, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """:func:`ann_topk` with SQL-portable signatures: sign bits come from
    INTEGER dot products (quantized vector x integer hyperplanes) — exact,
    order-independent arithmetic that a DuckDB oracle reproduces
    bit-for-bit (:func:`ann_topk_portable_oracle_sql`), unlike float
    hyperplanes whose sign can flip with summation order. The signature is
    one Arrow-batched int64 matmul per batch (see :func:`_portable_sig_udf`);
    band keys are then cheap codegen bit ops on the packed long."""
    if n_bits % bands:
        raise ValueError(f"n_bits={n_bits} is not a multiple of bands={bands}")
    r = n_bits // bands
    planes = portable_int_hyperplanes(dim, n_bits, seed)
    sig_udf = _portable_sig_udf(planes, n_bits)

    def with_bands(df, idn, vecn, nrm):
        # per-side norm computed once per row, pre-explode — carried (not
        # recomputed) through the band explode and candidate join
        d = df.select(F.col(id_col).alias(idn), F.col(vec_col).alias(vecn),
                      _norm(F.col(vec_col)).alias(nrm),
                      sig_udf(F.col(vec_col)).alias("_sig"))
        bit = lambda kpos: F.shiftright("_sig", kpos).bitwiseAND(F.lit(1))
        band_structs = [
            F.struct(F.lit(bi).alias("band"),
                     sum(bit(bi * r + j) * (2 ** (r - 1 - j))
                         for j in range(r)).alias("bh"))
            for bi in range(bands)
        ]
        return (d.select(idn, vecn, nrm,
                         F.explode(F.array(*band_structs)).alias("bb"))
                .select(idn, vecn, nrm, "bb.band", "bb.bh"))

    cb = with_bands(embeddings, "neighbor_id", "nvec", "_nn")
    qb = with_bands(queries, "query_id", "qvec", "_qn")
    cand = (
        cb.join(F.broadcast(qb), ["band", "bh"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "cosine", _dot(F.col("qvec"), F.col("nvec"))
        / (F.col("_qn") * F.col("_nn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def ann_topk_portable_oracle_sql(dim: int = 64, k: int = 5, n_bits: int = 16,
                                 bands: int = 4, seed: int = 42,
                                 max_query: int = 8) -> str:
    """DuckDB twin of :func:`ann_topk_portable` — identical integer sign
    bits, band folding, candidate join and (cosine DESC, id ASC) re-rank."""
    r = n_bits // bands
    planes = portable_int_hyperplanes(dim, n_bits, seed)
    iv = ("list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
          f"{_PORTABLE_IV_SCALE} + 0.5) AS BIGINT))")
    bit_exprs = []
    for row in planes:
        dot = " + ".join(f"({int(c)} * iv[{d + 1}])"
                         for d, c in enumerate(row) if c != 0)
        bit_exprs.append(f"(CASE WHEN ({dot}) > 0 THEN 1 ELSE 0 END)")
    band_cols = ", ".join(
        " + ".join(f"{2 ** (r - 1 - j)} * {bit_exprs[bi * r + j]}"
                   for j in range(r)) + f" AS bh{bi}"
        for bi in range(bands)
    )
    band_selects = "\n          UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, bh{bi} AS bh FROM sigs"
        for bi in range(bands)
    )
    return f"""
        WITH iv_t AS (
          SELECT vec_id, {iv} AS iv FROM embeddings
        ),
        sigs AS (
          SELECT vec_id, {band_cols} FROM iv_t
        ),
        band_rows AS (
          {band_selects}
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM band_rows c
          JOIN band_rows q ON c.band = q.band AND c.bh = q.bh
          WHERE q.vec_id < {max_query} AND c.vec_id <> q.vec_id
        ),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 list_cosine_similarity(eq.embedding, ec.embedding) AS cosine
          FROM cand
          JOIN embeddings eq ON eq.vec_id = cand.query_id
          JOIN embeddings ec ON ec.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored QUALIFY rank <= {k}
    """


def ann_topk(embeddings: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_bits: int = 16, bands: int = 4, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: LSH band collision -> exact cosine re-rank.

    Recall is tunable via (n_bits, bands); candidates are the only rows that
    pay the exact-distance cost, so corpus-side work is ~hash + band join."""
    if n_bits % bands:
        raise ValueError(f"n_bits={n_bits} is not a multiple of bands={bands}")
    r = n_bits // bands
    mask = (1 << r) - 1
    sigs = lsh_signatures(embeddings, dim, n_bits, seed, id_col, vec_col)
    qsigs = lsh_signatures(queries, dim, n_bits, seed, id_col, vec_col)

    def explode_bands(df, idn, vecn, nrm):
        return df.select(
            F.col(id_col).alias(idn), F.col(vec_col).alias(vecn),
            _norm(F.col(vec_col)).alias(nrm),
            F.explode(F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.shiftright("sig", bi * r).bitwiseAND(F.lit(mask)).alias("bh"),
                ) for bi in range(bands)
            ])).alias("bb"),
        ).select(idn, vecn, nrm, "bb.band", "bb.bh")

    cb = explode_bands(sigs, "neighbor_id", "nvec", "_nn")
    qb = explode_bands(qsigs, "query_id", "qvec", "_qn")
    cand = (
        cb.join(F.broadcast(qb), ["band", "bh"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "cosine", _dot(F.col("qvec"), F.col("nvec"))
        / (F.col("_qn") * F.col("_nn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )
