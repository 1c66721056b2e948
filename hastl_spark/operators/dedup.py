"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale notes (the point of each design):
  * exact: one hash-groupBy — map-side combine collapses duplicates before
    the shuffle, so cost is ~unique keys, not rows;
  * Jaccard: shingle-explode + self-join on shingle is quadratic only within
    a shingle bucket; at 100 TB use MinHash/LSH instead;
  * MinHash+LSH: k affine permutations of a polynomial shingle hash
    (aggregate-min — no UDF), folded into b band buckets; candidate pairs
    only join within a band bucket — linear-ish in corpus size;
  * SimHash: 32 sign-aggregated per-bit votes over the same shingle hash;
    near-dup = small Hamming distance.

MinHash and SimHash use only integer arithmetic that DuckDB reproduces
bit-for-bit, so each has an ANSI-SQL oracle twin (``*_oracle_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import char_ngrams, poly_hash_sql


def contamination_flags(docs: DataFrame, benchmark: DataFrame, n: int = 16,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        max_benchmark_shingles: int = 10_000_000,
                        broadcast: bool = True) -> DataFrame:
    """Benchmark decontamination: per document, how many DISTINCT benchmark
    ``n``-gram shingles it contains (``n_hits``) and a ``contaminated``
    flag. The standard pre-training hygiene pass that drops documents
    overlapping an eval set.

    Scale shape: the benchmark shingle set is tiny next to the corpus, so
    it BROADCASTS and the corpus never shuffles — doc shingles stream
    through the codegen explode straight into the broadcast hash join, and
    only HIT rows (a vanishing fraction) reach the per-doc count. The final
    left join back to ids is corpus-sized but carries only (id) vs
    (id, n_hits).

    ``max_benchmark_shingles`` bounds the broadcast side (fail-fast probe,
    one extra benchmark pass); ``broadcast=False`` selects a shuffle-join
    plan for genuinely large benchmarks.
    """
    bench = char_ngrams(benchmark, n=n, text_col=text_col,
                        id_col=id_col).select("ngram").distinct()
    if broadcast:
        # Fail-fast size guard:
        # a "benchmark" that is actually corpus-sized would OOM every
        # executor when broadcast. Two-tier probe (r6): distinct shingles
        # are bounded above by total gram positions = sum(max(len-n+1,1)),
        # a column-pruned scalar aggregate (~3x cheaper than exploding +
        # distinct-counting the shingles — 0.85s vs 0.30s at sf1.0). Only
        # when that cheap bound exceeds the cap does the exact limit+1
        # count run to decide; the broadcast therefore still NEVER ships
        # more than max_benchmark_shingles distinct shingles.
        ub = benchmark.agg(F.sum(F.greatest(
            F.length(text_col) - (n - 1), F.lit(1)))).collect()[0][0] or 0
        if ub > max_benchmark_shingles:
            probe = bench.limit(max_benchmark_shingles + 1).count()
            if probe > max_benchmark_shingles:
                raise ValueError(
                    f"benchmark has >{max_benchmark_shingles} distinct "
                    f"{n}-gram shingles — too large to broadcast; call "
                    "with broadcast=False for a shuffle-join plan (corpus "
                    "shingles will shuffle on ngram), or raise "
                    "max_benchmark_shingles if your executors have the "
                    "headroom")
        bench = F.broadcast(bench)
    hits = (char_ngrams(docs, n=n, text_col=text_col, id_col=id_col)
            .join(bench, "ngram")
            .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits")))
    return (docs.select(id_col).join(hits, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated")))


def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (keep_id = min doc_id, dup_cnt) per distinct
    text. SQL-oracle-able (GROUP BY text is equivalent barring a 64-bit
    hash+length collision).

    The groupBy key is (xxhash64(text), length(text)) — NOT the text itself —
    so the shuffle carries 16 bytes per row instead of the document body; at
    corpus scale the byte volume through the wire drops by the mean doc size.
    Map-side combine still collapses same-partition duplicates first."""
    return (
        docs.groupBy(
            F.xxhash64(text_col).alias("_th"), F.length(text_col).alias("_tl")
        )
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
        .select("keep_id", "dup_cnt")
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All pairs (a < b) with |ngrams(a) ∩ ngrams(b)| / |union| >= threshold.

    Exact but O(pairs-sharing-a-shingle); use on bounded candidate sets or
    behind LSH. Shuffle keys are the shingles themselves.
    """
    grams = char_ngrams(docs, n=n, text_col=text_col, id_col=id_col)
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, on="ngram")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _cap_band_buckets(band_rows: DataFrame, max_bucket: int | None,
                      bucket_cols: tuple[str, str] = ("band", "bh")) -> DataFrame:
    """Drop band buckets holding more rows than ``max_bucket`` before the
    candidate self-join (a bucket of b rows costs b^2/2 pairs; exact-dup
    clusters collide in EVERY band, so a web corpus with a large duplicate
    group would otherwise go quadratic). Exact duplicates should be removed
    by hash-keyed exact dedup first; the cap is the backstop, auditable the
    same way as dropped_bucket_stats.

    Implemented as a bucket-count window over the (band, bh) exchange the
    downstream self-join shuffles on anyway — ONE pass, no second groupBy
    aggregate or broadcast anti-join (the round-2 variant added ~20% to
    minhash_pairs from exactly that extra pass)."""
    if max_bucket is None:
        return band_rows
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols)
    return (band_rows.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn"))


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95,
                        dim: int | None = None, use_lsh: bool = True,
                        n_bits: int = 64, n_bands: int = 8,
                        max_bucket: int | None = 4096,
                        id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    ``use_lsh=True`` (the scale path) generates candidates via sign-random-
    projection band collisions and re-ranks exactly; ``False`` scores every
    pair (exact, quadratic — only for bounded inputs / oracles).

    Candidate recall at the threshold (sign-LSH: P[bit agrees] =
    1 - acos(cos)/pi, band collides iff all r bits agree, pair survives iff
    >=1 of b bands collides): with the default 8 bands x 8 bits, a pair at
    cosine 0.95 collides in >=1 band with prob ~0.988; at cosine 0.90,
    ~0.89. The previous 4x16-bit default had only ~0.55 recall AT the 0.95
    threshold (each 16-bit band collides with prob ~0.9^16~0.18) — fine for
    exact-dup mining, wrong for at-threshold near-dups. Pinned by
    tests/test_breadth.py planted-pair recall test.

    Scale design: narrower bands trade bucket granularity (256 values per
    8-bit band vs 65536) for recall; the ``max_bucket`` cap is what actually
    bounds the self-join — it drops band buckets holding more vectors than
    the cap (hot buckets — e.g. near-zero vectors or corpus-scale uniform
    collisions — would otherwise blow up quadratically); dropped pairs can
    still collide in their other bands. Set ``max_bucket=None`` to disable.
    Use :func:`dropped_bucket_stats` on the same input to audit how many
    buckets the cap silenced."""
    from .similarity import _dot, _norm, lsh_signatures

    if use_lsh:
        if dim is None:
            raise ValueError("use_lsh=True needs the embedding dim")
        if n_bits % n_bands:
            raise ValueError(f"n_bits={n_bits} is not a multiple of "
                             f"n_bands={n_bands}")
        r = n_bits // n_bands
        mask = (1 << r) - 1
        sigs = lsh_signatures(embeddings, dim, n_bits=n_bits,
                              id_col=id_col, vec_col=vec_col)
        # vector norm computed once per row pre-explode (the HOF fold is
        # interpreted per element; per-pair recomputation multiplies it by
        # the candidate fan-out), carried through the band join
        bands = sigs.select(
            id_col, vec_col, _norm(F.col(vec_col)).alias("_n"),
            F.explode(F.array(*[
                F.struct(F.lit(bi).alias("band"),
                         F.shiftright("sig", bi * r).bitwiseAND(F.lit(mask)).alias("bh"))
                for bi in range(n_bands)
            ])).alias("bb"),
        ).select(id_col, vec_col, "_n", "bb.band", "bb.bh")
        bands = _cap_band_buckets(bands, max_bucket)
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(b, ["band", "bh"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col(f"a.{vec_col}").alias("va"),
                    F.col(f"b.{vec_col}").alias("vb"),
                    F.col("a._n").alias("_na"), F.col("b._n").alias("_nb"))
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                              _norm(F.col(vec_col)).alias("_na"))
        b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                              _norm(F.col(vec_col)).alias("_nb"))
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        cand.withColumn("cosine", _dot(F.col("va"), F.col("vb"))
                        / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def dup_group_labels(nodes: DataFrame, pairs: DataFrame, max_iter: int = 20,
                     id_col: str = "doc_id",
                     driver_edge_limit: int = 1_000_000) -> DataFrame:
    """Resolve near-dup PAIRS into GROUPS: connected components by iterative
    min-label propagation — the step that turns any pair-producing dedup
    operator (Jaccard, MinHash LSH, embedding near-dup) into an
    actionable keep/drop set.

    ``nodes``: one column ``id_col`` (doc ids; singletons label themselves);
    ``pairs``: (id_a, id_b). Returns (id_col, group_id = min id reachable).

    Spark shape: labels start as self; each round every node takes the min
    of its own and its neighbors' labels (one join + one groupBy per round,
    both on the id key), then POINTER-JUMPS (lbl := label(lbl) — a label is
    always a node id in the same component, so the indirection is one more
    keyed join) — label doubling makes ``max_iter`` rounds cover components
    of diameter ~2^max_iter, so long near-dup chains in templated corpora
    cannot silently split. localCheckpoint() per round truncates the plan
    lineage (iterative joins otherwise stack analysis cost per round); the
    convergence probe (a count action) runs every SECOND round — halving
    driver actions — and if the loop exhausts ``max_iter`` unconverged a
    warning is emitted instead of returning split labels silently.

    Size-adaptive fast path (same spirit as a broadcast-join threshold):
    after LSH/Jaccard filtering the edge set is usually a vanishing fraction
    of the corpus, and at or below ``driver_edge_limit`` unique pairs an
    exact driver-side union-find replaces the propagation loop — one collect
    of the (already materialized) edge list instead of 3 shuffles + a probe
    count per round. Semantics are identical (group = min reachable id;
    pinned by a both-paths-equal test); above the limit the distributed loop
    runs, so a pathological pair blowup at 100 TB degrades to the scalable
    path, never to a driver OOM. Size the limit to the driver: 1M pairs is
    ~100-200 MB of Row objects + an up-to-2M-row createDataFrame — fine on
    multi-GB drivers, a latency/memory cliff at much larger values (the
    collect cost just below the threshold should stay well under one
    propagation round).
    """
    import warnings

    F_ = F
    # materialize the edge set ONCE: `pairs` usually arrives as the unexecuted
    # plan of an expensive pair-producing operator (banded LSH join, Jaccard
    # self-join), and every propagation round joins against `edges` — without
    # this checkpoint the whole upstream dedup plan re-executes per round
    # (measured: ~4x the pair cost at sf0.1, the entire query wall).
    # Symmetrization via explode, not union-of-two-selects: union branches are
    # separate subplans, so the upstream pair plan would execute twice even
    # inside the one checkpoint job.
    edges = (pairs.select(F_.explode(F_.array(
                 F_.struct(F_.col("id_a").alias("src"), F_.col("id_b").alias("dst")),
                 F_.struct(F_.col("id_b").alias("src"), F_.col("id_a").alias("dst")),
             )).alias("e"))
             .select("e.src", "e.dst")
             .distinct()
             .localCheckpoint())
    all_nodes = nodes.select(F_.col(id_col).alias("node")).distinct()
    # iterate ONLY over nodes that appear in some pair: in a deduped corpus
    # the overwhelming majority of docs are singletons, and there is no
    # reason to drag them through 2 joins + a groupBy per round — they label
    # themselves and are unioned back in at the end. The loop's frames shrink
    # from |corpus| to |dup participants|.
    participants = edges.select(F_.col("src").alias("node")).distinct()
    # one bounded collect doubles as the size probe: fetch at most limit+1
    # half-edges; an over-limit result falls through to the distributed loop
    # having wasted only the bounded fetch, never an unbounded collect
    half = (edges.filter(F_.col("src") < F_.col("dst"))
            .limit(driver_edge_limit + 1).collect()
            if driver_edge_limit > 0 else None)
    if half is not None and len(half) <= driver_edge_limit:
        # exact union-find over the collected edge list; attaching the
        # larger root under the smaller keeps every set's root == its min
        # id, so find(x) IS the min reachable id
        parent: dict = {}

        def _find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for e in half:
            ra, rb = _find(e["src"]), _find(e["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        from pyspark.sql.types import StructField, StructType

        id_type = nodes.schema[id_col].dataType
        labels = edges.sparkSession.createDataFrame(
            [(m, _find(m)) for m in
             sorted({x for e in half for x in (e["src"], e["dst"])})],
            StructType([StructField("node", id_type),
                        StructField("lbl", id_type)]))
        # the label frame is driver-sized: broadcast the singleton anti join
        participants = F_.broadcast(labels.select("node"))
        singletons = (all_nodes.join(participants, "node", "left_anti")
                      .withColumn("lbl", F_.col("node")))
        return (labels.unionByName(singletons)
                .select(F_.col("node").alias(id_col),
                        F_.col("lbl").alias("group_id")))
    labels = participants.withColumn("lbl", F_.col("node"))
    converged = False
    for it in range(max_iter):
        neigh = (edges.join(labels, edges.src == labels.node)
                 .select(F_.col("dst").alias("node"), "lbl"))
        propagated = (labels.unionByName(neigh)
                      .groupBy("node").agg(F_.min("lbl").alias("lbl")))
        # pointer jump: replace each label by that label-node's own label
        # (monotone non-increasing within the component, so still exact)
        parent = propagated.select(F_.col("node").alias("lbl"),
                                   F_.col("lbl").alias("_plbl"))
        # lazy checkpoint: still truncates lineage, but materialization rides
        # on the NEXT action (the probe count every 2nd round) instead of
        # launching its own job per round — halves the driver round-trips
        new_labels = (propagated.join(parent, "lbl", "left")
                      .select("node",
                              F_.coalesce("_plbl", F_.col("lbl")).alias("lbl"))
                      .localCheckpoint(eager=False))
        if it % 2 == 1 or it == max_iter - 1:
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), "node")
                       .filter(F_.col("n.lbl") != F_.col("o.lbl")).count())
            labels = new_labels
            if changed == 0:
                converged = True
                break
        else:
            labels = new_labels
    if not converged:
        warnings.warn(
            f"dup_group_labels did not converge in {max_iter} rounds "
            f"(component diameter > ~2^{max_iter}); labels may be split — "
            "raise max_iter", RuntimeWarning)
    singletons = (all_nodes.join(participants, "node", "left_anti")
                  .withColumn("lbl", F_.col("node")))
    return (labels.unionByName(singletons)
            .select(F_.col("node").alias(id_col),
                    F_.col("lbl").alias("group_id")))


def dropped_bucket_stats(embeddings: DataFrame, dim: int, n_bits: int = 64,
                         n_bands: int = 8, max_bucket: int = 4096,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Audit twin of :func:`embedding_near_dups`'s bucket cap: one row per
    over-cap (band, bh) bucket with its size, so capped blowups are loggable
    (``df.count()`` = number of silenced buckets) instead of silent."""
    from .similarity import lsh_signatures

    if n_bits % n_bands:
        raise ValueError(f"n_bits={n_bits} is not a multiple of "
                         f"n_bands={n_bands}")
    r = n_bits // n_bands
    mask = (1 << r) - 1
    sigs = lsh_signatures(embeddings, dim, n_bits=n_bits,
                          id_col=id_col, vec_col=vec_col)
    bands = sigs.select(
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"),
                     F.shiftright("sig", bi * r).bitwiseAND(F.lit(mask)).alias("bh"))
            for bi in range(n_bands)
        ])).alias("bb"),
    ).select("bb.band", "bb.bh")
    return (
        bands.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


_MINHASH_P = 1_000_000_007
# fixed permutation parameters (seeded once, embedded as literals so the
# DuckDB oracle can reproduce the arithmetic bit-for-bit)
_MINHASH_AB = [
    (886440568, 693772870), (106837194, 211243613), (41423861, 788723974),
    (553720484, 797340444), (405034125, 83829406), (94693512, 80723471),
    (733430966, 433567125), (267553171, 644981661), (51125674, 265652308),
    (637217599, 940465001), (914115009, 185486536), (914804300, 951429528),
    (371094253, 699127560), (74519607, 63169688), (591552712, 279340021),
    (172645147, 416966817),
]


# portable polynomial hash shared with text.py (P == _MINHASH_P)
_poly_hash_sql = poly_hash_sql


def minhash_signatures_portable(docs: DataFrame, n: int = 5, k: int = 16,
                                text_col: str = "text",
                                id_col: str = "doc_id") -> DataFrame:
    """MinHash signature with SQL-portable permutations: sig_j = min over
    distinct n-grams g of (a_j * poly(g) + b_j) mod P — value-checkable
    against an ANSI-SQL oracle (:func:`minhash_portable_oracle_sql`)."""
    if k > len(_MINHASH_AB):
        raise ValueError(f"k={k} exceeds the {len(_MINHASH_AB)} fixed "
                         "MinHash permutations")
    grams = char_ngrams(docs, n=n, text_col=text_col, id_col=id_col)
    # hoist the shared polynomial hash into ONE column: inlining it into
    # each of the k min-aggregates recomputes the n-term Horner chain k
    # times per shingle (the SQL oracle inlines it — same VALUES, but
    # DuckDB CSEs it; Spark only reliably CSEs a projected column)
    grams = grams.withColumn("_ph", F.expr(_poly_hash_sql("ngram", n)))
    aggs = [
        F.expr(f"min(({a} * _ph + {b}) % {_MINHASH_P})").alias(f"h{j}")
        for j, (a, b) in enumerate(_MINHASH_AB[:k])
    ]
    return grams.groupBy(id_col).agg(*aggs)


_BAND_B = 1_000_003      # band-fold multiplier
_BAND_P = 999_999_937    # band-fold modulus (prime, < 2^30)


def _band_fold_sql(cols: list[str]) -> str:
    """Fold r signature columns into one band-bucket key with stepwise
    modular arithmetic (every intermediate < ~1e15, exact in int64 in BOTH
    Spark and DuckDB — the portability requirement)."""
    acc = f"({cols[0]} % {_BAND_P})"
    for c in cols[1:]:
        acc = f"((({acc}) * {_BAND_B} + {c}) % {_BAND_P})"
    return acc


def minhash_lsh_pairs_portable(docs: DataFrame, n: int = 5, k: int = 16,
                               bands: int = 4, threshold: float = 0.35,
                               text_col: str = "text", id_col: str = "doc_id",
                               max_bucket: int | None = 65536) -> DataFrame:
    """MinHash LSH candidate pairs with SQL-portable arithmetic end to end
    (permutations AND band hashing), so the ENTIRE banded-join plan —
    signature agg, band fold, per-band self-join, dedup, similarity filter —
    is value-checkable against a DuckDB oracle. est_jaccard values are
    exact multiples of 1/k (binary-exact doubles), so cross-engine rounding
    is stable."""
    if k % bands:
        raise ValueError(f"k={k} is not a multiple of bands={bands}")
    r = k // bands
    hs = [f"h{j}" for j in range(k)]
    # NOT cached: a .cache() here leaked one entry per call (CacheManager
    # keys by plan; long-lived sessions accumulate), and the A/B at sf0.1
    # measured the uncached self-join FASTER (0.91s vs 1.12s min-of-3) —
    # the cache write+read costs more than recomputing the signature agg,
    # and at corpus scale the signature frame would spill anyway
    sig = minhash_signatures_portable(docs, n=n, k=k, text_col=text_col,
                                      id_col=id_col)
    band_structs = [
        F.struct(F.lit(bi).alias("band"),
                 F.expr(_band_fold_sql(hs[bi * r:(bi + 1) * r])).alias("bh"))
        for bi in range(bands)
    ]
    band_rows = sig.select(
        id_col, *hs, F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, *hs, "bb.band", "bb.bh")
    band_rows = _cap_band_buckets(band_rows, max_bucket)
    a, b = band_rows.alias("a"), band_rows.alias("b")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                *[F.col(f"a.{h}").alias(f"a_{h}") for h in hs],
                *[F.col(f"b.{h}").alias(f"b_{h}") for h in hs])
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = sum(
        F.when(F.col(f"a_{h}") == F.col(f"b_{h}"), 1).otherwise(0) for h in hs
    )
    return (cand.withColumn("est_jaccard", F.round(matches / F.lit(k), 6))
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard"))


def minhash_pairs_portable_oracle_sql(n: int = 5, k: int = 16, bands: int = 4,
                                      threshold: float = 0.35,
                                      max_doc: int = 300) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs_portable` (no bucket cap —
    the bounded oracle input never hits it, and the Spark side drops
    nothing below the cap)."""
    r = k // bands
    hs = [f"h{j}" for j in range(k)]
    sigs = minhash_portable_oracle_sql(n=n, k=k, max_doc=max_doc)
    band_selects = "\n          UNION ALL ".join(
        f"SELECT doc_id, {', '.join(hs)}, {bi} AS band, "
        f"{_band_fold_sql(hs[bi * r:(bi + 1) * r])} AS bh FROM sigs"
        for bi in range(bands)
    )
    match_sum = " + ".join(
        f"(CASE WHEN a.{h} = b.{h} THEN 1 ELSE 0 END)" for h in hs)
    return f"""
        WITH sigs AS ({sigs}),
        band_rows AS (
          {band_selects}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(({match_sum}) / {k}.0, 6) AS est_jaccard
          FROM band_rows a JOIN band_rows b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, est_jaccard FROM cand
        WHERE est_jaccard >= {threshold}
    """


def minhash_portable_oracle_sql(n: int = 5, k: int = 16, max_doc: int = 300) -> str:
    """The DuckDB twin of :func:`minhash_signatures_portable` (ord == ascii)."""
    poly = _poly_hash_sql("ngram", n).replace("ascii(", "ord(")
    mins = ",\n                   ".join(
        f"min(({a} * {poly} + {b}) % {_MINHASH_P}) AS h{j}"
        for j, (a, b) in enumerate(_MINHASH_AB[:k])
    )
    return f"""
        WITH grams AS (
          SELECT DISTINCT doc_id, substr(text, g, {n}) AS ngram
          FROM documents, unnest(range(1, greatest(length(text) - {n - 1}, 1) + 1)) AS u(g)
          WHERE doc_id < {max_doc} AND length(substr(text, g, {n})) = {n}
        )
        SELECT doc_id, {mins}
        FROM grams GROUP BY doc_id
    """


# fixed per-bit hash parameters for the portable SimHash (seeded once,
# embedded as literals so the DuckDB oracle reproduces the arithmetic)
_SIMHASH_AB = [
    (57459530, 137596189), (151414461, 800884184),
    (595836597, 735838885), (502055723, 539546779),
    (467583033, 625387226), (395126660, 202042416),
    (428794634, 197830031), (482649950, 314280606),
    (545035167, 895068956), (228602064, 52726749),
    (53649110, 711805700), (996163875, 472056440),
    (561152944, 447912079), (563209533, 656254629),
    (870175264, 862130251), (703756534, 568657153),
    (918274365, 313047726), (540567042, 521327570),
    (308568728, 391224288), (303454382, 801783431),
    (921210765, 830440230), (292124189, 943790985),
    (259120307, 856618643), (479876312, 980106210),
    (62446651, 749373108), (234691659, 667471614),
    (353002877, 248464539), (816109283, 609667904),
    (546955907, 981412219), (158173472, 886891971),
    (630167820, 444279892), (297023740, 481337776),
]


def _simhash_bit_sum_sql(a: int, b: int, poly: str) -> str:
    """±1 vote for one SimHash bit: parity of an independent affine hash."""
    return (f"sum(CASE WHEN (({a} * {poly} + {b}) % {_MINHASH_P}) % 2 = 1 "
            f"THEN 1 ELSE -1 END)")


def simhash_portable(docs: DataFrame, n: int = 4, bits: int = 32,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash whose per-bit hash family is the portable polynomial hash —
    value-checkable against an ANSI-SQL oracle
    (:func:`simhash_portable_oracle_sql`)."""
    if bits > len(_SIMHASH_AB):
        raise ValueError(f"bits={bits} exceeds the {len(_SIMHASH_AB)} fixed "
                         "SimHash bit hashes")
    grams = char_ngrams(docs, n=n, text_col=text_col, id_col=id_col)
    # shared poly hash hoisted once (see minhash_signatures_portable)
    grams = grams.withColumn("_ph", F.expr(_poly_hash_sql("ngram", n)))
    aggs = [
        F.expr(_simhash_bit_sum_sql(a, b, "_ph")).alias(f"b{j}")
        for j, (a, b) in enumerate(_SIMHASH_AB[:bits])
    ]
    sums = grams.groupBy(id_col).agg(*aggs)
    acc = F.lit(0).cast("long")
    for j in range(bits):
        acc = acc + F.when(F.col(f"b{j}") > 0,
                           F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
    return sums.select(F.col(id_col), acc.alias("simhash"))


def simhash_portable_oracle_sql(n: int = 4, bits: int = 32, max_doc: int = 300) -> str:
    """DuckDB twin of :func:`simhash_portable`."""
    poly = _poly_hash_sql("ngram", n)
    terms = "\n                 + ".join(
        f"(CASE WHEN {_simhash_bit_sum_sql(a, b, poly)} > 0 "
        f"THEN CAST({2 ** j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j, (a, b) in enumerate(_SIMHASH_AB[:bits])
    )
    return f"""
        WITH grams AS (
          SELECT DISTINCT doc_id, substr(text, g, {n}) AS ngram
          FROM documents, unnest(range(1, greatest(length(text) - {n - 1}, 1) + 1)) AS u(g)
          WHERE doc_id < {max_doc} AND length(substr(text, g, {n})) = {n}
        )
        SELECT doc_id, ({terms}) AS simhash
        FROM grams GROUP BY doc_id
    """
