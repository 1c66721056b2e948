"""Training-data breadth operators vs DuckDB / NumPy ground truth on the
driver's sf0.001 tables (documents, embeddings)."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from hastl_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs_portable,
    minhash_signatures_portable,
    ngram_jaccard_pairs,
    simhash_portable,
)
from hastl_spark.operators.multimodal import extract_features, synthetic_media
from hastl_spark.operators.similarity import ann_topk, brute_force_topk, with_cosine
from hastl_spark.operators.text import (
    char_ngrams,
    lang_guess,
    quality_score,
    rolling_fingerprint,
    with_text_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def embs(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    e.count()
    return e


def test_text_stats_match_duckdb(spark, docs):
    got = with_text_stats(docs).select("doc_id", "chars", "tokens_ws", "punct_cnt").toPandas()
    exp = duckdb.sql(f"""
        select doc_id, length(text) chars, len(string_split(text, ' ')) tokens_ws,
               cast(length(text) - length(replace(text,'.',''))
                + length(text) - length(replace(text,',',''))
                + length(text) - length(replace(text,'!',''))
                + length(text) - length(replace(text,'?',''))
                + length(text) - length(replace(text,';',''))
                + length(text) - length(replace(text,':','')) as bigint) punct_cnt
        from '{SF}/documents.parquet'
    """).df()
    m = got.sort_values("doc_id").reset_index(drop=True)
    e = exp.sort_values("doc_id").reset_index(drop=True)
    assert (m.chars.values == e.chars.values).all()
    assert (m.tokens_ws.values == e.tokens_ws.values).all()
    assert (m.punct_cnt.values == e.punct_cnt.values).all()


def test_quality_and_lang_columns(spark, docs):
    q = quality_score(docs).select("doc_id", "quality").toPandas()
    assert q.quality.between(0, 1).all()
    lg = lang_guess(docs).groupBy("lang_guess").count().collect()
    assert sum(r["count"] for r in lg) == docs.count()


def test_char_ngrams_match_duckdb(spark, docs):
    got = (char_ngrams(docs.filter("doc_id < 20"), n=3)
           .groupBy("doc_id").count().toPandas().sort_values("doc_id"))
    exp = duckdb.sql(f"""
        select doc_id, count(distinct substr(text, g, 3)) n
        from '{SF}/documents.parquet',
             unnest(range(1, greatest(length(text)-2,1)+1)) as u(g)
        where doc_id < 20 and length(substr(text, g, 3)) = 3
        group by doc_id order by doc_id
    """).df()
    assert (got["count"].values == exp["n"].values).all()


def test_exact_dedup_with_planted_dups(spark, docs):
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    d2 = docs.unionByName(dup)
    groups = exact_dup_groups(d2)
    assert groups.count() == docs.count()  # distinct texts unchanged
    assert groups.filter("dup_cnt = 2").count() == 5


def test_jaccard_pairs_find_planted_near_dup(spark, docs):
    base = docs.filter("doc_id < 50")
    # plant: copy of doc 0 with a tiny suffix change
    near = base.filter("doc_id = 0").select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
        "lang", "source", "n_chars")
    d2 = base.select("doc_id", "text", "lang", "source", "n_chars").unionByName(near)
    pairs = ngram_jaccard_pairs(d2, n=3, threshold=0.8).collect()
    assert any(r.id_a == 0 and r.id_b == 900000 for r in pairs)
    # jaccard of the planted pair should be ~1
    j = [r.jaccard for r in pairs if r.id_a == 0 and r.id_b == 900000][0]
    assert j > 0.95


def test_minhash_lsh_recalls_near_dup_and_estimates_jaccard(spark, docs):
    base = docs.filter("doc_id < 100")
    near = base.filter("doc_id = 3").select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" y")).alias("text"),
        "lang", "source", "n_chars")
    d2 = base.select("doc_id", "text", "lang", "source", "n_chars").unionByName(near)
    pairs = minhash_lsh_pairs_portable(d2, n=5, k=16, bands=4,
                                       threshold=0.35).collect()
    hit = [r for r in pairs if r.id_a == 3 and r.id_b == 900003]
    assert hit and hit[0].est_jaccard > 0.7
    sig = minhash_signatures_portable(d2.filter("doc_id = 3"), n=5, k=16)
    assert sig.columns == ["doc_id"] + [f"h{j}" for j in range(16)]


def test_simhash_near_pairs(spark, docs):
    base = docs.filter("doc_id < 100")
    near = base.filter("doc_id = 7").select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" z")).alias("text"),
        "lang", "source", "n_chars")
    d2 = base.select("doc_id", "text", "lang", "source", "n_chars").unionByName(near)
    sh = dict(simhash_portable(d2.filter("doc_id in (7, 900007)")).collect())
    assert bin(sh[7] ^ sh[900007]).count("1") <= 4  # of 32 bits


@pytest.mark.parametrize("call", [
    lambda d: minhash_signatures_portable(d, k=17),
    lambda d: minhash_lsh_pairs_portable(d, k=16, bands=5),
    lambda d: simhash_portable(d, bits=33),
], ids=["minhash_k17", "lsh_bands5", "simhash_bits33"])
def test_dedup_rejects_bad_parameters(docs, call):
    # ValueError, not assert: the check must survive python -O
    with pytest.raises(ValueError):
        call(docs)


def test_fingerprint_np_equals_catalyst(spark):
    """The Arrow-batched numpy fingerprint is value-identical to the
    Catalyst explode shape, including the edge cases: text shorter than the
    window (no output row), null text (no row), non-ASCII codepoints (must
    match Spark ascii() semantics), exact-window-length text."""
    from hastl_spark.operators.text import (
        fingerprint_portable, fingerprint_portable_np)

    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "short"),                    # < window: absent from output
         (2, None),                       # null: absent
         (3, "exactly8"),                 # == window: one gram
         (4, "naïve café — über résumé"), # non-ASCII codepoints
         (5, "aaaaaaaaaaaaaaaa")],        # repeated grams
        "doc_id long, text string")
    a = {r.doc_id: r.fingerprint for r in fingerprint_portable(df).collect()}
    b = {r.doc_id: r.fingerprint
         for r in fingerprint_portable_np(df).collect()}
    assert a == b
    assert set(a) == {0, 3, 4, 5}


def test_fingerprint_deterministic(spark, docs):
    a = rolling_fingerprint(docs.filter("doc_id < 20")).toPandas().sort_values("doc_id")
    b = rolling_fingerprint(docs.filter("doc_id < 20")).toPandas().sort_values("doc_id")
    assert (a.fingerprint.values == b.fingerprint.values).all()


def test_brute_force_topk_matches_numpy(spark, embs):
    got = brute_force_topk(embs, embs.filter("vec_id < 3"), k=5).toPandas()
    pdf = embs.toPandas().sort_values("vec_id")
    M = np.stack(pdf.embedding.values).astype(np.float64)
    ids = pdf.vec_id.values
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    for q in range(3):
        sims = Mn @ Mn[ids == q].T
        sims = sims.ravel()
        sims[ids == q] = -np.inf
        top = ids[np.argsort(-sims)][:5]
        mine = got[got.query_id == q].sort_values("rank").neighbor_id.values
        assert list(mine) == list(top)


def test_ann_topk_recall_against_exact(spark, embs):
    exact = brute_force_topk(embs, embs.filter("vec_id < 10"), k=5).toPandas()
    approx = ann_topk(embs, embs.filter("vec_id < 10"), dim=64, k=5,
                      n_bits=16, bands=8).toPandas()
    # recall@5 over 10 queries: LSH with 8 bands of 2 bits is generous
    hits = 0
    for q in range(10):
        e = set(exact[exact.query_id == q].neighbor_id)
        a = set(approx[approx.query_id == q].neighbor_id)
        hits += len(e & a)
    assert hits / 50 >= 0.6


def test_cosine_self_is_one(spark, embs):
    d = embs.select("vec_id", "embedding").limit(10)
    c = with_cosine(d.withColumn("e2", F.col("embedding")), "embedding", "e2").toPandas()
    np.testing.assert_allclose(c.cosine.values, 1.0, rtol=1e-6)


def test_multimodal_resize_and_frames(spark):
    from hastl_spark.operators.multimodal import resize_thumbnails, sample_frames

    media = synthetic_media(spark, 30)
    th = resize_thumbnails(media, max_side=64).toPandas()
    assert len(th) == 30
    assert (th.out_w <= 64).all() and (th.out_h <= 64).all()
    assert (th.out_w >= 1).all()
    fr = sample_frames(media, every_ms=5000, max_frames=4).toPandas()
    n_videos = media.filter("kind = 'video'").count()
    assert fr.media_id.nunique() == n_videos
    assert (fr.groupby("media_id").size() <= 4).all()
    assert (fr.frame_ts_ms % 5000 == 0).all()


def test_multimodal_plumbing(spark):
    from hastl_spark.operators.multimodal import HAVE_REAL_DECODERS

    media = synthetic_media(spark, 32)
    feats = extract_features(media, dim=8, use_real=False).toPandas()
    assert len(feats) == 32
    assert set(feats.kind) == {"image", "audio", "video"}
    assert all(len(f) == 8 for f in feats.feat)
    assert (feats.n_bytes > 0).all()
    assert (feats.thumb_w <= 64).all()
    # determinism
    again = extract_features(media, dim=8, use_real=False).toPandas().sort_values("media_id")
    f0 = feats.sort_values("media_id")
    assert all(np.array_equal(a, b) for a, b in zip(f0.feat.values, again.feat.values))
    if not HAVE_REAL_DECODERS:
        with pytest.raises(NotImplementedError):
            extract_features(media, require_real=True)


def test_png_wav_codec_roundtrip():
    """Pure-stdlib PNG/WAV codecs: bit-exact round-trips across every PNG
    filter type and channel count, and PCM-16 WAV."""
    from hastl_spark.operators import mediacodec as mc

    rng = np.random.default_rng(11)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, (7, 5, ch), dtype=np.uint8)
        # one row per filter type + wrap: exercises every unfilter branch
        filters = np.array([0, 1, 2, 3, 4, 1, 4])
        buf = mc.encode_png(img, filters=filters)
        assert mc.sniff(buf) == "png"
        back = mc.decode_png(buf)
        assert np.array_equal(back, img), f"ch={ch}"
    # 2-D gray input round-trips as [h, w, 1]
    g = rng.integers(0, 256, (4, 9), dtype=np.uint8)
    assert np.array_equal(mc.decode_png(mc.encode_png(g))[:, :, 0], g)

    s = rng.integers(-32768, 32768, (1000, 2)).astype(np.int16)
    wav = mc.encode_wav(s, rate=8000)
    assert mc.sniff(wav) == "wav"
    s2, rate = mc.decode_wav(wav)
    assert rate == 8000 and np.array_equal(s2, s)
    mono, _ = mc.decode_wav(mc.encode_wav(s[:, 0], rate=44100))
    assert np.array_equal(mono[:, 0], s[:, 0])


def test_multimodal_real_decoder_path(spark):
    """The real-decode path runs IN-SANDBOX via the stdlib codecs: a real
    PNG and a real WAV payload decode to their true pixel/sample means
    (values the fake byte-projection could never produce); a corrupt blob
    falls back to the fake. Schema contract unchanged."""
    from hastl_spark.operators import mediacodec as mc
    from hastl_spark.operators.multimodal import (HAVE_REAL_DECODERS,
                                                  _fake_decode_features)

    assert HAVE_REAL_DECODERS  # stdlib codecs make this unconditional
    png = mc.encode_png(np.full((16, 16), 128, dtype=np.uint8))
    wav = mc.encode_wav(np.full(4096, 1000, dtype=np.int16), rate=16000)
    corrupt = b"\x89PNG\r\n\x1a\nnot-actually-a-png"
    media = spark.createDataFrame(
        [("m1", "image", bytearray(png), 16, 16, 0),
         ("m2", "audio", bytearray(wav), 0, 0, 256),
         ("m3", "image", bytearray(corrupt), 8, 8, 0)],
        "media_id string, kind string, payload binary, width int, "
        "height int, duration_ms int")
    out = (extract_features(media, dim=8, require_real=True)
           .toPandas().set_index("media_id"))
    assert all(abs(v - 128.0) < 1e-3 for v in out.loc["m1"].feat)
    assert all(abs(v - 1000.0) < 1e-3 for v in out.loc["m2"].feat)
    exp = _fake_decode_features(corrupt, 8)
    assert np.allclose(np.array(out.loc["m3"].feat), exp)


def test_embedding_near_dups_lsh_recalls_planted_pair(spark, embs):
    from hastl_spark.operators.dedup import embedding_near_dups

    base = embs.filter("vec_id < 200")
    # planted near-dup: tiny per-element perturbation of vec 0 (cosine ~1)
    near = base.filter("vec_id = 0").select(
        (F.col("vec_id") + 900000).alias("vec_id"),
        F.transform("embedding", lambda v: v + F.lit(0.001)).alias("embedding"),
        "label",
    )
    d2 = base.unionByName(near)
    pairs = embedding_near_dups(d2, threshold=0.95, dim=64, use_lsh=True).collect()
    assert any(r.id_a == 0 and r.id_b == 900000 for r in pairs)
    # exact path agrees on the planted pair
    exact = embedding_near_dups(d2, threshold=0.95, use_lsh=False).collect()
    assert any(r.id_a == 0 and r.id_b == 900000 for r in exact)


def test_embedding_near_dups_recall_at_threshold(spark):
    """Planted pairs AT the 0.95 threshold (not cosine~1.0, which any band
    config recalls): with the default 8x8-bit bands, sign-LSH theory gives
    per-pair recall ~0.988 at cosine 0.95; assert a 0.85 floor over 40
    planted pairs. (The old 4x16-bit default recalled only ~0.55 here.)"""
    import numpy as np

    from hastl_spark.operators.dedup import embedding_near_dups

    rng = np.random.default_rng(123)
    dim, n_pairs, target = 64, 40, 0.95
    rows = []
    for i in range(n_pairs):
        v = rng.normal(0, 1, dim)
        v /= np.linalg.norm(v)
        u = rng.normal(0, 1, dim)
        u -= (u @ v) * v
        u /= np.linalg.norm(u)
        w = target * v + np.sqrt(1 - target ** 2) * u  # exact cosine 0.95
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_near_dups(df, threshold=0.94, dim=dim, use_lsh=True).collect()
    found = {(r.id_a, r.id_b) for r in got}
    recalled = sum((i, i + 1000) in found for i in range(n_pairs))
    assert recalled >= 0.85 * n_pairs, f"recall {recalled}/{n_pairs}"


def test_lsh_band_buckets_sublinear_on_large_corpus(spark):
    """100k synthetic vectors: the largest 16-bit band bucket must stay far
    below N (the old 4-bit bands put ~N/16 vectors in every bucket)."""
    from hastl_spark.operators.similarity import lsh_signatures

    n, dim = 100_000, 64
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(2001)) - 1000)
            .cast("float") / 1000.0,
        ).alias("embedding"),
    )
    sigs = lsh_signatures(vecs, dim, n_bits=64)
    r, mask = 16, (1 << 16) - 1
    bands = sigs.select(
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"),
                     F.shiftright("sig", bi * r).bitwiseAND(F.lit(mask)).alias("bh"))
            for bi in range(4)
        ])).alias("bb")
    ).select("bb.band", "bb.bh")
    max_bucket = (bands.groupBy("band", "bh").count()
                  .agg(F.max("count")).collect()[0][0])
    assert max_bucket < n / 10, max_bucket


def test_embedding_near_dups_bucket_cap_drops_hot_buckets(spark, embs):
    from hastl_spark.operators.dedup import dropped_bucket_stats, embedding_near_dups

    # plant 10 identical copies of vec 0: a hot bucket in every band
    clones = embs.filter("vec_id = 0").crossJoin(
        spark.range(10).select((F.col("id") + 900000).alias("cid"))
    ).select(F.col("cid").alias("vec_id"), "embedding", "label")
    base = embs.filter("vec_id < 200").unionByName(clones)
    capped = embedding_near_dups(base, threshold=0.4, dim=64, use_lsh=True,
                                 max_bucket=5)
    exact = embedding_near_dups(base, threshold=0.4, use_lsh=False)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    want = {(r.id_a, r.id_b) for r in exact.collect()}
    assert got <= want
    stats = dropped_bucket_stats(base, dim=64, max_bucket=5)
    assert stats.count() > 0  # the cap is auditable, not silent


def test_contamination_flags_planted_overlap(spark):
    """A doc embedding an exact benchmark 16-gram is flagged; clean docs get
    n_hits == 0; the benchmark doc itself self-flags. Hit counts are exact
    distinct-shingle counts."""
    from hastl_spark.operators.dedup import contamination_flags

    bench_txt = "the secret benchmark answer is forty-two exactly"
    docs = spark.createDataFrame(
        [(0, bench_txt),                                  # the benchmark doc
         (1, "prefix " + bench_txt[5:29] + " suffix"),    # 24-char overlap
         (2, "completely unrelated content with no overlap at all xyz"),
         (3, "short")],                                   # < 16 chars: 0 grams
        "doc_id long, text string")
    bench = docs.filter("doc_id = 0")
    got = {r.doc_id: (r.n_hits, r.contaminated)
           for r in contamination_flags(docs, bench, n=16).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[0][0] == len(bench_txt) - 15 and got[0][1]   # self-overlap
    # a 24-char shared span contains 24-16+1 = 9 distinct 16-grams
    assert got[1] == (9, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)


def test_contamination_broadcast_guard_and_shuffle_fallback(spark):
    """A benchmark whose distinct shingle count exceeds the cap fails fast
    instead of broadcasting; the broadcast=False shuffle plan returns
    identical values to the broadcast plan."""
    from hastl_spark.operators.dedup import contamination_flags

    bench_txt = "the secret benchmark answer is forty-two exactly"
    docs = spark.createDataFrame(
        [(0, bench_txt),
         (1, "prefix " + bench_txt[5:29] + " suffix"),
         (2, "completely unrelated content with no overlap at all xyz")],
        "doc_id long, text string")
    bench = docs.filter("doc_id = 0")  # 34 distinct 16-grams

    with pytest.raises(ValueError, match="too large to broadcast"):
        contamination_flags(docs, bench, n=16,
                            max_benchmark_shingles=10).collect()

    want = sorted(contamination_flags(docs, bench, n=16).collect())
    got = sorted(contamination_flags(docs, bench, n=16,
                                     broadcast=False).collect())
    assert got == want


def test_dup_group_labels_connected_components(spark):
    from hastl_spark.operators.dedup import dup_group_labels

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # components: {0,1,2,3} (chain), {5,6}, singletons 4,7,8,9
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    got = {r.doc_id: r.group_id for r in dup_group_labels(nodes, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8, 9: 9}


def test_dup_group_labels_fast_path_equals_distributed(spark):
    """The driver union-find fast path and the min-label propagation loop
    are the same operator: random-ish graph (chains, a star, a cycle,
    cross-links), compared label-for-label with the fast path disabled."""
    from hastl_spark.operators.dedup import dup_group_labels

    n = 60
    edges = ([(i, i + 1) for i in range(0, 20, 2)]          # short chains
             + [(30, i) for i in range(31, 40)]             # star
             + [(40, 41), (41, 42), (42, 40)]               # cycle
             + [(3, 35), (19, 42), (55, 56), (56, 57)])     # cross-links
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {r.doc_id: r.group_id
            for r in dup_group_labels(nodes, pairs).collect()}
    dist = {r.doc_id: r.group_id
            for r in dup_group_labels(nodes, pairs,
                                      driver_edge_limit=0).collect()}
    assert fast == dist
    assert len(fast) == n


def test_scrub_text_masks_planted_urls_and_emails(spark):
    from hastl_spark.operators.text import scrub_text

    df = spark.createDataFrame(
        [(1, "see https://x.io/a?b=1 and mail bob.smith+x@corp.co.uk   now"),
         (2, "no sensitive   content  here"),
         (3, "http://plain.example/path end")],
        "doc_id long, text string")
    got = {r.doc_id: r.text_scrubbed for r in scrub_text(df).collect()}
    assert got[1] == "see <URL> and mail <EMAIL> now"
    assert got[2] == "no sensitive content here"
    assert got[3] == "<URL> end"


def test_quantized_cosine_close_to_exact(spark, embs):
    from hastl_spark.operators.similarity import dequantized_cosine_topk

    exact = brute_force_topk(embs, embs.filter("vec_id < 5"), k=5).toPandas()
    quant = dequantized_cosine_topk(embs, embs.filter("vec_id < 5"), k=5).toPandas()
    # int8 keeps >= 4/5 of exact top-5 per query and cosine within 1e-2
    for q in range(5):
        e = set(exact[exact.query_id == q].neighbor_id)
        a = set(quant[quant.query_id == q].neighbor_id)
        assert len(e & a) >= 4, (q, e, a)
    m = exact.merge(quant, on=["query_id", "neighbor_id"], suffixes=("_e", "_q"))
    assert (np.abs(m.cosine_e - m.cosine_q) < 1e-2).all()
