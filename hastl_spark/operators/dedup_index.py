"""Incremental MinHash dedup against a PERSISTED signature index.

Batch LSH dedup (``dedup.minhash_lsh_pairs_portable``) re-shingles and
re-joins the whole corpus every run. A 100-TB pipeline instead ingests
documents in batches and deduplicates each NEW batch against everything
seen so far. This module persists the banded MinHash signature rows as a
:class:`~hastl_spark.sources.tables.KeyedTable` (band-partitioned, keyed
by (doc_id, band)) and probes it incrementally:

  1. signatures + band rows are computed for the NEW batch only;
  2. the index contributes only rows from band buckets the new batch
     touches (left-semi join on (band, bh) — with the table partitioned
     by band and, on a real warehouse, bucketed by bh, this prunes to a
     vanishing fraction of the index);
  3. the batch bucket-size cap (`_cap_band_buckets`) is applied over the
     touched union, which equals the full-corpus bucket count for every
     touched bucket — so incremental pairs are EXACTLY the batch pairs
     restricted to "at least one side is new" (pinned by test);
  4. the new rows are then merged into the index for the next batch.

Storage note: the h0..h{k-1} signature columns ride on every band row
(x ``bands`` duplication) so the probe is a single (band, bh) join with
no second signature lookup; at k=16 int64s that is 128 bytes x bands per
doc — the classic space-for-one-join trade an online dedup index makes.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import KeyedTable
from .dedup import (_band_fold_sql, _cap_band_buckets,
                    minhash_portable_oracle_sql, minhash_signatures_portable)


class MinHashIndex:
    """Persisted banded-MinHash signature index for incremental dedup.

    The signature parameters are recorded as a table property on first
    write; a writer constructed with different parameters fails fast
    (signatures from different (n, k, bands) are not comparable — the
    same discipline as the Gorilla codec-version prop).
    """

    PROP_KEY = "minhash_params"

    def __init__(self, path: str, n: int = 5, k: int = 16, bands: int = 4):
        if k % bands:
            raise ValueError(f"k={k} is not a multiple of bands={bands}")
        self.n, self.k, self.bands = n, k, bands
        self.table = KeyedTable(path, key_cols=["doc_id", "band"],
                                partition_col="band")
        self._check_params()

    # ---- parameter discipline ----
    def _params_json(self) -> str:
        return json.dumps({"n": self.n, "k": self.k, "bands": self.bands},
                          sort_keys=True)

    def _check_params(self) -> None:
        if not self.table.exists():
            return
        recorded = self.table.prop(self.PROP_KEY)
        if recorded is not None and recorded != self._params_json():
            raise ValueError(
                f"minhash index at {self.table.path} was built with "
                f"params {recorded} but this writer supplies "
                f"{self._params_json()}; signatures are not comparable — "
                "rebuild the index or construct MinHashIndex with the "
                "recorded parameters")

    # ---- signature/band computation (shared by build and probe) ----
    def band_rows(self, docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
        """(doc_id, band, bh, h0..h{k-1}) — one row per doc per band."""
        hs = [f"h{j}" for j in range(self.k)]
        r = self.k // self.bands
        sig = minhash_signatures_portable(
            docs, n=self.n, k=self.k, text_col=text_col, id_col=id_col)
        band_structs = [
            F.struct(F.lit(bi).alias("band"),
                     F.expr(_band_fold_sql(hs[bi * r:(bi + 1) * r])).alias("bh"))
            for bi in range(self.bands)
        ]
        return (sig.select(F.col(id_col).alias("doc_id"), *hs,
                           F.explode(F.array(*band_structs)).alias("bb"))
                .select("doc_id", "bb.band", "bb.bh", *hs))

    # ---- writes ----
    def build(self, spark: SparkSession, docs: DataFrame,
              text_col: str = "text", id_col: str = "doc_id",
              _rows: DataFrame | None = None) -> dict:
        """(Re)ingest ``docs`` into the index (keyed upsert — re-ingesting
        the same doc_id replaces its rows). Returns the lineage record.
        ``_rows``: precomputed band rows (dedup_incremental reuses its
        cached probe-side frame so signatures are computed once)."""
        rows = _rows if _rows is not None else self.band_rows(
            docs, text_col=text_col, id_col=id_col)
        return self.table.merge_upsert(
            spark, rows, props={self.PROP_KEY: self._params_json()})

    # ---- incremental probe ----
    def probe(self, spark: SparkSession, new_docs: DataFrame,
              threshold: float = 0.35, max_bucket: int | None = 65536,
              text_col: str = "text", id_col: str = "doc_id",
              _new_rows: DataFrame | None = None) -> DataFrame:
        """Candidate near-dup pairs (id_a < id_b, est_jaccard >= threshold)
        where AT LEAST ONE side is from ``new_docs`` — new-vs-indexed and
        new-vs-new, exactly the batch result restricted to new pairs.

        The plan reads only index band buckets the new batch touches.
        Evaluate (or persist) the result before ``vacuum()`` on the table:
        the scan pins the snapshot paths current at plan-build time.

        ``_new_rows``: precomputed (and caller-persisted/unpersisted) band
        rows of the new batch — used by :meth:`dedup_incremental` so the
        signatures are computed once and the cache is RELEASED after the
        pairs materialize (a probe-internal persist would leak one cached
        frame per call — review finding). A bare probe() recomputes the
        new batch's signatures for the bucket-touch pass instead of
        caching (two passes over the NEW batch only; it stays leak-free
        for ad-hoc use)."""
        hs = [f"h{j}" for j in range(self.k)]
        new_rows = _new_rows if _new_rows is not None else self.band_rows(
            new_docs, text_col=text_col, id_col=id_col)
        new_rows = new_rows.withColumn("_new", F.lit(1))
        touched = new_rows.select("band", "bh").distinct()
        sides = [new_rows]
        if self.table.exists():
            idx = self.table.read(spark).join(touched, ["band", "bh"],
                                              "left_semi")
            # exclude the INDEX's copy of any doc_id present in the new
            # batch: re-ingestion (and a foreachBatch replay after the
            # merge committed) must not pair a doc with its own stale
            # indexed copy, and must not double-count it in the bucket-cap
            # window — this keeps a replayed batch's pairs IDENTICAL to
            # the first attempt's (review finding)
            idx = idx.join(new_rows.select("doc_id").distinct(), "doc_id",
                           "left_anti")
            sides.append(idx.select(*new_rows.columns[:-1],
                                    F.lit(0).alias("_new")))
        u = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
        # bucket cap over the touched union == full-corpus bucket count for
        # every touched bucket (all rows of a touched bucket are present)
        u = _cap_band_buckets(u, max_bucket)
        a = u.filter(F.col("_new") == 1).alias("a")
        b = u.alias("b")
        cand = (
            a.join(b, ["band", "bh"])
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.least("a.doc_id", "b.doc_id").alias("id_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
                *[F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col(f"a.{h}"))
                  .otherwise(F.col(f"b.{h}")).alias(f"a_{h}") for h in hs],
                *[F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col(f"b.{h}"))
                  .otherwise(F.col(f"a.{h}")).alias(f"b_{h}") for h in hs],
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        matches = sum(
            F.when(F.col(f"a_{h}") == F.col(f"b_{h}"), 1).otherwise(0)
            for h in hs)
        return (cand.withColumn("est_jaccard",
                                F.round(matches / F.lit(self.k), 6))
                .filter(F.col("est_jaccard") >= threshold)
                .select("id_a", "id_b", "est_jaccard"))

    def dedup_incremental(self, spark: SparkSession, new_docs: DataFrame,
                          threshold: float = 0.35,
                          max_bucket: int | None = 65536,
                          text_col: str = "text", id_col: str = "doc_id",
                          merge: bool = True):
        """Probe + (optionally) merge the new batch into the index.

        Returns ``(pairs, record)``: the MATERIALIZED near-dup pairs for
        the new batch (collected eagerly — the probe must read the
        pre-merge snapshot) and the merge lineage record (None when
        ``merge=False``)."""
        new_rows = self.band_rows(new_docs, text_col=text_col,
                                  id_col=id_col).persist()
        # eager localCheckpoint instead of persist()+count(): same single
        # materialization job pinning the PRE-merge snapshot, but the
        # blocks are released by the ContextCleaner when the frame is
        # garbage-collected — a persisted frame returned to the caller
        # leaked one cache entry per call in a long-lived session (ADVICE
        # r5 finding; dedup_stream's sink had to unpersist by hand)
        pairs = self.probe(spark, new_docs, threshold=threshold,
                           max_bucket=max_bucket, text_col=text_col,
                           id_col=id_col,
                           _new_rows=new_rows).localCheckpoint(eager=True)
        record = None
        if merge:
            # the merge reuses the cached band rows: signatures are
            # computed ONCE per batch across probe + index write
            record = self.build(spark, new_docs, text_col=text_col,
                                id_col=id_col, _rows=new_rows)
        new_rows.unpersist()  # pairs are materialized; release the cache
        return pairs, record


def minhash_incremental_oracle_sql(n: int = 5, k: int = 16, bands: int = 4,
                                   threshold: float = 0.35,
                                   old_max: int = 200,
                                   new_max: int = 300) -> str:
    """DuckDB twin of an incremental probe: batch LSH pairs over
    doc_id < new_max, restricted to pairs touching a NEW doc
    (old_max <= id < new_max) — what ``MinHashIndex.probe`` returns after
    ``build`` over doc_id < old_max."""
    r = k // bands
    hs = [f"h{j}" for j in range(k)]
    sigs = minhash_portable_oracle_sql(n=n, k=k, max_doc=new_max)
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
          WHERE a.doc_id >= {old_max} OR b.doc_id >= {old_max}
        )
        SELECT id_a, id_b, est_jaccard FROM cand
        WHERE est_jaccard >= {threshold}
    """
