"""Gorilla chunk materialization: tier series -> compressed chunk rows.

One grouped map keyed (source, tier), behind one hash exchange sized by the
group count: the pipeline unions all its tiers into one frame and encodes
them in one stage. Each group sorts by bucket (cheaper than a global sort —
ordering is only needed within a chunk), cuts the series into time-anchored
windows, encodes each with the vectorized codec and emits one row per chunk
with stats. The window size bounds both UDF memory and point-lookup read
amplification.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gorilla import chunk_stats, encode

CHUNK_SCHEMA = (
    "source string, chunk_start timestamp, chunk_end timestamp, "
    "n_points long, bytes long, "
    "crc32 long, v_min double, v_max double, v_sum double, blob binary"
)


def encode_chunks(tiers: DataFrame, chunk_seconds: dict,
                  n_keys: int | None = None) -> DataFrame:
    """tiers(source, tier, bucket, value double) -> chunk rows
    (CHUNK_SCHEMA columns, then ``tier``), one group per (source, tier).

    ``chunk_seconds`` ({tier: N seconds}) gives each tier TIME-ANCHORED
    chunks: one chunk per ``(source, floor(epoch/N))`` window
    (TimescaleDB-style hypertable chunking), ``chunk_start`` pinned to the
    window start. Boundaries are stable under backfill, so an incremental
    run can re-encode ONLY the windows its merge touched and keyed-upsert
    them. Points per chunk are bounded by N / tier-bucket-seconds. A tier
    missing from the map raises.

    ``n_keys`` is the number of (source, tier) groups; it sizes the hash
    exchange (see gapfill._grouped_map_partitions).
    """
    windows = {t: int(w) for t, w in chunk_seconds.items()}

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        source, tier = key
        W = windows[tier]
        pdf = pdf.sort_values("bucket")
        ts = (pdf["bucket"].astype("int64") // 10**9).to_numpy()
        vals = pdf["value"].to_numpy(dtype="float64")
        rows = []
        bounds = np.flatnonzero(np.diff(ts // W)) + 1
        for t, v in zip(np.split(ts, bounds), np.split(vals, bounds)):
            blob = encode(t, v)
            st = chunk_stats(v, blob)
            rows.append({
                "source": source,
                # keyed on the WINDOW start (stable under backfill — a
                # keyed upsert replaces the window's chunk)
                "chunk_start": pd.Timestamp(int(t[0]) // W * W, unit="s"),
                # chunk_end (max encoded ts) makes retention chunk-granular:
                # a chunk is droppable iff every point in it aged out
                "chunk_end": pd.Timestamp(t[-1], unit="s"),
                "n_points": st["n_points"],
                "bytes": st["bytes"],
                "crc32": st["crc32"],
                "v_min": st["v_min"],
                "v_max": st["v_max"],
                "v_sum": st["v_sum"],
                "blob": blob,
                "tier": tier,
            })
        return pd.DataFrame(rows)

    # pin grouped-map parallelism (see gapfill._grouped_map_partitions):
    # AQE would coalesce the small tier frames into ~1 task; the groupBy
    # reuses this exchange. `tier` is NOT NULL so that chunk files keep the
    # parquet schema (a required column) they have always been written with
    from .gapfill import _grouped_map_partitions

    tiers = tiers.repartition(_grouped_map_partitions(tiers, n_keys),
                              F.col("source"), F.col("tier"))
    return tiers.groupBy("source", "tier").applyInPandas(
        fn, CHUNK_SCHEMA + ", tier string NOT NULL")


def gorilla_chunks(tier_df: DataFrame, value_col: str, chunk_seconds: int,
                   n_keys: int | None = None) -> DataFrame:
    """tier_df(source, bucket, <value_col>) -> chunk table (CHUNK_SCHEMA):
    one tier through ``encode_chunks`` in ``chunk_seconds``-second windows;
    ``n_keys`` is the source count. The value is encoded as float64, so
    the double cast here is lossless with respect to the encoding."""
    tiers = tier_df.select("source", F.lit("").alias("tier"), "bucket",
                           F.col(value_col).cast("double").alias("value"))
    return encode_chunks(tiers, {"": chunk_seconds}, n_keys).drop("tier")


def decode_chunks_df(chunks: DataFrame) -> DataFrame:
    """Distributed read path: chunk rows -> (source, ts, value) points via
    Arrow-batched mapInPandas (each chunk decodes independently, so this
    scales with the chunk table's partitioning; no shuffle)."""
    from .gorilla import decode

    def fn(batches):
        for pdf in batches:
            out = []
            for src, blob in zip(pdf["source"], pdf["blob"]):
                ts, vals = decode(bytes(blob))
                out.append(pd.DataFrame({"source": src, "ts": ts, "value": vals}))
            if out:
                yield pd.concat(out, ignore_index=True)

    return chunks.select("source", "blob").mapInPandas(
        fn, "source string, ts long, value double")
