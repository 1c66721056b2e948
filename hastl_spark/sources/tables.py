"""Table layer: keyed MERGE-maintained tables over parquet directories.

The production design is Iceberg (``MERGE INTO tier USING updates ON
t.source = u.source AND t.bucket = u.bucket``, partition spec
``(source, days(bucket))`` — SURVEY.md §2.1). This sandbox has no Iceberg
runtime jar, so the same contract is provided over plain parquet
directories with an ATOMIC JSON manifest (SURVEY.md §7 hard-part (c)):

* data files are immutable; a ``_manifest.json`` names the visible data
  directory per partition plus a snapshot id and per-partition watermarks;
* MERGE = rewrite only the partitions present in the update set (update
  rows win by key), publish by ``os.replace`` of the manifest — readers see
  the old or the new snapshot, never a mix;
* every commit appends a lineage record (snapshot, rows in/out, wall-clock,
  watermark) — the per-partition checkpoint the north_rule requires. A
  record also carries the partition map, watermark map and schema of its
  snapshot (for time travel) until ``vacuum()`` reclaims the files it
  superseded: after a vacuum only the last record keeps those maps.

Every writer goes through the same two steps: ``_write`` is the only
partitioned write (one ``data/sNNNNNN`` dir per snapshot, row counts and
watermarks from the written files' footers), and ``_commit`` is the only
publish (snapshot bump, lineage record, manifest swap). A crash between
the two leaves the manifest untouched; the next writer reuses the orphan
``sNNNNNN`` dir.

Partition column defaults to ``source``; tables that take incremental /
backfill MERGEs should pass ``part_spec=DAY_SPEC`` to partition by the
composite (source, day(bucket)) value, so a merge touching one day rewrites
only that day's files instead of the source's whole history (the Iceberg
``(source, days(bucket))`` spec, SURVEY.md §2.1). The spec is persisted in
the manifest, so readers and later writers reconstruct it automatically.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PART_SEP = "~"
# dir-name value Spark gives NULL and '' partition values alike
DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# part_spec: declarative composite-partition derivation, persisted in the
# manifest so ANY reader (retention, tests, a resumed run) rebuilds the same
# ``_part`` column without knowing how the table was constructed.
#   {"cols": ["source"], "day_of": "bucket"}                     -> source~2026-01-05
#   {"cols": ["source"], "day_of": "bucket", "fmt": "yyyy-MM"}   -> source~2026-01
#   {"cols": ["source", "tier"]}                                 -> source~1h
# Granularity should match the tier's row density: day for the 1m tier,
# month for the 1h tier (a source-day of 1h data is only 24 rows — day dirs
# there are pathological small files at ANY input scale).
DAY_SPEC = {"cols": ["source"], "day_of": "bucket"}
MONTH_SPEC = {"cols": ["source"], "day_of": "bucket", "fmt": "yyyy-MM"}
# Gorilla chunk tables: (source, tier) plus the chunk's start month — chunk
# rows are coarse (one time-anchored window each, e.g. 10,080 points for a
# week of 1m buckets), so month granularity keeps file counts sane while
# letting retention drop fully-aged months metadata-only (droppability
# decided by the partition's chunk_end watermark, not the start month — a
# chunk may span months).
CHUNK_SPEC = {"cols": ["source", "tier"], "day_of": "chunk_start", "fmt": "yyyy-MM"}


def apply_part_spec(df: DataFrame, spec: dict, out_col: str = "_part") -> DataFrame:
    parts = [F.col(c) for c in spec.get("cols", [])]
    if spec.get("day_of"):
        parts.append(F.date_format(spec["day_of"], spec.get("fmt", "yyyy-MM-dd")))
    return df.withColumn(out_col, F.concat_ws(PART_SEP, *parts))


def _releasing(view: DataFrame, cached: DataFrame) -> DataFrame:
    """``view``, a projection of the persisted ``cached``, whose
    ``unpersist()`` releases ``cached``. Spark keys its cache by plan, so
    unpersisting the projection alone frees nothing: the cached frame
    would outlive the caller, and a later identical plan would be served
    from it instead of running again."""
    def unpersist(blocking: bool = False) -> DataFrame:
        cached.unpersist(blocking)
        return view

    view.unpersist = unpersist
    return view


def _wm_json(v):
    """Watermark value as a JSON-able scalar keeping its comparison type:
    numbers stay numbers (str(9) > str(10) is the bug), everything else
    becomes its string form (ISO timestamps compare correctly as strings)."""
    import datetime

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    return str(v)


class KeyedTable:
    def __init__(self, path: str, key_cols: list[str], partition_col: str = "source",
                 part_spec: dict | None = None):
        self.path = path
        self.key_cols = list(key_cols)
        self.part_spec = part_spec
        self._ctor_part_spec = part_spec
        self.partition_col = "_part" if part_spec else partition_col
        os.makedirs(path, exist_ok=True)

    # ---- manifest ----
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _load(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshot": 0, "partitions": {}, "watermarks": {}, "lineage": []}
        with open(self._manifest_path) as f:
            man = json.load(f)
        # the manifest is authoritative about how the table is partitioned, so
        # readers constructed with default args still resolve composite specs
        if "partition_col" in man:
            self.partition_col = man["partition_col"]
        if man.get("part_spec"):
            self.part_spec = man["part_spec"]
        # fail fast on a LAYOUT MISMATCH: a constructor that demands a
        # composite part_spec must not silently merge into a table written
        # under a different (or no) spec — mixed partition layouts in one
        # manifest would corrupt day-extraction and retention pruning
        if (self._ctor_part_spec is not None and man["partitions"]
                and man.get("part_spec") != self._ctor_part_spec):
            raise ValueError(
                f"partition-layout mismatch at {self.path}: table was "
                f"written with part_spec={man.get('part_spec')!r} "
                f"(partition_col={man.get('partition_col')!r}) but this "
                f"writer supplies part_spec={self._ctor_part_spec!r}; "
                "migrate the table (read + rewrite) or construct the "
                "KeyedTable with the recorded spec")
        return man

    # ---- schema evolution (Iceberg add-column parity) ----
    def _check_types(self, man: dict, schema) -> None:
        """Fail fast (pre-write) when an update renames a column's TYPE:
        added columns are fine (old files read them as NULL), same-name
        type changes are not (the named-schema parquet scan would
        misdecode old files)."""
        if "schema" not in man:
            return
        from pyspark.sql.types import StructType

        cur = {f.name: f.dataType
               for f in StructType.fromJson(json.loads(man["schema"])).fields}
        for f in schema.fields:
            name = "_pk" if f.name == self.partition_col else f.name
            if name in cur and cur[name] != f.dataType:
                raise ValueError(
                    f"schema evolution type conflict at {self.path}: column "
                    f"{f.name!r} is {cur[name].simpleString()} in the table "
                    f"but {f.dataType.simpleString()} in the update — adding "
                    "columns is supported, changing a column's type is not")

    def _evolve_schema(self, man: dict, written_schema) -> None:
        """Record (first write) or EXTEND (added columns) the manifest file
        schema; pc travels as _pk, kept last. Older files lack added
        columns and read them as NULL through the named-schema scan."""
        from pyspark.sql.types import StructField, StructType

        pc = self.partition_col
        pcf = next(f for f in written_schema.fields if f.name == pc)
        new_fields = [f for f in written_schema.fields if f.name != pc]
        if "schema" not in man:
            fields = new_fields + [StructField("_pk", pcf.dataType, True)]
            man["schema"] = json.dumps(StructType(fields).jsonValue())
            return
        cur = StructType.fromJson(json.loads(man["schema"]))
        have = {f.name for f in cur.fields}
        added = [StructField(f.name, f.dataType, True)
                 for f in new_fields if f.name not in have]
        if added:
            fields = ([f for f in cur.fields if f.name != "_pk"] + added
                      + [f for f in cur.fields if f.name == "_pk"])
            man["schema"] = json.dumps(StructType(fields).jsonValue())

    def _with_part(self, df: DataFrame) -> DataFrame:
        """Ensure the (possibly synthetic) partition column exists on df."""
        if self.part_spec and self.partition_col not in df.columns:
            return apply_part_spec(df, self.part_spec, self.partition_col)
        return df

    def _pval(self):
        """The partition value as Column, rendered the way its decoded dir
        name (and so its manifest key) renders it: NULL and '' both become
        ``DEFAULT_PARTITION``, anything else its string cast."""
        s = F.col(self.partition_col).cast("string")
        return (F.when(s.isNull() | (s == ""), F.lit(DEFAULT_PARTITION))
                .otherwise(s))

    def _publish(self, man: dict) -> None:
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=1, default=str)
        os.replace(tmp, self._manifest_path)  # atomic swap

    def _commit(self, man: dict, op: str, partitions, rows_in: int,
                t0: float, props: dict | None = None,
                extra_record: dict | None = None, **fields) -> dict:
        """Publish ``man`` (whose partitions, watermarks and schema the
        caller has already updated) as the next snapshot: stamp the layout
        and ``props``, append the lineage record and swap the manifest.
        ``fields`` are op-specific record keys placed after ``op``.
        Returns the record."""
        snap = man["snapshot"] + 1
        record = {
            "snapshot": snap,
            "op": op,
            **fields,
            "partitions": sorted(partitions),
            "rows_in": rows_in,
            "wall_s": round(time.time() - t0, 3),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if extra_record:
            record.update(extra_record)
        man["snapshot"] = snap
        man["partition_col"] = self.partition_col
        if self.part_spec:
            man["part_spec"] = self.part_spec
        if props:
            man.setdefault("props", {}).update(props)
        record["partition_map"] = dict(man["partitions"])
        record["watermark_map"] = dict(man["watermarks"])
        record["schema"] = man.get("schema")
        man["lineage"].append(record)
        self._publish(man)
        return record

    def snapshot(self) -> int:
        return self._load()["snapshot"]

    def prop(self, key: str, default=None):
        """Table property from the manifest (Iceberg table-properties
        stand-in). Writers pass ``props=`` to merge_upsert/overwrite; used
        to record invariants of HOW the table's content was produced (e.g.
        the Gorilla chunk window map) so a later writer with different
        assumptions can fail fast or migrate instead of silently mixing."""
        return self._load().get("props", {}).get(key, default)

    def watermark(self, partition: str):
        return self._load()["watermarks"].get(partition)

    # ---- read ----
    def _read_dirs(self, spark: SparkSession, rels,
                   with_schema: bool = True,
                   schema_json: str | None = None) -> DataFrame:
        """One multi-path scan over the visible partition leaf dirs (a single
        file listing + plan instead of one read call per partition). The
        partition column travels INSIDE the files as ``_pk`` — partition
        dirs from different snapshots have different depths-by-name, which
        breaks Spark's partition discovery, so we don't rely on it. The
        manifest carries the file schema after the first write, so the
        driver skips footer-read schema inference on every open."""
        paths = [os.path.abspath(os.path.join(self.path, rel)) for rel in rels]
        reader = spark.read
        if schema_json is None and with_schema:
            schema_json = self._load().get("schema")
        if schema_json:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        df = reader.parquet(*paths)
        return df.withColumnRenamed("_pk", self.partition_col)

    def read(self, spark: SparkSession) -> DataFrame:
        man = self._load()
        parts = man["partitions"]
        if not parts:
            raise ValueError(f"table {self.path} is empty")
        df = self._read_dirs(spark, parts.values())
        if self.part_spec:
            # synthetic partition value: derived from data columns, so the
            # logical table surface omits it (writers re-derive via part_spec)
            df = df.drop(self.partition_col)
        return df

    def exists(self) -> bool:
        return bool(self._load()["partitions"])

    def partition_values(self) -> list[str]:
        return sorted(self._load()["partitions"])

    def read_partitions(self, spark: SparkSession, pvals) -> DataFrame:
        """Scan only the named partitions (manifest-scoped partition
        pruning; e.g. retention's boundary day)."""
        man = self._load()
        rels = [man["partitions"][p] for p in pvals if p in man["partitions"]]
        if not rels:
            raise ValueError(f"none of {pvals!r} exist in {self.path}")
        df = self._read_dirs(spark, rels)
        if self.part_spec:
            df = df.drop(self.partition_col)
        return df

    def drop_partitions(self, pvals, extra_record: dict | None = None) -> dict:
        """Metadata-only partition drop: a new snapshot whose manifest no
        longer names the given partitions — no data files are read or
        written. The dropped partitions' leaf dirs stay on disk until the
        next ``vacuum()``."""
        t0 = time.time()
        man = self._load()
        dropped = [p for p in pvals if p in man["partitions"]]
        for p in dropped:
            del man["partitions"][p]
            man["watermarks"].pop(p, None)
        if not man["partitions"]:
            # a fully-emptied table sheds its file schema: keeping a dead
            # generation's schema would reject legitimate retypes and
            # resurrect ghost columns on the next write (review finding)
            man.pop("schema", None)
        return self._commit(man, "drop_partitions", dropped, 0, t0,
                            extra_record=extra_record)

    @staticmethod
    def _footer_stats(data_dir: str, part_dirs: dict[str, str],
                      watermark_col: str | None):
        """Per-partition ``{pval: {"_n": rows, "_wm": max, "_lo": min}}``
        read from the parquet FOOTERS of the partitions' files —
        metadata-only, the way an Iceberg writer records column stats into
        its manifest at commit time instead of re-scanning the data it
        wrote. Returns None when any file lacks usable stats (callers fall
        back: ``_write`` to a Spark aggregation job over the cached frame,
        retention to rewriting every candidate partition).

        Bounds are accepted only for int/timestamp columns: parquet string
        min/max may be TRUNCATED bounds (not the true extremes), and float
        stats are unreliable in the presence of NaN."""
        import datetime
        import glob as _glob

        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow is baked in
            return None

        def exact(v):
            if isinstance(v, datetime.datetime):
                if v.tzinfo is not None:  # arrow returns tz-aware UTC
                    v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
                return v
            if not isinstance(v, int) or isinstance(v, bool):
                return None  # str/bytes/float: bounds, not extremes
            return v

        def one_part(dirname):
            files = _glob.glob(os.path.join(data_dir, dirname, "*.parquet"))
            if not files:
                return None
            n, wm, lo = 0, None, None
            for f in files:
                md = pq.ParquetFile(f).metadata
                n += md.num_rows
                if watermark_col is None:
                    continue
                for rg in range(md.num_row_groups):
                    grp, st = md.row_group(rg), None
                    for ci in range(grp.num_columns):
                        if grp.column(ci).path_in_schema == watermark_col:
                            st = grp.column(ci).statistics
                            break
                    if st is None or not st.has_min_max:
                        return None
                    hi, mn = exact(st.max), exact(st.min)
                    if hi is None or mn is None:
                        return None
                    wm = hi if wm is None or hi > wm else wm
                    lo = mn if lo is None or mn < lo else lo
            if watermark_col is not None and wm is None:
                return None  # no row group carried stats for the column
            return {"_n": n, "_wm": wm, "_lo": lo}

        # footer parsing releases the GIL in pyarrow — a thread pool keeps
        # this O(partitions) driver step flat for ~1000-partition merges
        from concurrent.futures import ThreadPoolExecutor

        items = list(part_dirs.items())
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(items)))) as ex:
            stats = list(ex.map(lambda it: one_part(it[1]), items))
        if any(s is None for s in stats):
            return None
        return {pval: s for (pval, _), s in zip(items, stats)}

    def _write(self, frame: DataFrame, snap: int,
               watermark_col: str | None):
        """The table's only partitioned write: ``frame`` (persisted by the
        caller) into ``data/sNNNNNN``, overwriting an orphan dir a crashed
        writer left there. Returns ``({pval: rel dir}, {pval: {"_n",
        "_wm"}})`` keyed by the decoded dir names — Spark URL-encodes
        special characters in them.

        Clustering rows by the partition column before partitionBy keeps
        one file per partition — without it every shuffle partition spills
        a file into every partition dir and downstream scans pay per-file
        task overhead. At cluster scale this becomes a file-size budget.

        Row counts and watermarks come from the parquet footers of the
        files just written (metadata-only, zero Spark jobs — Iceberg
        commit-time stats); the fallback is one aggregation job over the
        cached frame (still no file re-scan)."""
        pc = self.partition_col
        rel_base = os.path.join("data", f"s{snap:06d}")
        data_dir = os.path.join(self.path, rel_base)
        (frame.withColumn("_pk", F.col(pc))
         .repartition(F.col(pc))
         .write.mode("overwrite").partitionBy(pc)
         .parquet(data_dir))
        part_dirs = {unquote(d.split("=", 1)[1]): d
                     for d in os.listdir(data_dir) if d.startswith(f"{pc}=")}
        stats = self._footer_stats(data_dir, part_dirs, watermark_col)
        if stats is None:
            aggs = [F.count(F.lit(1)).alias("_n")]
            if watermark_col is not None:
                aggs.append(F.max(watermark_col).alias("_wm"))
            stats = {r[0]: r for r in
                     frame.groupBy(self._pval()).agg(*aggs).collect()}
        return ({p: os.path.join(rel_base, d) for p, d in part_dirs.items()},
                stats)

    # ---- MERGE ----
    def merge_upsert(self, spark: SparkSession, updates: DataFrame,
                     watermark_col: str | None = None,
                     replace_partitions: bool = False,
                     keep_data: bool = False,
                     props: dict | None = None,
                     extra_record: dict | None = None) -> dict:
        """Upsert ``updates`` by key; only partitions present in the update
        set are rewritten. Returns the lineage record.

        ``replace_partitions=True`` switches to delete-then-insert semantics:
        affected partitions are fully superseded by the update rows instead
        of key-merged — for derived tables regenerated wholesale per
        partition (e.g. retention's rewrite of a boundary partition, which
        must drop the rows it filtered out: a keyed upsert would keep
        them).

        ``keep_data=True`` leaves the written data CACHED and returns it in
        the record as ``record["data"]`` (caller unpersists). When the merge
        touched every partition (``record["covers_table"]``), that cached
        frame IS the table content — downstream stages can consume it
        instead of re-listing and re-decoding the freshly written partition
        files. On a 4-core host (2026-10-20) reading every tier back instead
        made a full ``tier_build`` op 17% slower."""
        t0 = time.time()
        man = self._load()
        pc = self.partition_col
        updates = self._with_part(updates)
        self._check_types(man, updates.schema)  # evolution: add yes, retype no

        from pyspark import StorageLevel

        # Persist MEMORY_AND_DISK: the (potentially expensive) updates plan
        # executes exactly once, into the cache, and the key-merge, the
        # stats fallback and keep_data read the cache. Tier data is already
        # aggregated (bounded by time-range x keys), so the cached footprint
        # is small; DISK spill bounds the worst case.
        updates = updates.persist(StorageLevel.MEMORY_AND_DISK)
        written = updates
        touched = []
        if man["partitions"] and not replace_partitions:
            # the only partitions a key-merge reads: those the update set
            # shares with the manifest (this tiny job also fills the cache)
            touched = [man["partitions"][r[0]] for r in
                       updates.select(self._pval()).distinct().collect()
                       if r[0] in man["partitions"]]
        if touched:
            keep = self._read_dirs(spark, touched).join(
                updates.select(*self.key_cols).distinct(),
                on=self.key_cols, how="left_anti")
            # allowMissingColumns = schema evolution: updates may ADD
            # columns (existing rows read as NULL) and need not repeat
            # columns they don't change
            written = (keep.unionByName(updates, allowMissingColumns=True)
                       .persist(StorageLevel.MEMORY_AND_DISK))
        parts, stats = self._write(written, man["snapshot"] + 1,
                                   watermark_col)
        if written is not updates:
            updates.unpersist()
        if not keep_data:
            written.unpersist()

        for pval, rel in parts.items():
            man["partitions"][pval] = rel
            if watermark_col is not None:
                wm = _wm_json(stats[pval]["_wm"])
                prev = man["watermarks"].get(pval)
                # replace_partitions supersedes the partition's CONTENT, so
                # its watermark is the new content's max, not max-with-old:
                # a takedown that removes the highest-ts rows must LOWER the
                # watermark or incremental consumers skip the re-merge range.
                # A None wm (watermark column entirely NULL in this
                # partition) never participates in max() — keyed merges
                # keep the previous watermark, replaces clear it.
                if wm is None:
                    if replace_partitions:
                        man["watermarks"].pop(pval, None)
                else:
                    man["watermarks"][pval] = (
                        wm if replace_partitions or prev is None
                        else max(wm, prev))
        if watermark_col is not None:
            man["watermark_col"] = watermark_col
        self._evolve_schema(man, written.schema)
        record = self._commit(man, "merge_upsert", parts,
                              sum(r["_n"] for r in stats.values()), t0,
                              props=props, extra_record=extra_record)
        if keep_data:
            # lineage stays JSON-clean: data/covers_table ride only the
            # returned record, never the persisted manifest
            record = dict(record)
            record["covers_table"] = set(man["partitions"]) == set(parts)
            record["data"] = (_releasing(written.drop(pc), written)
                              if self.part_spec else written)
        return record

    def overwrite(self, spark: SparkSession, df: DataFrame,
                  watermark_col: str | None = None,
                  props: dict | None = None) -> dict:
        """Replace the whole table contents with ``df`` as a new snapshot
        (same atomic publish as merge; used by retention). Partitions absent
        from ``df`` are dropped from the manifest; if every row aged out,
        the snapshot is empty (partitions={})."""
        t0 = time.time()
        man = self._load()

        from pyspark import StorageLevel

        df = self._with_part(df).persist(StorageLevel.MEMORY_AND_DISK)
        parts, stats = self._write(df, man["snapshot"] + 1, watermark_col)
        df.unpersist()
        man["partitions"] = parts
        if watermark_col is not None:
            man["watermarks"] = {p: _wm_json(stats[p]["_wm"]) for p in parts
                                 if _wm_json(stats[p]["_wm"]) is not None}
            man["watermark_col"] = watermark_col
        else:
            # every partition's content was superseded: the previous
            # generation's watermarks are stale metadata — clear them
            # (ghost entries otherwise survive in lineage and rollback)
            man["watermarks"] = {}
            man.pop("watermark_col", None)
        # overwrite supersedes every data file, so the file schema RESETS
        # to the new frame's (merge evolves the schema; a stale schema here
        # would hide columns added — or keep columns dropped — by the
        # overwrite)
        man.pop("schema", None)
        if parts:
            self._evolve_schema(man, df.schema)
        return self._commit(man, "overwrite", parts,
                            sum(r["_n"] for r in stats.values()), t0,
                            props=props)

    def delete_where(self, spark: SparkSession, condition) -> dict:
        """Row-level DELETE (Iceberg copy-on-write DML parity): remove rows
        where ``condition`` evaluates TRUE, rewriting ONLY the partitions
        that contain matching rows. Partitions left empty are dropped
        metadata-only; untouched partitions' files are never read or
        written. The training-corpus use case is takedown / right-to-be-
        forgotten deletes, where a full-table rewrite at 100 TB is not an
        option.

        ``condition``: SQL string or Column. SQL DELETE semantics: a row
        is removed iff the predicate is TRUE (NULL keeps the row).

        Publishes up to two snapshots (drop of emptied partitions, then
        the rewrite) — each individually consistent and time-travelable.
        Returns ``{"op": "delete_where", "rows_deleted", "rewritten",
        "dropped", "snapshot"}``."""
        if not self.exists():
            # a takedown sweep over a fleet of tables must not abort on
            # an already-empty one (review finding)
            return {"op": "delete_where", "rows_deleted": 0,
                    "rewritten": [], "dropped": [],
                    "snapshot": self.snapshot()}
        cond = F.expr(condition) if isinstance(condition, str) else condition
        man = self._load()
        if man.get("watermarks") and man.get("watermark_col") is None:
            # manifests written before watermark_col recording carry
            # watermarked partitions but no column name to recompute them
            # from — deleting max-ts rows would silently keep the stale
            # (too-high) watermark and incremental consumers would skip
            # the re-merge range (ADVICE r5). Fail fast instead.
            raise ValueError(
                f"table {self.path} has partition watermarks but no "
                "recorded watermark_col (pre-upgrade manifest); "
                "delete_where cannot recompute watermarks after the "
                "rewrite — run one merge_upsert(..., watermark_col=...) "
                "to record the column first")
        df = self._with_part(self.read(spark))
        pc = self.partition_col

        from pyspark import StorageLevel

        # one scan job resolves both the touched partitions and, per
        # partition, whether any row survives — no second full pass
        stats = (df.groupBy(pc).agg(
            F.sum(F.when(cond, 1).otherwise(0)).alias("_del"),
            F.sum(F.when(cond, 0).otherwise(1)).alias("_keep"))
            .filter(F.col("_del") > 0).collect())
        rows_deleted = int(sum(r["_del"] for r in stats))
        if not stats:
            return {"op": "delete_where", "rows_deleted": 0,
                    "rewritten": [], "dropped": [],
                    "snapshot": self.snapshot()}
        emptied = sorted(str(r[pc]) for r in stats if r["_keep"] == 0)
        rewrite = sorted(str(r[pc]) for r in stats if r["_keep"] > 0)
        audit = {"op": "delete_where", "rows_deleted": rows_deleted,
                 "delete_dropped": emptied, "delete_rewritten": rewrite}
        if emptied:
            self.drop_partitions(emptied, extra_record=audit)
        if rewrite:
            scoped = self._with_part(self.read_partitions(spark, rewrite))
            kept = scoped.filter(~cond | cond.isNull()).persist(
                StorageLevel.MEMORY_AND_DISK)
            try:
                # replace_partitions RECOMPUTES the rewritten partitions'
                # watermarks from the kept rows (the table's recorded
                # watermark column) — deleting the max-ts rows must lower
                # the watermark or incremental consumers skip the re-merge
                self.merge_upsert(
                    spark, kept, replace_partitions=True,
                    watermark_col=self._load().get("watermark_col"),
                    extra_record=audit)
            finally:
                kept.unpersist()
        return {"op": "delete_where", "rows_deleted": rows_deleted,
                "rewritten": rewrite, "dropped": emptied,
                "snapshot": self.snapshot()}

    # ---- time travel (Iceberg snapshot-read / rollback parity) ----
    def snapshots(self) -> list[dict]:
        """Snapshot history: (snapshot, op, partitions touched, rows_in,
        ts) per committed change — the Iceberg `.snapshots` metadata
        surface."""
        keys = ("snapshot", "op", "partitions", "rows_in", "ts",
                "rows_deleted", "rolled_back_to")
        return [{k: r[k] for k in keys if k in r}
                for r in self._load()["lineage"]]

    def read_snapshot(self, spark: SparkSession, snapshot: int) -> DataFrame:
        """Time travel: the table content AS OF ``snapshot``. Works until a
        ``vacuum()`` expires the snapshot: a vacuum keeps only what the
        CURRENT manifest names, which ends time travel to every superseded
        snapshot (same contract as Iceberg's expire_snapshots).

        Reader contract: a reader that resolved its file list from an
        older manifest before a vacuum can lose its files, as with
        Iceberg. The in-process pipeline never does this, because
        ``run_retention`` (which vacuums) runs after ``run_pipeline``
        returns."""
        rec, pm = self._snapshot_map(snapshot, "time-travel")
        if not pm:
            raise ValueError(f"snapshot {snapshot} of {self.path} is empty")
        # read through the schema AS OF that snapshot (records carry it):
        # the current schema may have evolved or been reset by a later
        # overwrite, and old files misdecode under a retyped named schema
        df = self._read_dirs(spark, pm.values(),
                             schema_json=rec.get("schema"),
                             with_schema="schema" not in rec)
        if self.part_spec:
            df = df.drop(self.partition_col)
        return df

    def rollback(self, snapshot: int) -> dict:
        """Metadata-only rollback: publish a NEW snapshot whose content is
        the partition map of ``snapshot`` (Iceberg rollback semantics — the
        history keeps moving forward, no data files are touched)."""
        t0 = time.time()
        rec, pm = self._snapshot_map(snapshot, "roll back")
        man = self._load()
        man["partitions"] = dict(pm)
        wm = rec.get("watermark_map")
        man["watermarks"] = (dict(wm) if wm is not None else
                             {p: w for p, w in man["watermarks"].items()
                              if p in pm})
        # restore the file schema as of the rolled-back-to snapshot: a
        # later overwrite may have RESET it (retype), and reading the old
        # files through the newer schema misdecodes (review finding). A
        # recorded schema of None (e.g. the empty-table snapshot after a
        # full drop_partitions, which deliberately sheds the schema) must
        # POP the current schema, not keep it — otherwise the rollback
        # reintroduces the ghost-column/retype hazard drop_partitions
        # removed (ADVICE r5). Records from before schema recording carry
        # no key at all; for those the current schema is the best guess.
        if "schema" in rec:
            if rec["schema"] is not None:
                man["schema"] = rec["schema"]
            else:
                man.pop("schema", None)
        return self._commit(man, "rollback", pm, 0, t0,
                            rolled_back_to=snapshot)

    def _lineage_record(self, snapshot: int) -> dict:
        rec = next((r for r in self._load()["lineage"]
                    if r["snapshot"] == snapshot), None)
        if rec is None:
            raise ValueError(
                f"no snapshot {snapshot} in {self.path} (have "
                f"{[r['snapshot'] for r in self._load()['lineage']]})")
        return rec

    def _snapshot_map(self, snapshot: int, action: str) -> tuple[dict, dict]:
        """``(lineage record, partition map)`` of ``snapshot``. Refuses a
        snapshot whose data dirs a vacuum reclaimed: publishing or reading
        a map that names deleted dirs would wedge every later read."""
        rec = self._lineage_record(snapshot)
        pm = rec.get("partition_map")
        if pm is None and not rec.get("expired"):
            raise ValueError(
                f"snapshot {snapshot} of {self.path} predates partition-map"
                f" lineage (written by an older writer) — cannot {action}")
        missing = [rel for rel in (pm or {}).values()
                   if not os.path.isdir(os.path.join(self.path, rel))]
        if pm is None or missing:
            gone = f"missing dirs: {missing[:3]}..." if missing else "expired"
            raise ValueError(f"snapshot {snapshot} of {self.path} was "
                             f"vacuumed ({gone}) — cannot {action}")
        return rec, pm

    def vacuum(self) -> int:
        """The table's one reclaim step (Iceberg expire_snapshots plus
        orphan-file removal); run_retention calls it on every table.

        Files: deletes every data dir the manifest does not name — whole
        ``sNNNNNN`` dirs none of whose partitions is live, any other
        leftover under ``data/``, and, inside a live snapshot dir, each
        partition leaf dir a later commit superseded or dropped (the
        dir's ``_SUCCESS`` markers stay). A ``sNNNNNN`` dir numbered above
        the manifest's snapshot belongs to a writer that has not published
        yet and is kept.

        Lineage: the dirs older records name are gone, so every record but
        the last loses its partition map, watermark map and schema and is
        marked ``expired``; its summary fields stay for ``snapshots()``.
        The trim republishes the manifest without a new snapshot, and is
        skipped when a commit landed during the vacuum.

        Readers that resolved the current manifest are safe; see
        ``read_snapshot`` for the contract. Returns the number of removed
        ``data/`` entries (whole snapshot dirs and leftovers)."""
        import shutil

        man = self._load()
        rels = [rel.split(os.sep) for rel in man["partitions"].values()]
        live_snaps = {r[1] for r in rels}
        live_leaves = {os.sep.join(r[:3]) for r in rels}
        data_root = os.path.join(self.path, "data")
        removed = 0
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                m = re.fullmatch(r"s(\d+)", d)
                if m and int(m.group(1)) > man["snapshot"]:
                    continue
                snap_dir = os.path.join(data_root, d)
                if d not in live_snaps:
                    shutil.rmtree(snap_dir, ignore_errors=True)
                    removed += 1
                    continue
                for leaf in os.listdir(snap_dir):
                    if (os.path.isdir(os.path.join(snap_dir, leaf)) and
                            os.path.join("data", d, leaf) not in live_leaves):
                        shutil.rmtree(os.path.join(snap_dir, leaf),
                                      ignore_errors=True)

        stale = [r for r in man["lineage"][:-1] if "partition_map" in r]
        if stale and self._load()["snapshot"] == man["snapshot"]:
            for r in stale:
                for k in ("partition_map", "watermark_map", "schema"):
                    r.pop(k, None)
                r["expired"] = True
            self._publish(man)
        return removed
