"""Time travel + rollback over KeyedTable manifests (Iceberg
snapshot-read / rollback / expire_snapshots parity)."""

import os
import shutil

import pytest
from layout import unnamed_files

from hastl_spark.sources.tables import DAY_SPEC, KeyedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "source string, bucket int, v long")


def _content(df):
    return {(r.source, r.bucket, r.v) for r in df.collect()}


@pytest.fixture()
def table(tmp_path):
    return KeyedTable(str(tmp_path / "tt"), ["source", "bucket"])


def test_read_snapshot_sees_history(spark, table):
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10), ("b", 1, 20)]))
    t.merge_upsert(spark, _df(spark, [("a", 1, 11), ("a", 2, 12)]))
    t.merge_upsert(spark, _df(spark, [("c", 1, 30)]))

    assert _content(t.read_snapshot(spark, 1)) == {("a", 1, 10), ("b", 1, 20)}
    assert _content(t.read_snapshot(spark, 2)) == {
        ("a", 1, 11), ("a", 2, 12), ("b", 1, 20)}
    assert _content(t.read_snapshot(spark, 3)) == _content(t.read(spark))
    with pytest.raises(ValueError, match="no snapshot 9"):
        t.read_snapshot(spark, 9)


def test_snapshots_listing(spark, table):
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10)]))
    t.overwrite(spark, _df(spark, [("a", 1, 99)]))
    snaps = t.snapshots()
    assert [s["snapshot"] for s in snaps] == [1, 2]
    assert snaps[1]["op"] == "overwrite"


def test_rollback_is_metadata_only_and_history_moves_forward(spark, table):
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10), ("b", 1, 20)]),
                   watermark_col="bucket")
    t.merge_upsert(spark, _df(spark, [("a", 2, 12)]), watermark_col="bucket")
    assert t.watermark("a") == 2

    rec = t.rollback(1)
    assert rec["snapshot"] == 3 and rec["rolled_back_to"] == 1
    assert _content(t.read(spark)) == {("a", 1, 10), ("b", 1, 20)}
    # watermarks restored as of the rolled-back snapshot, so a re-merge of
    # the undone data is not silently skipped by watermark logic
    assert t.watermark("a") == 1

    # the table keeps working after rollback
    t.merge_upsert(spark, _df(spark, [("a", 3, 13)]), watermark_col="bucket")
    assert ("a", 3, 13) in _content(t.read(spark))
    assert ("a", 2, 12) not in _content(t.read(spark))


def test_vacuum_expires_time_travel_but_not_current(spark, table):
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10)]))
    t.overwrite(spark, _df(spark, [("a", 1, 99)]))
    removed = t.vacuum()
    assert removed >= 1
    assert _content(t.read(spark)) == {("a", 1, 99)}
    with pytest.raises(ValueError, match="vacuumed"):
        t.read_snapshot(spark, 1)


def test_rollback_refuses_vacuumed_snapshot(spark, table):
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10)]))
    t.overwrite(spark, _df(spark, [("a", 1, 99)]))
    t.vacuum()  # snapshot-1 dirs are gone
    with pytest.raises(ValueError, match="vacuumed"):
        t.rollback(1)
    # table not wedged: current content still reads
    assert _content(t.read(spark)) == {("a", 1, 99)}


def test_rollback_then_vacuum_keeps_rolled_back_data(spark, table):
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10)]))
    t.overwrite(spark, _df(spark, [("a", 1, 99)]))
    t.rollback(1)
    t.vacuum()  # snapshot-2 dirs unreferenced now; snapshot-1 dirs live
    assert _content(t.read(spark)) == {("a", 1, 10)}


def test_vacuum_keeps_unpublished_writer_dir(spark, table):
    """A data dir numbered above the manifest's snapshot belongs to a
    writer that has not published yet: vacuum must leave it, or that
    writer publishes a manifest naming a deleted dir."""
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10)]))
    t.overwrite(spark, _df(spark, [("a", 1, 99)]))
    data = os.path.join(t.path, "data")
    inflight = os.path.join(data, f"s{t.snapshot() + 1:06d}")
    os.makedirs(os.path.join(inflight, "source=a"))
    os.makedirs(os.path.join(data, "s000002_stage"))  # older writers' leftover
    assert t.vacuum() == 2
    assert sorted(os.listdir(data)) == ["s000002", "s000003"]
    assert _content(t.read(spark)) == {("a", 1, 99)}


def test_vacuum_reclaims_superseded_leaf_in_live_snapshot_dir(spark,
                                                              tmp_path):
    """A merge that rewrites one of two days supersedes that day's leaf
    dir inside a snapshot dir whose other day is still live: vacuum must
    delete the superseded leaf and keep its live sibling and their dir."""
    import datetime

    day = lambda d, h: datetime.datetime(2026, 3, d, h)
    t = KeyedTable(str(tmp_path / "days"), ["source", "bucket"],
                   part_spec=DAY_SPEC)
    schema = "source string, bucket timestamp, v long"
    t.merge_upsert(spark, spark.createDataFrame(
        [("a", day(1, 5), 1), ("a", day(2, 5), 2)], schema),
        watermark_col="bucket")
    first = t._load()["partitions"]
    t.merge_upsert(spark, spark.createDataFrame(
        [("a", day(2, 6), 3)], schema), watermark_col="bucket")
    live = t._load()["partitions"]
    old_day, kept_day = first["a~2026-03-02"], first["a~2026-03-01"]
    assert live["a~2026-03-02"] != old_day
    assert live["a~2026-03-01"] == kept_day
    before = _content(t.read(spark))

    assert t.vacuum() == 0  # no whole snapshot dir is dead
    assert not os.path.exists(os.path.join(t.path, old_day))
    assert os.path.isdir(os.path.join(t.path, kept_day))
    assert os.path.isfile(os.path.join(t.path, "data", "s000001", "_SUCCESS"))
    assert unnamed_files(t) == []
    assert _content(t.read(spark)) == before


def test_vacuum_expires_lineage_maps_without_a_snapshot(spark, table):
    """vacuum strips the maps of every lineage record but the last:
    expired snapshots refuse time travel with the vacuumed error, the
    history still lists them, the snapshot id does not move and the
    manifest shrinks."""
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10), ("b", 1, 20)]))
    t.merge_upsert(spark, _df(spark, [("a", 1, 11)]))
    t.overwrite(spark, _df(spark, [("a", 1, 99)]))
    size = os.path.getsize(t._manifest_path)
    history = t.snapshots()
    t.vacuum()
    assert t.snapshot() == 3
    assert t.snapshots() == history
    assert [(s["snapshot"], s["op"]) for s in history] == [
        (1, "merge_upsert"), (2, "merge_upsert"), (3, "overwrite")]
    assert os.path.getsize(t._manifest_path) < size
    for call in (lambda: t.read_snapshot(spark, 1), lambda: t.rollback(1)):
        with pytest.raises(ValueError, match="was vacuumed"):
            call()
    assert _content(t.read_snapshot(spark, 3)) == {("a", 1, 99)}


def test_commit_landing_mid_vacuum_survives(spark, table, monkeypatch):
    """A merge that publishes while vacuum is deleting files must stay in
    the manifest: the lineage trim is skipped, not published over it."""
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10)]))
    t.overwrite(spark, _df(spark, [("a", 1, 99)]))
    rmtree, merged = shutil.rmtree, []

    def merge_then_rmtree(*args, **kwargs):
        if not merged:
            merged.append(t.merge_upsert(spark, _df(spark, [("c", 1, 30)])))
        return rmtree(*args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", merge_then_rmtree)
    t.vacuum()
    assert merged
    man = t._load()
    assert man["snapshot"] == merged[0]["snapshot"] == 3
    assert "c" in man["partitions"]
    assert man["lineage"][-1]["snapshot"] == 3
    assert _content(t.read(spark)) == {("a", 1, 99), ("c", 1, 30)}


def test_crash_before_publish_leaves_table_unchanged(spark, table, tmp_path,
                                                     monkeypatch):
    """A fault between the data write and the manifest swap leaves the
    table as it was; the next merge reuses (overwrites) the orphan dir and
    ends where a clean run ends."""
    first = [("a", 1, 10), ("b", 1, 20)]
    update = [("a", 1, 11), ("a", 2, 12), ("c", 1, 30)]

    def state(t):
        return (t.snapshot(), t.partition_values(),
                {p: t.watermark(p) for p in t.partition_values()},
                _content(t.read(spark)))

    t = table
    t.merge_upsert(spark, _df(spark, first), watermark_col="bucket")
    before = state(t)

    def crash(self, man):
        raise OSError("crash before publish")

    with monkeypatch.context() as m:
        m.setattr(KeyedTable, "_publish", crash)
        with pytest.raises(OSError, match="crash before publish"):
            t.merge_upsert(spark, _df(spark, update), watermark_col="bucket")
    assert os.path.isdir(os.path.join(t.path, "data", "s000002"))
    assert state(t) == before

    t.merge_upsert(spark, _df(spark, update), watermark_col="bucket")
    clean = KeyedTable(str(tmp_path / "clean"), ["source", "bucket"])
    clean.merge_upsert(spark, _df(spark, first), watermark_col="bucket")
    clean.merge_upsert(spark, _df(spark, update), watermark_col="bucket")
    assert state(t) == state(clean)


def test_time_travel_survives_overwrite_retype(spark, table):
    """A later overwrite may RESET the schema (retype); snapshot reads and
    rollback must use the schema as of the target snapshot, or the old
    parquet files misdecode under the newer named schema."""
    t = table
    t.merge_upsert(spark, _df(spark, [("a", 1, 10)]))            # v: long
    t.overwrite(spark, spark.createDataFrame(
        [("a", 1, "ninety-nine")], "source string, bucket int, v string"))
    got = {(r.source, r.bucket, r.v) for r in
           t.read_snapshot(spark, 1).collect()}
    assert got == {("a", 1, 10)}
    t.rollback(1)
    assert _content(t.read(spark)) == {("a", 1, 10)}
    # and the restored schema accepts further long-typed merges
    t.merge_upsert(spark, _df(spark, [("a", 2, 20)]))
    assert _content(t.read(spark)) == {("a", 1, 10), ("a", 2, 20)}
