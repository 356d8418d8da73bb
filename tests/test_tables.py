"""SnapshotStore: append/commit/read_at/resume round-trips + lineage."""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from simplecrawler_spark.plans import schemas
from simplecrawler_spark.plans.tables import SnapshotStore

# a small four-column table to round-trip
SEEN = T.StructType([
    T.StructField("url_hash", T.LongType(), True),
    T.StructField("url_norm", T.StringType(), True),
    T.StructField("host_bucket", T.IntegerType(), True),
    T.StructField("round_added", T.IntegerType(), True),
])


def _store(spark, root):
    return SnapshotStore(spark, str(root), schemas={
        "seen": SEEN, "frontier": schemas.FRONTIER})


def test_append_read_commit(spark, tmp_path):
    st = _store(spark, tmp_path)
    assert st.read("seen").count() == 0  # empty table via schema registry
    df = spark.createDataFrame([(1, "http://a/", 0, 0)], SEEN)
    st.append("seen", df)
    assert st.read("seen").count() == 1  # pending visible
    st.commit_snapshot(0, {"new": 1})
    st.append("seen", spark.createDataFrame([(2, "http://b/", 0, 1)], SEEN))
    st.commit_snapshot(1, {"new": 1})
    assert st.read("seen").count() == 2
    assert st.read_at("seen", 1).count() == 1  # time travel


def test_resume_from_manifest(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.append("seen", spark.createDataFrame([(1, "http://a/", 0, 0)], SEEN))
    st.commit_snapshot(3, {})
    # uncommitted appends are lost on crash — simulate one
    st.append("seen", spark.createDataFrame([(9, "http://z/", 0, 9)], SEEN))

    resumed = _store(spark, tmp_path)  # fresh open, same root
    assert resumed.latest_round() == 3
    assert resumed.read("seen").count() == 1  # uncommitted append excluded


def test_lineage_rowcounts(spark, tmp_path):
    st = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [(i, f"http://h/{i}", 0, 0) for i in range(10)], SEEN)
    st.append("seen", df)
    manifest = st.commit_snapshot(0, {"fetched": 10.0})
    snap = json.load(open(manifest))
    rows = sum(f["rows"] for a in snap["new_lineage"]["seen"] for f in a["files"])
    assert rows == 10
    assert snap["metrics"] == {"fetched": 10.0}
    assert os.path.basename(manifest) == "snap-000001.json"


def test_row_counts_from_footers(spark, tmp_path):
    """append_rows/rows read parquet footers: per append, per
    partition, pending-only, and committed dirs after a reopen."""
    st = _store(spark, tmp_path)

    def seen(n, r):
        return spark.createDataFrame(
            [(i, f"http://h/{r}/{i}", 0, r) for i in range(n)], SEEN)

    p0 = st.append("seen", seen(3, 0), partition="r0")
    assert st.append_rows(p0) == 3
    st.commit_snapshot(0)
    p1 = st.append("seen", seen(4, 1), partition="r1")
    assert st.append_rows(p1) == 4
    assert st.rows("seen") == 7
    assert st.rows("seen", partition="r0") == 3
    assert st.rows("seen", pending=True) == 4
    assert st.rows("frontier") == 0
    st.commit_snapshot(1)
    reopened = _store(spark, tmp_path)
    assert reopened.rows("seen") == 7
    assert reopened.rows("seen", pending=True) == 0


def test_expire_and_vacuum(spark, tmp_path):
    """Iceberg-style maintenance: expire drops old manifests (current
    state + resume intact), vacuum then removes every data dir no
    retained manifest references — overwrite leftovers and crashed
    appends included — while pending appends survive."""
    import glob
    import os

    import pytest

    st = _store(spark, tmp_path)
    for i in range(4):
        st.append("seen", spark.createDataFrame(
            [(i, f"http://a/{i}", 0, i)], SEEN))
        st.commit_snapshot(i, {})
    # overwrite repoints 'seen' at one fresh dir → 4 orphans-to-be
    st.overwrite("seen", st.read("seen"))
    st.commit_snapshot(4, {})
    # a crashed append: dir on disk, never committed, not pending
    # (fresh store instance below forgets it)
    st.append("seen", spark.createDataFrame(
        [(99, "http://z/", 0, 9)], SEEN))

    st2 = _store(spark, tmp_path)       # reopen: pending forgotten
    n_before = st2.read("seen").count()
    assert n_before == 4
    dropped = st2.expire_snapshots(keep_last=1)
    assert len(dropped) == 4            # snaps 1-4 gone; 5 kept
    with pytest.raises(FileNotFoundError):
        st2.read_at("seen", 1)
    # a pending append right now must NOT be vacuumed
    st2.append("seen", spark.createDataFrame(
        [(100, "http://p/", 0, 1)], SEEN))
    removed = st2.vacuum()
    # gone: the 4 pre-overwrite append dirs + the crashed append
    assert len(removed) == 5
    data_dirs = glob.glob(os.path.join(str(tmp_path),
                                       "data", "seen", "*"))
    # survivors: the overwrite dir (snap 5) + the pending dir
    assert len(data_dirs) == 2
    assert st2.read("seen").count() == n_before + 1
    # resume after maintenance still works
    st3 = _store(spark, tmp_path)
    assert st3.read("seen").count() == n_before
    assert st3.latest_round() == 4


def test_compact_rewrites_small_dirs(spark, tmp_path):
    """compact() (Iceberg rewriteDataFiles analogue): many per-round
    appends collapse to one dir per partition group, rowsets and
    partition pruning are unchanged, time travel to pre-compaction
    snapshots still works, and after expire+vacuum the old dirs are
    reclaimed while reads stay correct."""
    st = _store(spark, tmp_path)
    for r in range(6):
        df = spark.createDataFrame(
            [(r * 10 + i, f"http://h{r}/{i}", 0, r) for i in range(5)],
            SEEN)
        st.append("seen", df, partition=f"r{r % 2}")
        st.commit_snapshot(r)
    before = st.read("seen").count()
    p0_before = {r.url_norm for r in st.read("seen", partition="r0")
                 .collect()}
    snap_pre = st.last_snapshot["id"]

    out = st.compact("seen")
    assert out["groups_rewritten"] == 2          # r0 + r1 groups
    assert out["dirs_before"] == 6 and out["dirs_after"] == 2
    assert st.read("seen").count() == before
    assert {r.url_norm for r in st.read("seen", partition="r0")
            .collect()} == p0_before
    # time travel to the pre-compaction snapshot still reads old dirs
    assert st.read_at("seen", snap_pre).count() == before

    st.commit_snapshot(6)                        # compaction durable
    # vacuum alone removes nothing (old dirs still referenced by
    # retained manifests); expire + vacuum reclaims them
    assert st.vacuum() == []
    st.expire_snapshots(keep_last=1)
    removed = st.vacuum()
    assert len(removed) == 6
    assert st.read("seen").count() == before
    assert {r.url_norm for r in st.read("seen", partition="r0")
            .collect()} == p0_before

    # resume from the compacted manifest
    st2 = _store(spark, tmp_path)
    assert st2.read("seen").count() == before
    assert {r.url_norm for r in st2.read("seen", partition="r0")
            .collect()} == p0_before


def test_compact_leaves_pending_and_small_groups(spark, tmp_path):
    """Pending appends are never compacted; groups under min_dirs are
    left alone; partition= restricts the rewrite."""
    st = _store(spark, tmp_path)
    for r in range(4):
        st.append("seen", spark.createDataFrame(
            [(r, f"http://h{r}/", 0, r)], SEEN),
            partition="rA" if r < 3 else "rB")
    st.commit_snapshot(0)
    st.append("seen", spark.createDataFrame(
        [(99, "http://pending/", 0, 9)], SEEN), partition="rA")

    out = st.compact("seen", partition="rA")
    assert out["groups_rewritten"] == 1
    # 4 committed dirs -> rA's 3 became 1, rB's single dir untouched
    assert out["dirs_before"] == 4 and out["dirs_after"] == 2
    assert st.read("seen").count() == 5          # pending still visible
    # the pending append commits as its own dir afterwards
    st.commit_snapshot(1)
    assert st.read("seen", partition="rA").count() == 4
    assert st.read("seen", partition="rB").count() == 1


def test_compact_keeps_dir_committed_during_rewrite(spark, tmp_path,
                                                   monkeypatch):
    """A dir appended and committed while compact() rewrites (here:
    from inside the rewrite's own parquet write) survives the swap,
    keeps its partition tag, and stays in the next commit's manifest."""
    from pyspark.sql.readwriter import DataFrameWriter

    st = _store(spark, tmp_path)
    for r in range(3):
        st.append("seen", spark.createDataFrame(
            [(r, f"http://h{r}/", 0, r)], SEEN), partition="r0")
        st.commit_snapshot(r)
    write = DataFrameWriter.parquet
    late: list[str] = []

    def racing_write(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        if not late:  # the rewrite's write; the append below writes too
            late.append("")
            late[0] = st.append("seen", spark.createDataFrame(
                [(99, "http://late/", 0, 3)], SEEN), partition="r1")
            st.commit_snapshot(3)

    monkeypatch.setattr(DataFrameWriter, "parquet", racing_write)
    out = st.compact("seen")
    monkeypatch.undo()
    assert out["groups_rewritten"] == 1
    assert late[0] in st._committed["seen"]
    assert st.read("seen").count() == 4
    assert st.read("seen", partition="r1").count() == 1
    st.commit_snapshot(4)
    assert late[0] in st.last_snapshot["tables"]["seen"]
    st2 = _store(spark, tmp_path)
    assert st2.read("seen").count() == 4
    assert st2.read("seen", partition="r1").count() == 1


def test_compact_merge_partitions(spark, tmp_path):
    """merge_partitions=True collapses every committed dir into one
    untagged dir; rowset unchanged, and pruned reads keep the
    untagged dir by the conservative contract (callers' .where guards
    stay correct)."""
    st = _store(spark, tmp_path)
    for r in range(5):
        st.append("seen", spark.createDataFrame(
            [(r, f"http://h{r}/", 0, r)], SEEN),
            partition=f"r{r}")
    st.commit_snapshot(0)
    out = st.compact("seen", merge_partitions=True)
    assert out["groups_rewritten"] == 1
    assert out["dirs_after"] == 1
    assert st.read("seen").count() == 5
    # untagged dir is conservatively included in any pruned read
    assert st.read("seen", partition="r3").count() == 5
    st.commit_snapshot(1)
    st2 = _store(spark, tmp_path)
    assert st2.read("seen").count() == 5


def test_props_carry_forward_and_views(spark, tmp_path):
    """Store properties become durable at the next commit and every
    later commit carries them; a view answers read() by its name."""
    st = _store(spark, tmp_path)
    st.props["floor"] = 3
    st.commit_snapshot(0)
    st.commit_snapshot(1)
    reopened = _store(spark, tmp_path)
    assert reopened.props == {"floor": 3}
    assert reopened.last_snapshot["props"] == {"floor": 3}

    st.views["evens"] = lambda: spark.range(4).where("id % 2 = 0")
    assert sorted(r.id for r in st.read("evens").collect()) == [0, 2]
