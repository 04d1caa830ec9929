"""Merge-on-read equality-delete contract tests (Iceberg v2 semantics
from scratch): O(keys) delete commits, read/scan-time anti-join,
sequence-number ordering vs later appends, retirement by an overwrite,
and interaction with the copy-on-write delete.

Reference parity: the KV backends delete by writing tombstones the
store's compaction later folds (core/store/.../base/BaseDataStore.java
delete path); mode='mor' is that contract expressed as table-format
metadata."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from geowave_spark.sources.icetable import IceTable


def _mk(spark, lo, hi, parts=4):
    return spark.range(lo, hi, numPartitions=parts).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    )


def _sorted_table(spark, tmp_path, name="m1", n=1000, files=8):
    t = IceTable(str(tmp_path / name))
    df = (
        spark.range(0, n, numPartitions=1)
        .select(F.col("id"), (F.col("id") * 2).alias("val"))
        .repartitionByRange(files, "id")
        .sortWithinPartitions("id")
    )
    t.commit_write(df, mode="overwrite", stats_cols=["id"])
    return t


def test_mor_delete_no_rewrite_and_read(spark, tmp_path):
    t = _sorted_table(spark, tmp_path)
    before_paths = {f["path"] for f in t.files()}
    keys = spark.range(100, 200).select(F.col("id"))
    deleted, rep = t.delete_keys(keys, "id", mode="mor")
    assert deleted == 100
    assert rep["mor"] is True and rep["files_rewritten"] == 0
    # zero data files touched: the commit is metadata + one key file
    assert {f["path"] for f in t.files()} == before_paths
    assert len(t.delete_entries()) >= 1
    assert all(d["kind"] == "eq-delete" for d in t.delete_entries())
    got = t.read(spark)
    assert got.count() == 900
    assert got.where((F.col("id") >= 100) & (F.col("id") < 200)).count() == 0
    # deleting rows also poisons the additive metadata stats (same
    # stance as the COW delete): the occupancy fold must say so
    assert t.merged_column_stats(["id"])["mor_pending"] is True


def test_mor_time_travel_and_double_delete(spark, tmp_path):
    t = _sorted_table(spark, tmp_path, "m2")
    pre = t.current_snapshot_id()
    keys = spark.range(0, 50).select(F.col("id"))
    deleted, _ = t.delete_keys(keys, "id", mode="mor")
    assert deleted == 50
    # pre-delete snapshot unaffected (snapshot isolation)
    assert t.read(spark, snapshot_id=pre).count() == 1000
    # idempotent: the same keys are already logically gone, so no new
    # snapshot commits
    n_snaps = len(t.snapshots())
    deleted2, rep2 = t.delete_keys(keys, "id", mode="mor")
    assert deleted2 == 0 and rep2["deleted_rows"] == 0
    assert len(t.snapshots()) == n_snaps


def test_mor_sequence_rule_append(spark, tmp_path):
    t = _sorted_table(spark, tmp_path, "m3", n=100)
    t.delete_keys(spark.range(5, 6).select("id"), "id", mode="mor")
    assert t.read(spark).where(F.col("id") == 5).count() == 0
    # an APPEND after the delete outranks it: the new row with the same
    # key survives (Iceberg sequence-number rule)
    t.commit_write(
        spark.createDataFrame([(5, 999)], "id long, val long"),
        mode="append",
        stats_cols=["id"],
    )
    live = t.read(spark).where(F.col("id") == 5).collect()
    assert [(r["id"], r["val"]) for r in live] == [(5, 999)]


def test_cow_delete_after_mor_never_resurrects(spark, tmp_path):
    t = _sorted_table(spark, tmp_path, "m4")
    t.delete_keys(spark.range(0, 10).select("id"), "id", mode="mor")
    # COW delete rewrites the id<=124 file that ALSO holds the
    # MoR-deleted rows: the rewrite reads merge-on-read, so they stay
    # gone even though the rewritten file's seq outranks the delete
    deleted, rep = t.delete_where(spark, ranges={"id": (50, 120)})
    assert deleted == 71
    got = t.read(spark)
    assert got.count() == 1000 - 10 - 71
    assert got.where(F.col("id") < 10).count() == 0
    # the carried delete entries still list (harmless, idempotent)
    assert len(t.delete_entries()) >= 1


def test_scan_applies_mor_deletes(spark, tmp_path):
    t = _sorted_table(spark, tmp_path, "m5")
    t.delete_keys(spark.range(900, 950).select("id"), "id", mode="mor")
    got, report = t.scan(spark, {"id": (880, 1000)})
    assert report["files_read"] < report["files_total"]  # pruning intact
    assert got.count() == (1000 - 880) - 50
    assert got.where((F.col("id") >= 900) & (F.col("id") < 950)).count() == 0


def test_expire_removes_orphaned_delete_files(spark, tmp_path):
    t = _sorted_table(spark, tmp_path, "m8")
    t.delete_keys(spark.range(0, 10).select("id"), "id", mode="mor")
    del_paths = [d["path"] for d in t.delete_entries()]
    assert all(os.path.exists(p) for p in del_paths)
    # an overwrite with the live rows retires the delete file
    t.commit_write(t.read(spark), mode="overwrite", stats_cols=["id"])
    assert t.delete_entries() == []
    assert t.merged_column_stats(["id"])["mor_pending"] is False
    t.expire_snapshots()
    assert not any(os.path.exists(p) for p in del_paths)
    assert t.read(spark).count() == 990


def test_mor_flips_occupancy_completeness(spark, tmp_path):
    t = IceTable(str(tmp_path / "m9"))
    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") * 1000).alias("x_u"),
        (F.col("id") * 500).alias("y_u"),
    )
    t.commit_write(df, mode="overwrite", stats_cols=["id"], occupancy=(6, "x_u", "y_u"))
    assert t.merged_occupancy()["complete"] is True
    t.delete_keys(spark.range(0, 5).select("id"), "id", mode="mor")
    # removed rows stay counted in the ancestor occupancy delta -> the
    # fold must not present itself as the table state
    assert t.merged_occupancy()["complete"] is False


def test_expire_sweeps_aged_orphan_dirs(spark, tmp_path):
    """A crashed write (parquet dir, no commit) is invisible to reads;
    expire_snapshots reclaims it once it is older than the grace period
    and never touches live dirs or young dirs."""
    import time

    from geowave_spark.sources import icetable
    from geowave_spark.sources.testgeo import events_points

    t = IceTable(str(tmp_path / "tbl"))
    pts = events_points(spark, "/root/testdata/sf0.001")
    t.commit_write(pts, mode="overwrite", stats_cols=["event_id"])
    n = t.read(spark).count()

    # simulate the crash: data written, metadata never published
    orphan = os.path.join(str(tmp_path / "tbl"), "data", "w-crashed0001")
    pts.limit(10).write.parquet(orphan)
    assert t.read(spark).count() == n  # invisible to reads

    # young dir: protected by the grace period
    assert t.expire_snapshots()["removed_dirs"] == 0 and os.path.isdir(orphan)

    # past the grace period: reclaimed, live data untouched, even when
    # the live dir is as old
    old = time.time() - 2 * icetable.ORPHAN_GRACE_S
    data = os.path.join(str(tmp_path / "tbl"), "data")
    for name in os.listdir(data):
        os.utime(os.path.join(data, name), (old, old))
    assert t.expire_snapshots()["removed_dirs"] == 1
    assert not os.path.exists(orphan)
    assert t.read(spark).count() == n
