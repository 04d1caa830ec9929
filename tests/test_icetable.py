"""Snapshot-table (Iceberg-style format) contract tests: atomic
commits, snapshot isolation / time travel, rollback, and manifest
file pruning."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from geowave_spark.sources.icetable import IceTable


def _mk(spark, lo, hi, parts=4):
    return spark.range(lo, hi, numPartitions=parts).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    )


def test_append_overwrite_time_travel(spark, tmp_path):
    t = IceTable(str(tmp_path / "t1"))
    s1 = t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])
    s2 = t.commit_write(_mk(spark, 100, 250), mode="append", stats_cols=["id"])
    assert t.read(spark).count() == 250
    # time travel: snapshot 1 still readable, bit-identical
    assert t.read(spark, snapshot_id=s1).count() == 100
    assert t.read(spark, snapshot_id=s1).agg(F.max("id")).first()[0] == 99
    # overwrite replaces the file list but old snapshots survive
    s3 = t.commit_write(_mk(spark, 0, 10), mode="overwrite")
    assert t.read(spark).count() == 10
    assert t.read(spark, snapshot_id=s2).count() == 250
    hist = t.snapshots()
    assert [s["id"] for s in hist] == [s1, s2, s3]
    assert hist[1]["parent"] == s1


def test_rollback(spark, tmp_path):
    t = IceTable(str(tmp_path / "t2"))
    s1 = t.commit_write(_mk(spark, 0, 50), mode="overwrite")
    t.commit_write(_mk(spark, 50, 60), mode="overwrite")
    s3 = t.rollback(s1)
    assert t.current_snapshot_id() == s3
    assert t.read(spark).count() == 50
    # rollback is a forward-moving commit, not history rewrite
    assert len(t.snapshots()) == 3


def test_manifest_file_pruning(spark, tmp_path):
    t = IceTable(str(tmp_path / "t3"))
    # sorted + range-partitioned write -> disjoint per-file id ranges
    df = (
        spark.range(0, 10_000, numPartitions=1)
        .select(F.col("id"), (F.col("id") % 7).alias("val"))
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id")
    )
    t.commit_write(df, mode="overwrite", stats_cols=["id"])
    got, report = t.scan(spark, {"id": (9_000, 9_100)})
    assert got.count() == 101
    assert report["files_total"] >= 8
    assert report["files_read"] < report["files_total"]
    assert report["rows_skipped"] > 0
    # correctness against an unpruned read
    full = t.read(spark).where(F.col("id").between(9_000, 9_100)).count()
    assert got.count() == full
    # empty intersection prunes everything but keeps the schema
    empty, rep2 = t.scan(spark, {"id": (1_000_000, None)})
    assert empty.count() == 0 and empty.columns == got.columns
    assert rep2["files_read"] == 0


def test_commit_is_atomic_metadata_swap(spark, tmp_path):
    t = IceTable(str(tmp_path / "t4"))
    t.commit_write(_mk(spark, 0, 10), mode="overwrite")
    v1 = int(open(os.path.join(t.meta_dir, "version-hint.text")).read())
    t.commit_write(_mk(spark, 10, 20), mode="append")
    v2 = int(open(os.path.join(t.meta_dir, "version-hint.text")).read())
    assert v2 == v1 + 1
    # every historical metadata version remains readable
    assert os.path.exists(os.path.join(t.meta_dir, f"v{v1}.metadata.json"))
    assert os.path.exists(os.path.join(t.meta_dir, f"v{v2}.metadata.json"))


def test_binary_columns_have_no_stats_but_never_prune_wrong(spark, tmp_path):
    t = IceTable(str(tmp_path / "t5"))
    df = spark.range(0, 20).select(
        F.col("id"), F.encode(F.col("id").cast("string"), "utf-8").alias("payload")
    )
    t.commit_write(df, mode="overwrite", stats_cols=["id", "payload"])
    for fi in t.files():
        assert "payload" not in fi["stats"]  # binary -> no stats recorded
    got, report = t.scan(spark, {"id": (5, 6)})
    assert got.count() == 2


def test_decimal_columns_have_no_stats_but_never_prune_wrong(spark, tmp_path):
    """pyarrow cannot extract footer statistics from a Spark DECIMAL
    (stored as INT32/INT64); the commit records no stats for it instead
    of failing, and a range scan on it prunes nothing."""
    from decimal import Decimal

    t = IceTable(str(tmp_path / "dec"))
    df = spark.range(0, 3, numPartitions=1).select("id", F.lit(Decimal("1.5")).alias("d"))
    t.commit_write(df)
    assert all("d" not in fi["stats"] and "id" in fi["stats"] for fi in t.files())
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (i, Decimal("1.5")) for i in range(3)
    ]
    got, report = t.scan(spark, {"d": (Decimal("1.0"), Decimal("2.0"))})
    assert got.count() == 3 and report["files_read"] == report["files_total"]
    none, _ = t.scan(spark, {"d": (Decimal("2.0"), None)})
    assert none.count() == 0


# -------------------------------------------- snapshot-backed stage store


def test_ice_stage_store_resume_and_atomicity(spark, tmp_path):
    from geowave_spark.plans.checkpoint import IceStageStore

    store = IceStageStore(str(tmp_path / "ice_stages"))
    calls = []
    attempts = {3: 0}

    def make(k):
        calls.append(k)
        if k == 3:
            attempts[3] += 1
            if attempts[3] == 1:
                raise RuntimeError("simulated executor loss")
        return spark.range(k * 10, k * 10 + 5).withColumn("v", F.col("id") * 2)

    # killed mid-stage: partitions 1-2 committed, 3 never becomes visible
    with pytest.raises(RuntimeError):
        store.run_stage(spark, "s1", [1, 2, 3], make, fingerprint="fp1")
    assert store.completed_keys("s1", "fp1") == {1, 2}

    # resume computes ONLY the missing partition; output is complete
    calls.clear()
    out = store.run_stage(spark, "s1", [1, 2, 3], make, fingerprint="fp1")
    assert calls == [3]
    assert out.count() == 15
    assert sorted(r.part_key for r in out.select("part_key").distinct().collect()) == [1, 2, 3]

    # changed fingerprint -> full recompute, and the read excludes stale rows
    calls.clear()
    out2 = store.run_stage(spark, "s1", [1, 2], make, fingerprint="fp2")
    assert sorted(calls) == [1, 2]
    assert out2.count() == 10
    # old snapshots stay time-travelable (lineage is never rewritten)
    m = store.metrics("s1")
    assert len(m) == 5 and all("wall_ms" in r and r["n_rows"] == 5 for r in m)
    fps = [r["fingerprint"] for r in m]
    assert fps.count("fp1") == 3 and fps.count("fp2") == 2


def test_compact_and_expire(spark, tmp_path):
    t = IceTable(str(tmp_path / "t6"))
    # many small appends with interleaved key ranges -> overlapping stats
    for i in range(6):
        df = spark.range(i, 6000, 6, numPartitions=2).select(
            F.col("id"), (F.col("id") % 13).alias("val")
        )
        t.commit_write(df, mode="append", stats_cols=["id"])
    before = t.files()
    assert len(before) == 12
    # overlapping per-file ranges: the narrow scan must read one file
    # per append (6 of 12) because every append's low-half file covers it
    _, rep0 = t.scan(spark, {"id": (100, 140)})
    assert rep0["files_read"] == 6
    expected = sorted(r.id for r in t.read(spark).collect())

    sid = t.compact(spark, sort_by=["id"], target_files=3)
    assert t.current_snapshot_id() == sid
    after = t.files()
    assert len(after) == 3
    assert sorted(r.id for r in t.read(spark).collect()) == expected
    # tight disjoint ranges again: the same scan reads exactly one file
    got, rep1 = t.scan(spark, {"id": (100, 140)})
    assert rep1["files_read"] == 1
    assert got.count() == 41

    # expiry drops history + unreferenced files but keeps the current state
    n_snapshots = len(t.snapshots())
    assert n_snapshots == 7
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_snapshots"] == 6 and res["removed_files"] == 12
    assert len(t.snapshots()) == 1
    assert sorted(r.id for r in t.read(spark).collect()) == expected
    import glob

    live_files = glob.glob(str(tmp_path / "t6" / "data" / "*" / "*.parquet"))
    assert len(live_files) == 3


def test_expire_drops_emptied_data_dirs_and_keeps_properties(spark, tmp_path):
    """expire_snapshots removes a write's whole data dir (its _SUCCESS
    and checksum files too) once none of its files is live, keeps a dir
    that still holds a live file, and leaves the table properties."""
    t = IceTable(str(tmp_path / "ex"))
    t.commit_write(_mk(spark, 0, 100), mode="overwrite")
    t.set_properties(format="x")
    t.commit_write(_mk(spark, 100, 200), mode="overwrite")
    kept = t.commit_write(_mk(spark, 200, 300), mode="overwrite")
    t.commit_write(_mk(spark, 300, 310), mode="append")
    live_dirs = {os.path.dirname(f["path"]) for f in t.files()}
    assert {os.path.dirname(f["path"]) for f in t.files(kept)} < live_dirs

    t.expire_snapshots(keep_last=1)
    data = str(tmp_path / "ex" / "data")
    assert {os.path.join(data, d) for d in os.listdir(data)} == live_dirs
    assert t.properties() == {"format": "x"}
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(200, 310))


def test_concurrent_commits_no_lost_update(spark, tmp_path):
    """Two writers racing commit_write must serialize on the writer
    lock: every snapshot survives (no silent lost update from both
    reading version N and both publishing v(N+1))."""
    import threading

    from geowave_spark.sources.icetable import IceTable

    t = IceTable(str(tmp_path / "race"))
    t.commit_write(spark.range(1).selectExpr("id AS v"), mode="overwrite")

    n_writers, errs = 6, []

    def writer(i):
        try:
            df = spark.range(10).selectExpr(f"id + {i * 100} AS v")
            t.commit_write(df, mode="append")
        except Exception as ex:  # pragma: no cover - failure reporting
            errs.append(ex)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert len(t.snapshots()) == 1 + n_writers
    # every append's rows are in the current state exactly once
    assert t.read(spark).count() == 1 + n_writers * 10
    ids = [s["id"] for s in t.snapshots()]
    assert ids == sorted(set(ids))


def test_raster_pipeline_resumes_from_checkpoint(spark, tmp_path):
    """North-rule resume for the IMAGE pipeline: tile cut+merge staged
    per image-id range through IceStageStore — a job killed mid-stage
    recomputes only the missing ranges, and the resumed output equals
    the single-shot pipeline tile-for-tile."""
    import pandas as pd
    import pytest as _pytest

    from geowave_spark.operators.tiling import tile_cut_and_merge
    from geowave_spark.plans.checkpoint import IceStageStore
    from geowave_spark.sources.images import images_table

    n, ts, half = 120, 32, 600_000
    ranges = [(0, 40), (40, 80), (80, 120)]
    store = IceStageStore(str(tmp_path / "raster_stages"))
    calls = []
    fail_once = {2: True}

    def make(k):
        calls.append(k)
        if fail_once.get(k):
            fail_once[k] = False
            raise RuntimeError("simulated kill")
        lo, hi = ranges[k]
        imgs = images_table(spark, n, w=ts, h=ts, partitions=4).where(
            (F.col("image_id") >= f"img{lo:012d}") & (F.col("image_id") < f"img{hi:012d}")
        )
        return tile_cut_and_merge(imgs, half, tile_size=ts).select(
            "level", "tx", "ty", "n_contrib", "tile"
        )

    with _pytest.raises(RuntimeError):
        store.run_stage(spark, "tiles", [0, 1, 2], make, fingerprint="imgs-v1")
    assert store.completed_keys("tiles", "imgs-v1") == {0, 1}

    calls.clear()
    out = store.run_stage(spark, "tiles", [0, 1, 2], make, fingerprint="imgs-v1")
    assert calls == [2]  # only the killed range recomputed

    # resumed per-range output covers the same tile keys as single-shot
    # (ranges are merged per-range, so contributor counts are per-range;
    # the union of covered tiles must match, and per-range sub-mosaics
    # must agree pixel-for-pixel where a tile has one contributor range)
    single = (
        tile_cut_and_merge(
            images_table(spark, n, w=ts, h=ts, partitions=4), half, tile_size=ts
        )
        .select("level", "tx", "ty", "n_contrib")
        .toPandas()
    )
    got = out.select("level", "tx", "ty", "n_contrib", "part_key").toPandas()
    assert set(zip(got["tx"], got["ty"])) == set(zip(single["tx"], single["ty"]))
    total = got.groupby(["tx", "ty"])["n_contrib"].sum().sort_index()
    want = single.set_index(["tx", "ty"])["n_contrib"].sort_index()
    assert (total == want).all()


def test_image_snapshot_table_bbox_scan_prunes_manifests(spark, tmp_path, monkeypatch):
    """The north-rule corpus shape: image+caption rows stored sorted by
    tile cell. A narrow cell-range scan must skip files at the MANIFEST
    level (before Spark lists them) and return exactly the images whose
    cell falls in the range."""
    from geowave_spark.plans import store as S

    monkeypatch.setattr(S, "CACHE_ROOT", str(tmp_path / "cache"))
    t, level = S.ice_images_store(spark, 240, 32, 32, 600_000)

    full = t.read(spark)
    cells = sorted(r.cell for r in full.select("cell").distinct().collect())
    lo, hi = cells[0], cells[max(len(cells) // 6, 0)]
    df, report = t.scan(spark, {"cell": (int(lo), int(hi))})

    assert report["files_total"] > report["files_read"]  # real file skipping
    assert report["rows_skipped"] > 0
    want = full.where((full.cell >= lo) & (full.cell <= hi))
    assert df.count() == want.count() > 0
    # captions + phash ride the same rows through the store round trip
    got = {r.image_id: (r.caption, r.phash) for r in df.collect()}
    exp = {r.image_id: (r.caption, r.phash) for r in want.collect()}
    assert got == exp


def test_ice_stage_store_resumes_pre_added_paths_format(spark, tmp_path):
    """ADVICE r3 (medium): stage stores committed before snapshots
    carried `added_paths` must still resume — added files fall back to
    the manifest diff (manifest(id) − manifest(parent))."""
    import json as _json
    import os as _os

    from geowave_spark.plans.checkpoint import IceStageStore

    store = IceStageStore(str(tmp_path / "old_stages"))

    def make(k):
        return spark.range(k * 10, k * 10 + 5).withColumn("v", F.col("id") * 2)

    store.run_stage(spark, "s1", [1, 2], make, fingerprint="fp1")

    # simulate the pre-round-3 metadata format: strip added_paths from
    # every committed snapshot
    meta_dir = str(tmp_path / "old_stages" / "s1" / "metadata")
    with open(_os.path.join(meta_dir, "version-hint.text")) as f:
        v = int(f.read().strip())
    mpath = _os.path.join(meta_dir, f"v{v}.metadata.json")
    with open(mpath) as f:
        meta = _json.load(f)
    for s in meta["snapshots"]:
        s.pop("added_paths", None)
    with open(mpath, "w") as f:
        f.write(_json.dumps(meta))

    # all-old resume: completed keys are honored AND their data is read
    calls = []

    def make2(k):
        calls.append(k)
        return make(k)

    out = store.run_stage(spark, "s1", [1, 2], make2, fingerprint="fp1")
    assert calls == []
    assert out.count() == 10
    assert sorted(
        r.part_key for r in out.select("part_key").distinct().collect()
    ) == [1, 2]

    # mixed old+new: a new partition appends a new-format snapshot on
    # top of the stripped ones
    out2 = store.run_stage(spark, "s1", [1, 2, 3], make2, fingerprint="fp1")
    assert calls == [3]
    assert out2.count() == 15


def test_incremental_stats_match_on_demand(spark, tmp_path):
    """Write-path statistics (round-4): occupancy deltas + footer
    min/max folded from metadata must equal an on-demand scan after a
    multi-snapshot append sequence, stay consistent through rollback,
    and reset on overwrite."""
    from geowave_spark.index.native import grid_coord_col
    from geowave_spark.sources.icetable import IceTable

    t = IceTable(str(tmp_path / "stats_t"))
    res = 4

    def pts(lo, hi):
        return (
            spark.range(lo, hi)
            .select(
                F.col("id").cast("string").alias("pid"),
                ((F.col("id") * 7919) % 360_000_000 - 180_000_000).alias("x_u"),
                ((F.col("id") * 104729) % 360_000_000 - 180_000_000).alias("y_u"),
            )
        )

    sids = []
    for lo, hi in [(0, 400), (400, 900), (900, 1200)]:
        sids.append(
            t.commit_write(
                pts(lo, hi),
                mode="append",
                stats_cols=["x_u", "y_u"],
                occupancy=(res, "x_u", "y_u"),
            )
        )

    def on_demand(df):
        got = (
            df.groupBy(
                grid_coord_col(F.col("x_u"), res).alias("gx"),
                grid_coord_col(F.col("y_u"), res, 180_000_000).alias("gy"),
            )
            .count()
            .collect()
        )
        return {(r.gx, r.gy): r["count"] for r in got}

    all_pts = pts(0, 1200)
    occ = t.merged_occupancy()
    assert occ["res"] == res
    assert occ["cells"] == on_demand(all_pts)
    cs = t.merged_column_stats(["x_u", "y_u"])
    row = all_pts.agg(
        F.count("*"), F.min("x_u"), F.max("x_u"), F.min("y_u"), F.max("y_u")
    ).first()
    assert cs["n_rows"] == row[0]
    assert cs["cols"]["x_u"] == [row[1], row[2]]
    assert cs["cols"]["y_u"] == [row[3], row[4]]

    # rollback to the 2-append state: stats follow the redirected chain
    t.rollback(sids[1])
    occ2 = t.merged_occupancy()
    assert occ2["cells"] == on_demand(pts(0, 900))
    assert t.merged_column_stats(["x_u"])["n_rows"] == 900

    # overwrite resets: stats reflect ONLY the overwrite batch
    t.commit_write(
        pts(5000, 5100),
        mode="overwrite",
        stats_cols=["x_u", "y_u"],
        occupancy=(res, "x_u", "y_u"),
    )
    occ3 = t.merged_occupancy()
    assert occ3["cells"] == on_demand(pts(5000, 5100))
    assert t.merged_column_stats(["x_u"])["n_rows"] == 100


def test_ingest_pyramid_resumes_per_level(spark, tmp_path):
    """Write-path pyramid (round 4): each level is one snapshot commit;
    a build killed mid-pyramid resumes at the first uncommitted level,
    derives it from the STORED parent level (no recompute of completed
    levels, no re-read of the base), and the final pyramid equals the
    in-memory build_pyramid result level-for-level."""
    import numpy as np

    from geowave_spark.operators import tiling as T
    from geowave_spark.operators.tiling import build_pyramid, ingest_pyramid
    from geowave_spark.sources.images import images_table
    from geowave_spark.operators.tiling import pick_level, tile_cut_and_merge

    ts = 32
    half = 600_000
    imgs = images_table(spark, 60, w=ts, h=ts, partitions=4)
    level = pick_level(2 * half, ts, ts)
    base = tile_cut_and_merge(imgs, half, tile_size=ts, level=level).select(
        "level", "tx", "ty", "tile"
    )
    base.persist().count()

    want = {
        (r.level, r.tx, r.ty): bytes(r.tile)
        for r in build_pyramid(base, level, level - 3, ts).collect()
    }

    # simulated kill: retile raises once the 2nd derived level starts
    calls = []
    orig_retile = T.retile

    def flaky_retile(tiles, fl, tl, *a, **k):
        calls.append(tl)
        if len(calls) == 2:
            raise RuntimeError("simulated executor loss")
        return orig_retile(tiles, fl, tl, *a, **k)

    root = str(tmp_path / "pyr")
    T.retile = flaky_retile
    try:
        with pytest.raises(RuntimeError):
            ingest_pyramid(spark, base, level, root, level - 3, ts)
    finally:
        T.retile = orig_retile

    # resume: only the missing levels derive; base + first derived level
    # are read from the store, not recomputed
    calls2 = []

    def counting_retile(tiles, fl, tl, *a, **k):
        calls2.append(tl)
        return orig_retile(tiles, fl, tl, *a, **k)

    T.retile = counting_retile
    try:
        out = ingest_pyramid(spark, base, level, root, level - 3, ts)
    finally:
        T.retile = orig_retile
    assert calls2 == [level - 2, level - 3]

    got = {
        (r.level, r.tx, r.ty): bytes(r.tile)
        for r in out.select("level", "tx", "ty", "tile").collect()
    }
    assert got == want
    base.unpersist()


def test_ingest_pyramid_reused_root_new_fingerprint(spark, tmp_path):
    """A reused store root with a CHANGED base and a new fingerprint must
    derive every coarser level from the new generation only — the raw
    table read would mix the stale generation's parent rows (run_stage
    appends; old snapshots stay time-travelable) into the derivation."""
    from geowave_spark.operators.tiling import (
        ingest_pyramid,
        pick_level,
        tile_cut_and_merge,
    )
    from geowave_spark.sources.images import images_table

    ts = 32
    half = 600_000
    level = pick_level(2 * half, ts, ts)
    root = str(tmp_path / "pyr")

    def build_base(n):
        imgs = images_table(spark, n, w=ts, h=ts, partitions=4)
        return tile_cut_and_merge(imgs, half, tile_size=ts, level=level).select(
            "level", "tx", "ty", "tile"
        )

    ingest_pyramid(spark, build_base(60), level, root, level - 2, ts,
                   fingerprint="gen-v1")
    # same root, fewer/different base tiles, new fingerprint
    got = {
        (r.level, r.tx, r.ty): bytes(r.tile)
        for r in ingest_pyramid(
            spark, build_base(25), level, root, level - 2, ts,
            fingerprint="gen-v2",
        ).select("level", "tx", "ty", "tile").collect()
    }
    want = {
        (r.level, r.tx, r.ty): bytes(r.tile)
        for r in ingest_pyramid(
            spark, build_base(25), level, str(tmp_path / "fresh"), level - 2,
            ts, fingerprint="gen-v2",
        ).select("level", "tx", "ty", "tile").collect()
    }
    assert got == want


def test_occupancy_fold_flags_incomplete_chains(spark, tmp_path):
    """merged_occupancy must not present a partial fold as the table
    state: a data-adding commit without an occupancy entry (or at a
    different res) flips complete=False instead of silently
    undercounting."""
    from geowave_spark.sources.icetable import IceTable

    def pts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").cast("string").alias("pid"),
            ((F.col("id") * 7919) % 360_000_000 - 180_000_000).alias("x_u"),
            ((F.col("id") * 104729) % 360_000_000 - 180_000_000).alias("y_u"),
        )

    t = IceTable(str(tmp_path / "t"))
    t.commit_write(pts(0, 100), mode="append", occupancy=(4, "x_u", "y_u"))
    assert t.merged_occupancy()["complete"] is True
    t.commit_write(pts(100, 200), mode="append")  # occupancy forgotten
    occ = t.merged_occupancy()
    assert occ["complete"] is False and sum(occ["cells"].values()) == 100
    # a different res mid-chain is likewise partial at the folded res
    t2 = IceTable(str(tmp_path / "t2"))
    t2.commit_write(pts(0, 100), mode="append", occupancy=(4, "x_u", "y_u"))
    t2.commit_write(pts(100, 200), mode="append", occupancy=(6, "x_u", "y_u"))
    assert t2.merged_occupancy()["complete"] is False


def test_stats_store_resumes_partial_build(spark, tmp_path, monkeypatch):
    """ice_events_stats_store is a multi-commit build on a persistent
    cache root: a process killed between commits must resume the
    MISSING batches on the next call, not treat any-snapshot-exists as
    fully built (which would cache a truncated store forever)."""
    from geowave_spark.plans import store as S
    from geowave_spark.sources.icetable import IceTable

    sf_dir = "/root/testdata/sf0.001"
    monkeypatch.setattr(S, "CACHE_ROOT", str(tmp_path / "cache"))

    # simulated kill after the first commit
    orig = IceTable.commit_write
    calls = []

    def flaky(self, *a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("simulated kill between commits")
        return orig(self, *a, **k)

    monkeypatch.setattr(IceTable, "commit_write", flaky)
    import pytest as _pt

    with _pt.raises(RuntimeError):
        S.ice_events_stats_store(spark, sf_dir)
    monkeypatch.setattr(IceTable, "commit_write", orig)

    t = S.ice_events_stats_store(spark, sf_dir)  # resume
    occ = t.merged_occupancy()
    assert occ["complete"] is True
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert t.merged_column_stats(["x_u"])["n_rows"] == n_events
    assert sum(occ["cells"].values()) == n_events


def test_occupancy_survives_compaction(spark, tmp_path):
    """compact() is a data-identical rewrite: the occupancy fold walks
    through it to the pre-compaction chain (neither a reset point nor an
    incompleteness gap)."""
    from geowave_spark.sources.icetable import IceTable

    def pts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").cast("string").alias("pid"),
            ((F.col("id") * 7919) % 360_000_000 - 180_000_000).alias("x_u"),
            ((F.col("id") * 104729) % 360_000_000 - 180_000_000).alias("y_u"),
        )

    t = IceTable(str(tmp_path / "t"))
    t.commit_write(pts(0, 150), mode="append", occupancy=(4, "x_u", "y_u"))
    t.commit_write(pts(150, 400), mode="append", occupancy=(4, "x_u", "y_u"))
    before = t.merged_occupancy()
    t.compact(spark, sort_by=["x_u"])
    after = t.merged_occupancy()
    assert after == before and after["complete"] is True
    assert sum(after["cells"].values()) == 400


def test_delete_where_copy_on_write(spark, tmp_path):
    """Row-level DELETE: only overlapping files rewritten, untouched
    files carried into the new manifest byte-identical; old snapshot
    still time-travels to the deleted rows."""
    t = IceTable(str(tmp_path / "del1"))
    # 4 range-partitioned files with tight id stats
    df = (
        spark.range(0, 400)
        .select(F.col("id"), (F.col("id") * 2).alias("val"))
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    s1 = t.commit_write(df, mode="overwrite", stats_cols=["id"])
    before_paths = {f["path"] for f in t.files()}
    deleted, rep = t.delete_where(spark, ranges={"id": (50, 75)})
    assert deleted == 26
    assert rep["files_rewritten"] < rep["files_total"]  # skipping worked
    assert t.read(spark).count() == 400 - 26
    assert t.read(spark).where("id BETWEEN 50 AND 75").count() == 0
    # untouched files are the SAME paths (no rewrite)
    after_paths = {f["path"] for f in t.files()}
    assert len(before_paths & after_paths) == rep["files_skipped"] > 0
    # time travel to pre-delete snapshot
    assert t.read(spark, snapshot_id=s1).count() == 400
    assert t.snapshots()[-1]["operation"] == "delete"
    assert t.snapshots()[-1]["summary"]["deleted_rows"] == 26


def test_delete_where_predicate_and_null_semantics(spark, tmp_path):
    t = IceTable(str(tmp_path / "del2"))
    rows = [(1, 5), (2, None), (3, 50), (4, 7)]
    df = spark.createDataFrame(rows, "id LONG, v INT")
    t.commit_write(df, mode="overwrite", stats_cols=["id"])
    deleted, _ = t.delete_where(spark, predicate="v < 10")
    # NULL v does not match the delete -> row 2 kept
    assert deleted == 2
    assert {r["id"] for r in t.read(spark).collect()} == {2, 3}


def test_delete_where_no_match_commits_nothing(spark, tmp_path):
    t = IceTable(str(tmp_path / "del3"))
    t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])
    n_snaps = len(t.snapshots())
    deleted, rep = t.delete_where(spark, ranges={"id": (1000, 2000)})
    assert deleted == 0 and rep["files_rewritten"] == 0
    deleted, rep = t.delete_where(spark, predicate="val < 0")
    assert deleted == 0  # files overlap but no rows match
    assert len(t.snapshots()) == n_snaps  # no empty delete snapshots


def test_delete_where_detects_concurrent_commit(spark, tmp_path, monkeypatch):
    import pytest

    t = IceTable(str(tmp_path / "del4"))
    t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])
    orig_lock = t._commit_lock

    def racing_lock(*a, **kw):
        # another writer lands an append just before our delete commits
        monkeypatch.setattr(t, "_commit_lock", orig_lock)
        t.commit_write(_mk(spark, 100, 110), mode="append", stats_cols=["id"])
        return orig_lock(*a, **kw)

    monkeypatch.setattr(t, "_commit_lock", racing_lock)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t.delete_where(spark, ranges={"id": (0, 10)})
    # table intact: the racing append is visible, nothing lost
    assert t.read(spark).count() == 110


def test_delete_then_rollback_restores(spark, tmp_path):
    t = IceTable(str(tmp_path / "del5"))
    s1 = t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])
    t.delete_where(spark, ranges={"id": (0, 49)})
    assert t.read(spark).count() == 50
    t.rollback(s1)
    assert t.read(spark).count() == 100


def test_upsert_single_atomic_snapshot(spark, tmp_path):
    """MERGE: same-key rows replaced, new keys appended, ONE snapshot,
    file skipping on the batch's key range."""
    t = IceTable(str(tmp_path / "up1"))
    base = (
        spark.range(0, 400)
        .select(F.col("id"), (F.col("id") * 2).alias("val"))
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    s1 = t.commit_write(base, mode="overwrite", stats_cols=["id"])
    # batch: keys 90-109 straddle two of the four range files; the
    # other two files fall outside [90, 109] and must not rewrite
    batch = spark.createDataFrame(
        [(i, i * 1000) for i in range(90, 110)] + [(405, 405000)],
        "id LONG, val LONG",
    )
    replaced, rep = t.upsert(batch, "id")
    assert replaced == 20
    assert len(t.snapshots()) == 2  # one atomic snapshot
    assert t.snapshots()[-1]["operation"] == "upsert"
    got = t.read(spark)
    assert got.count() == 401
    assert got.where("id = 95").first()["val"] == 95000  # replaced
    assert got.where("id = 10").first()["val"] == 20     # untouched
    assert got.where("id = 405").first()["val"] == 405000  # appended
    assert got.select("id").distinct().count() == 401
    # pre-upsert snapshot time-travels
    assert t.read(spark, snapshot_id=s1).where("id = 95").first()["val"] == 190
    # second upsert with a TIGHT key range: only the one overlapping
    # range file rewrites, the rest skip via manifest key stats
    replaced2, rep2 = t.upsert(
        spark.createDataFrame([(250, 9)], "id LONG, val LONG"), "id"
    )
    assert replaced2 == 1 and rep2["files_skipped"] > 0


def test_upsert_all_new_keys_appends(spark, tmp_path):
    t = IceTable(str(tmp_path / "up2"))
    t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])
    batch = spark.createDataFrame([(500, 1)], "id LONG, val LONG")
    replaced, rep = t.upsert(batch, "id")
    assert replaced == 0
    assert rep["files_skipped"] == rep["files_total"]  # disjoint key range
    assert t.read(spark).count() == 101


def test_upsert_detects_concurrent_commit(spark, tmp_path, monkeypatch):
    import pytest

    t = IceTable(str(tmp_path / "up3"))
    t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])
    orig_lock = t._commit_lock

    def racing_lock(*a, **kw):
        monkeypatch.setattr(t, "_commit_lock", orig_lock)
        t.commit_write(_mk(spark, 100, 105), mode="append", stats_cols=["id"])
        return orig_lock(*a, **kw)

    monkeypatch.setattr(t, "_commit_lock", racing_lock)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t.upsert(spark.createDataFrame([(5, 9)], "id LONG, val LONG"), "id")
    assert t.read(spark).count() == 105


def test_occupancy_fold_incomplete_after_empty_file_delete(spark, tmp_path):
    """A delete snapshot whose rewritten files keep 0 rows has
    added_rows == 0, yet the removed rows are still counted in the
    ancestor occupancy deltas — merged_occupancy must flip
    complete=False for ANY delete/upsert in the chain, never report an
    overcount as complete."""
    from geowave_spark.sources.icetable import IceTable

    def pts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("pid"),
            ((F.col("id") * 7919) % 360_000_000 - 180_000_000).alias("x_u"),
            ((F.col("id") * 104729) % 360_000_000 - 180_000_000).alias("y_u"),
        )

    t = IceTable(str(tmp_path / "t"))
    t.commit_write(
        pts(0, 100), mode="append", stats_cols=["pid"],
        occupancy=(4, "x_u", "y_u"),
    )
    assert t.merged_occupancy()["complete"] is True
    # delete EVERY row: the rewritten file set is empty (added_rows 0),
    # the old "added_rows > 0" guard never fired here
    deleted, _ = t.delete_where(spark, ranges={"pid": (0, 99)})
    assert deleted == 100
    occ = t.merged_occupancy()
    assert occ["complete"] is False
    # a partial delete (added_rows > 0) is flagged too
    t2 = IceTable(str(tmp_path / "t2"))
    t2.commit_write(
        pts(0, 100), mode="append", stats_cols=["pid"],
        occupancy=(4, "x_u", "y_u"),
    )
    t2.delete_where(spark, ranges={"pid": (0, 10)})
    assert t2.merged_occupancy()["complete"] is False


def test_commit_maintained_sketches_match_on_demand(spark, tmp_path):
    """Field sketches folded from snapshot metadata must equal the
    on-demand computation (tests/oracles.field_sketches) over the live
    table — after a multi-snapshot append sequence AND after a
    rollback redirects the fold."""
    from oracles import field_sketches
    from geowave_spark.sources.icetable import (
        BF_K,
        BF_M,
        CMS_DEPTH,
        CMS_WIDTH,
        IceTable,
    )

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("rid"), (F.col("id") % 37).alias("uid")
        )

    t = IceTable(str(tmp_path / "t"))
    sids = []
    for lo, hi in [(0, 400), (400, 700), (700, 1000)]:
        sids.append(
            t.commit_write(batch(lo, hi), mode="append", sketch_cols=["uid"])
        )

    def on_demand(df):
        cms, bf = field_sketches(
            df, "uid", width=CMS_WIDTH, depth=CMS_DEPTH, m=BF_M, k=BF_K
        )
        return cms._t, bf._bits

    m = t.merged_field_sketches("uid")
    assert m["complete"] is True
    exp_cms, exp_bits = on_demand(batch(0, 1000))
    assert m["cms"] == exp_cms
    assert m["bloom"] == exp_bits
    # HLL registers: max rho per register over the full table equals
    # the fold of per-commit maxima (recompute expectation directly)
    import hashlib

    regs: dict[int, int] = {}
    for uid in range(37):
        h = int(hashlib.md5(f"hll:{uid}".encode()).hexdigest()[:15], 16)
        w = h // 256
        rho = 53 - w.bit_length() if w > 0 else 53
        r = h % 256
        regs[r] = max(regs.get(r, 0), rho)
    assert m["hll"] == regs

    # rollback to the 2-append state: the fold follows the redirect
    t.rollback(sids[1])
    m2 = t.merged_field_sketches("uid")
    exp_cms2, exp_bits2 = on_demand(batch(0, 700))
    assert m2["complete"] is True
    assert m2["cms"] == exp_cms2 and m2["bloom"] == exp_bits2

    # a delete makes the fold incomplete (sketches cannot subtract)
    t.delete_where(spark, predicate="rid < 100")
    assert t.merged_field_sketches("uid")["complete"] is False


def test_delete_keys_copy_on_write(spark, tmp_path):
    """delete_keys (the durable query-then-delete form): key-range
    manifest pruning, anti-join rewrite, one atomic delete snapshot,
    time travel intact."""
    t = IceTable(str(tmp_path / "delk"))
    df = (
        spark.range(0, 400)
        .select(F.col("id"), (F.col("id") * 2).alias("val"))
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    s1 = t.commit_write(df, mode="overwrite", stats_cols=["id"])
    keys = spark.createDataFrame([(60,), (61,), (70,)], "id LONG")
    deleted, rep = t.delete_keys(keys, "id")
    assert deleted == 3
    assert rep["files_rewritten"] < rep["files_total"]  # range pruning
    assert t.read(spark).count() == 397
    assert t.read(spark).where("id IN (60, 61, 70)").count() == 0
    assert t.read(spark, snapshot_id=s1).count() == 400
    assert t.snapshots()[-1]["operation"] == "delete"
    assert t.snapshots()[-1]["summary"]["deleted_rows"] == 3
    # empty key set and non-matching key set commit nothing
    n0 = len(t.snapshots())
    assert t.delete_keys(spark.createDataFrame([], "id LONG"), "id")[0] == 0
    assert t.delete_keys(spark.createDataFrame([(9999,)], "id LONG"), "id")[0] == 0
    assert len(t.snapshots()) == n0


def test_datastore_delete_durable_on_snapshot_type(spark, tmp_path):
    """The resurrection bug: DataStore.delete on a snapshot-backed type
    must write through to the store — a later snapshot refresh (e.g. a
    GWQL DELETE) must NOT bring the rows back, and an independent
    reader of the table must see them gone."""
    from geowave_spark.api import DataStore
    from geowave_spark.sources.testgeo import events_points

    ds = DataStore(spark)
    pts = events_points(spark, "/root/testdata/sf0.001")
    t = IceTable(str(tmp_path / "evd"))
    t.commit_write(pts, mode="overwrite", stats_cols=["event_id", "x_u", "y_u"])
    ds.add_snapshot_type("evd", t)
    total = pts.count()

    box = (-10_000_000, -10_000_000, 10_000_000, 10_000_000)
    n_box = ds.query("evd", bbox=box).count()
    assert n_box > 0
    deleted = ds.delete("evd", bbox=box, key="event_id")
    assert deleted == n_box

    # durable: a FRESH reader of the table sees the rows gone
    assert t.read(spark).count() == total - n_box
    # a later snapshot-routed GWQL DELETE refreshes the view from the
    # store — the bbox-deleted rows must stay gone (no resurrection)
    ds.gwql("DELETE FROM evd WHERE event_id = 1")
    x0, y0, x1, y1 = box
    still = ds.query("evd", bbox=box).count()
    assert still == 0
    assert ds.sql(
        f"SELECT count(*) AS n FROM evd"
    ).first()["n"] <= total - n_box


def test_sketch_columns_tolerate_nulls(spark, tmp_path):
    """Regression: a NULL in a sketch column hashed to a NULL bucket
    (md5(concat(p, NULL)) is NULL) and the driver-side int(None)
    aborted the whole commit — through the streaming sink that killed
    the query on the first null-bearing micro-batch. NULLs are not
    sketch elements: both the commit-maintained path and the on-demand
    twin skip them, and their sketches stay bit-identical."""
    from oracles import field_sketches
    from geowave_spark.sources.icetable import (
        BF_K,
        BF_M,
        CMS_DEPTH,
        CMS_WIDTH,
        IceTable,
    )

    def batch(lo, hi):
        # every 5th uid NULL
        return spark.range(lo, hi).select(
            F.col("id").alias("rid"),
            F.when(F.col("id") % 5 != 0, F.col("id") % 37).alias("uid"),
        )

    t = IceTable(str(tmp_path / "t"))
    t.commit_write(batch(0, 300), mode="append", sketch_cols=["uid"])
    t.commit_write(batch(300, 600), mode="append", sketch_cols=["uid"])

    m = t.merged_field_sketches("uid")
    assert m["complete"] is True
    cms, bf = field_sketches(
        batch(0, 600), "uid", width=CMS_WIDTH, depth=CMS_DEPTH, m=BF_M, k=BF_K
    )
    assert m["cms"] == cms._t
    assert m["bloom"] == bf._bits
    assert None not in bf._bits


# ----------------------------------------- crash between write and publish


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id LONG, val LONG")


# op -> (set-up, the write under test, live rows after it publishes);
# every table starts as ids 0..99 in four files with id stats
CRASH_OPS = {
    "append": (
        None,
        lambda spark, t: t.commit_write(_mk(spark, 100, 120), stats_cols=["id"]),
        120,
    ),
    "overwrite": (
        None,
        lambda spark, t: t.commit_write(_mk(spark, 0, 10), mode="overwrite"),
        10,
    ),
    "rollback": (
        lambda spark, t: t.commit_write(_mk(spark, 100, 110), stats_cols=["id"]),
        lambda spark, t: t.rollback(t.snapshots()[0]["id"]),
        100,
    ),
    "delete_where": (
        None,
        lambda spark, t: t.delete_where(spark, ranges={"id": (0, 9)}),
        90,
    ),
    "delete_keys_cow": (
        None,
        lambda spark, t: t.delete_keys(spark.range(0, 10), "id"),
        90,
    ),
    "delete_keys_mor": (
        None,
        lambda spark, t: t.delete_keys(spark.range(0, 10), "id", mode="mor"),
        90,
    ),
    "apply_deletes": (
        lambda spark, t: t.delete_keys(spark.range(0, 10), "id", mode="mor"),
        lambda spark, t: t.apply_deletes(spark),
        90,
    ),
    "upsert": (
        None,
        lambda spark, t: t.upsert(_batch(spark, [(5, 9), (500, 1)]), "id"),
        101,
    ),
    "compact": (
        None,
        lambda spark, t: t.compact(spark, sort_by=["id"], target_files=1),
        100,
    ),
}


@pytest.mark.parametrize("op", list(CRASH_OPS))
def test_crash_before_publish_leaves_table_intact(spark, tmp_path, monkeypatch, op):
    """Every writer shares one commit path, so one injected crash covers
    them all: the version-hint swap fails after the manifest and the
    metadata JSON are written. The table must still read its previous
    snapshot, hold no commit lock, accept a retry over the leftovers,
    and keep every live file through an orphan sweep."""
    from geowave_spark.sources import icetable

    setup, write, n_after = CRASH_OPS[op]
    t = IceTable(str(tmp_path / op))
    t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])
    if setup is not None:
        setup(spark, t)
    sid = t.current_snapshot_id()
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    real_replace = icetable.os.replace

    def crash(src, dst, *a, **kw):
        if os.path.basename(dst) == "version-hint.text":
            raise OSError("simulated crash before publish")
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(icetable.os, "replace", crash)
    with pytest.raises(OSError, match="simulated crash"):
        write(spark, t)
    monkeypatch.undo()

    assert t.current_snapshot_id() == sid
    assert sorted(tuple(r) for r in t.read(spark).collect()) == rows
    assert not os.path.exists(os.path.join(t.meta_dir, "commit.lock"))
    # the crash came after the manifest and metadata JSON were written
    assert os.path.exists(os.path.join(t.meta_dir, f"manifest-{sid + 1}.json"))
    assert os.path.exists(
        os.path.join(t.meta_dir, f"v{t._version() + 1}.metadata.json")
    )

    write(spark, t)  # the retry publishes over the leftovers
    assert t.current_snapshot_id() == sid + 1
    assert t.read(spark).count() == n_after
    live = {f["path"] for s in t.snapshots() for f in t._manifest(s["id"])}
    t.remove_orphans(older_than_s=0)
    assert all(os.path.exists(p) for p in live)
    assert t.read(spark).count() == n_after


def test_upsert_leaves_the_join_strategy_to_aqe(spark, tmp_path, monkeypatch):
    """An upsert's key set is as large as its batch, which is unbounded:
    a broadcast hint would force all of it through the driver. Like
    delete_keys, upsert lets AQE choose between broadcast and shuffle."""
    t = IceTable(str(tmp_path / "upb"))
    t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])

    def no_broadcast(df):
        raise AssertionError("upsert hinted a broadcast of its key set")

    monkeypatch.setattr(F, "broadcast", no_broadcast)
    replaced, rep = t.upsert(_batch(spark, [(5, 9), (500, 1)]), "id")
    monkeypatch.undo()
    assert replaced == 1 and rep["files_rewritten"] >= 1
    assert t.read(spark).count() == 101
    assert t.read(spark).where("id = 5").first()["val"] == 9


# ----------------------------------------------- schema-pinned reads


def _jobs_in(spark, group, action):
    """Spark jobs ``action`` starts, counted through the status tracker
    under a job group of its own. A schema-inferring read runs after it
    and must show up first: the tracker is fed asynchronously, in job
    order, so once the later job is visible the earlier ones are too."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
        sc.setJobGroup(group + "-probe", group)
        spark.read.parquet(*[f["path"] for f in out]).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(group + "-probe"):
            break
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(group + "-probe"), "inference ran no job"
    return len(tracker.getJobIdsForGroup(group))


def test_read_of_a_committed_table_starts_no_spark_job(spark, tmp_path):
    t = IceTable(str(tmp_path / "pin"))
    t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])
    frames = []

    def read():
        frames.append(t.read(spark))
        frames.append(t.scan(spark, {"id": (10, 20)})[0])
        return t.files()

    assert _jobs_in(spark, "pinned-read", read) == 0
    assert frames[0].count() == 100 and frames[1].count() == 11


def _overwrite_new_columns(spark, t):
    t.commit_write(
        spark.range(5).select(F.col("id").cast("int").alias("k"), F.lit("x").alias("s")),
        mode="overwrite",
    )


def _all_types(spark, t):
    from decimal import Decimal

    t.commit_write(
        spark.range(4).select(
            F.col("id"),
            F.encode(F.col("id").cast("string"), "utf-8").alias("bin"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            F.to_date(F.lit("2024-02-29")).alias("day"),
            F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
            F.struct(F.col("id").alias("a"), F.lit("b").alias("b")).alias("st"),
            F.create_map(F.lit("k"), F.col("id")).alias("m"),
            F.lit(None).cast("string").alias("null_s"),
            F.lit(Decimal("2.25")).alias("dec"),
        ),
        mode="overwrite",
    )


# name -> (the writes after the base table of ids 0..99, the snapshot to
# read: None = current, else an index into snapshots(), whether that
# snapshot's files share one recorded schema)
SCHEMA_CASES = {
    "append": (
        lambda spark, t: t.commit_write(_mk(spark, 100, 120), stats_cols=["id"]),
        None,
        True,
    ),
    "append_other_schema": (
        lambda spark, t: t.commit_write(
            _mk(spark, 100, 120).withColumn("extra", F.lit("e")), stats_cols=["id"]
        ),
        None,
        False,
    ),
    "overwrite_other_columns": (_overwrite_new_columns, None, True),
    "delete_where": (
        lambda spark, t: t.delete_where(spark, ranges={"id": (0, 9)}),
        None,
        True,
    ),
    "delete_keys_cow": (
        lambda spark, t: t.delete_keys(spark.range(0, 10), "id"),
        None,
        True,
    ),
    "delete_keys_mor": (
        lambda spark, t: t.delete_keys(spark.range(0, 10), "id", mode="mor"),
        None,
        True,
    ),
    "apply_deletes": (
        lambda spark, t: (
            t.delete_keys(spark.range(0, 10), "id", mode="mor"),
            t.apply_deletes(spark),
        ),
        None,
        True,
    ),
    "upsert": (
        lambda spark, t: t.upsert(_batch(spark, [(5, 9), (500, 1)]), "id"),
        None,
        True,
    ),
    "compact": (
        lambda spark, t: t.compact(spark, sort_by=["id"], target_files=1),
        None,
        True,
    ),
    "rollback": (
        lambda spark, t: (_overwrite_new_columns(spark, t), t.rollback(t.snapshots()[0]["id"])),
        None,
        True,
    ),
    "time_travel_before_overwrite": (_overwrite_new_columns, 0, True),
    "all_types": (_all_types, None, True),
}


@pytest.mark.parametrize("case", list(SCHEMA_CASES))
def test_pinned_read_matches_schema_inference(spark, tmp_path, monkeypatch, case):
    """After every kind of write, the read under the recorded schema has
    the schema Spark infers from the files and the rows of the
    inferring read."""
    from geowave_spark.sources import icetable

    write, at, uniform = SCHEMA_CASES[case]
    t = IceTable(str(tmp_path / case))
    t.commit_write(_mk(spark, 0, 100), mode="overwrite", stats_cols=["id"])
    write(spark, t)
    snap = t.snapshots()[at] if at is not None else t.snapshots()[-1]
    assert ("schema_id" in snap) == uniform
    pinned = t.read(spark, snapshot_id=snap["id"])
    paths = [f["path"] for f in t.files(snap["id"])]
    assert pinned.schema == spark.read.parquet(*paths).schema

    real = icetable._read_parquet

    def inferring(spark, entries, schemas):
        return real(spark, [{"path": e["path"]} for e in entries], schemas)

    monkeypatch.setattr(icetable, "_read_parquet", inferring)
    inferred = t.read(spark, snapshot_id=snap["id"])
    monkeypatch.undo()
    assert pinned.schema == inferred.schema
    assert sorted(map(str, pinned.collect())) == sorted(map(str, inferred.collect()))


def test_table_without_recorded_schemas_reads_by_inference(spark, tmp_path):
    """Tables committed before schemas were recorded carry no
    ``schemas`` list and no ``schema_id``: they still read, through
    schema inference."""
    import json

    t = IceTable(str(tmp_path / "legacy"))
    t.commit_write(_mk(spark, 0, 50), mode="overwrite", stats_cols=["id"])
    t.delete_keys(spark.range(0, 5), "id", mode="mor")
    for name in os.listdir(t.meta_dir):
        path = os.path.join(t.meta_dir, name)
        if not name.endswith(".json"):
            continue
        doc = json.load(open(path))
        if name.startswith("manifest-"):
            for e in doc:
                e.pop("schema_id")
        else:
            doc.pop("schemas")
            for s in doc["snapshots"]:
                s.pop("schema_id")
        with open(path, "w") as f:
            json.dump(doc, f)
    assert _jobs_in(spark, "legacy-read", lambda: (t.read(spark), t.files())[1]) > 0
    got = t.read(spark)
    assert got.schema == spark.read.parquet(*[f["path"] for f in t.files()]).schema
    assert sorted(r["id"] for r in got.collect()) == list(range(5, 50))
