"""Resumable stage checkpoints + per-partition lineage/metrics.

North-rule requirement: "every stage checkpoints per-partition lineage
and metrics ... so a killed job resumes without recomputing completed
partitions". ``IceStageStore`` keeps one snapshot table
(sources/icetable.py) per stage:

  stage output  -> <root>/<stage>/, one append snapshot per partition
  lineage row   -> that snapshot's summary (part_key, fingerprint,
                   wall_ms) plus its added_rows / added_paths

``run_stage`` skips partitions with a committed snapshot under the
current input fingerprint — the resume path. A partition is visible
only once its snapshot publishes, so a killed job never leaves a
partial one behind.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class IceStageStore:
    """Stage checkpoints on the snapshot table format (sources/icetable.py)
    — the north rule's "checkpoints per-partition lineage and metrics to
    Iceberg" stated directly in table-format terms:

    - one IceTable per stage; each completed partition is ONE atomic
      append snapshot whose summary carries the lineage row (part_key,
      fingerprint, wall_ms, rows). A job killed mid-partition leaves at
      most orphan data files that no snapshot references — readers and
      the resume scan never see a partial partition.
    - resume = replay the snapshot log: partitions with a committed
      snapshot under the current input fingerprint are skipped; the
      stage output is just ``table.read()`` at the final snapshot.
    - metrics = the snapshot summaries (no sidecar files to drift out
      of sync with the data — the lineage IS the commit).

    Reference parity: GeoWave resumes ingest/analytics via
    GeoWaveOutputFormat's per-task commit (core/mapreduce/.../output/
    GeoWaveOutputFormat.java) — here the task commit is a snapshot.
    """

    def __init__(self, root: str):
        self.root = root

    def _table(self, stage: str):
        from geowave_spark.sources.icetable import IceTable

        return IceTable(os.path.join(self.root, stage))

    def completed_keys(self, stage: str, fingerprint: str) -> set:
        t = self._table(stage)
        done = set()
        for s in t.snapshots():
            sm = s.get("summary") or {}
            if sm.get("fingerprint") == fingerprint and "part_key" in sm:
                done.add(sm["part_key"])
        return done

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        part_keys: list,
        make_partition,  # (part_key) -> DataFrame
        fingerprint: str,
        stats_cols: list | None = None,
    ) -> DataFrame:
        t = self._table(stage)
        done = self.completed_keys(stage, fingerprint)
        for k in part_keys:
            if k in done:
                continue
            t0 = time.time()
            df = make_partition(k).withColumn("part_key", F.lit(k))
            # summary as a CALLABLE: commit_write evaluates it after
            # the parquet write has executed the lazy partition frame,
            # so wall_ms records the partition's real cost — an eager
            # dict here froze the clock before any work ran and every
            # lineage row read ~0 ms
            t.commit_write(
                df,
                mode="append",
                stats_cols=stats_cols,
                summary=lambda k=k, t0=t0: {
                    "part_key": k,
                    "fingerprint": fingerprint,
                    "wall_ms": int((time.time() - t0) * 1000),
                },
            )
        return self.read_parts(spark, stage, fingerprint, part_keys)

    def _part_files(self, t, fingerprint: str, part_keys: list) -> list[dict]:
        """Data files of exactly the partitions committed under THIS
        fingerprint (a changed input invalidates prior snapshots without
        deleting them — they stay time-travelable): each append snapshot
        entry records the data files it added, so the matching file set
        is reconstructible from the snapshot log alone. Each file comes
        as a {path, schema_id} entry carrying its snapshot's schema."""
        want = set(part_keys)
        live = {f["path"] for f in t.files()}

        def added(s: dict) -> list:
            # Snapshots committed before the `added_paths` field existed
            # (pre-round-3 stage stores) still resolve: the per-snapshot
            # manifest is the FULL file set at that snapshot, so added
            # files = manifest(id) − manifest(parent). Without this, a
            # resume over an old store would silently drop those
            # partitions (or read zero paths and error) even though
            # completed_keys marks them done.
            if "added_paths" in s:
                return s["added_paths"]
            here = {f["path"] for f in t.files(s["id"])}
            parent = s.get("parent")
            prev = {f["path"] for f in t.files(parent)} if parent else set()
            return sorted(here - prev)

        return [
            {"path": p, "schema_id": s.get("schema_id")}
            for s in t.snapshots()
            if (s.get("summary") or {}).get("fingerprint") == fingerprint
            and (s.get("summary") or {}).get("part_key") in want
            for p in added(s)
            if p in live
        ]

    def read_parts(
        self, spark: SparkSession, stage: str, fingerprint: str, part_keys: list
    ) -> DataFrame:
        """Fingerprint-scoped partition read — mid-stage consumers (e.g.
        a pyramid level deriving from its parent level) MUST use this
        rather than a raw table read: on a reused store root the raw
        read returns every live generation's rows, silently mixing
        stale-fingerprint data into the derivation."""
        from geowave_spark.sources.icetable import _read_parquet

        t = self._table(stage)
        files = self._part_files(t, fingerprint, part_keys)
        if not files:
            # zero-path spark.read.parquet raises an opaque schema-
            # inference error that points nowhere near the real cause
            raise ValueError(
                f"stage {stage!r}: no data files committed under "
                f"fingerprint {fingerprint!r} for part_keys {list(part_keys)!r} "
                f"(producer not run, wrong fingerprint, or files expired)"
            )
        return _read_parquet(spark, files, t._schemas())

    def metrics(self, stage: str):
        out = []
        for s in self._table(stage).snapshots():
            sm = dict(s.get("summary") or {})
            if "part_key" not in sm:
                continue
            sm["n_rows"] = s["added_rows"]
            sm["snapshot_id"] = s["id"]
            sm["ts"] = s["ts"]
            out.append(sm)
        return out
