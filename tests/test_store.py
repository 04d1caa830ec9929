"""Stored-key index paths (plans/store.py): the build-once table cache,
the attribute index layout and the index-choice rule."""

from __future__ import annotations

import contextlib
import os
from io import StringIO

import pytest
from pyspark.sql import functions as F


def _jobs(spark, fn, group):
    """(result of ``fn()``, number of Spark jobs it started)."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc.setJobGroup(group + "-probe", group)  # events arrive in order
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(group + "-probe"):
            break
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name", ["ice_incremental", "gwql_stats_agg", "stats_sketch_commit", "ice_stream_ingest"]
)
def test_killed_fixture_build_resumes_on_the_next_call(
    spark, sf_dir, monkeypatch, tmp_path, name
):
    """A multi-commit fixture build killed between its commits (here:
    the second commit fails) is finished by the next call, which then
    returns the rows of a clean build — the even/odd two-append store,
    the 3-batch statistics store and the streamed store. Treating "any
    snapshot" as built returned 0 rows for ice_incremental forever."""
    import __spark_entry__ as e
    from geowave_spark.plans import store as S
    from geowave_spark.sources.icetable import IceTable

    query = getattr(e, f"_q_{name}")
    monkeypatch.setattr(S, "CACHE_ROOT", str(tmp_path / "clean"))
    want = sorted(query(spark, sf_dir).collect())

    monkeypatch.setattr(S, "CACHE_ROOT", str(tmp_path / "killed"))
    commit_write, calls = IceTable.commit_write, []

    def killed_at_second_commit(self, *a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("simulated kill between commits")
        return commit_write(self, *a, **k)

    monkeypatch.setattr(IceTable, "commit_write", killed_at_second_commit)
    with pytest.raises(Exception):
        query(spark, sf_dir).collect()
    monkeypatch.setattr(IceTable, "commit_write", commit_write)

    assert len(want) > 0
    assert sorted(query(spark, sf_dir).collect()) == want
    assert sorted(query(spark, sf_dir).collect()) == want  # built: no re-commit


def test_cached_layout_is_built_once_and_read_without_a_job(spark, sf_dir, monkeypatch, tmp_path):
    """A stored layout is one batch-tagged commit with footer stats on
    its sort column; a later call reads it back under the recorded
    schema, so it starts no Spark job and commits nothing."""
    from geowave_spark.plans import store as S

    monkeypatch.setattr(S, "CACHE_ROOT", str(tmp_path / "cache"))
    first = S.reverse_text_store(spark, sf_dir)
    (t_dir,) = os.listdir(tmp_path / "cache")
    assert t_dir.startswith("revtext_")
    t = S.cached_table("revtext", sf_dir, [])
    assert [s["summary"] for s in t.snapshots()] == [{"batch": 0}]
    assert {c for f in t.files() for c in f["stats"]} == {"rtext"}

    again, n_jobs = _jobs(spark, lambda: S.reverse_text_store(spark, sf_dir), "layout-read")
    assert n_jobs == 0
    assert len(t.snapshots()) == 1
    assert again.schema == first.schema
    assert again.count() == first.count() > 0


def test_a_build_removes_only_the_stale_cache_dirs_of_its_tag(
    spark, sf_dir, monkeypatch, tmp_path
):
    """A cache dir is named ``<tag>_<version>_<digest>``. Building a
    table removes the dirs of its tag that another cache version wrote
    or that carry no version (the older ``<tag>_<digest>`` form), and
    keeps a same-version dir of another key and the dirs of other tags:
    one this tag prefixes, the formats fixture and the scaled gdelt
    copies."""
    from geowave_spark.plans import store as S

    root = tmp_path / "cache"
    monkeypatch.setattr(S, "CACHE_ROOT", str(root))
    stale = ["revtext_0123456789ab", "revtext_ice0_0123456789ab"]
    kept = [
        f"revtext_{S.CACHE_VERSION}_0123456789ab",
        "revtext_extra_0123456789ab",
        "formats_0123456789ab",
        "gdelt_scaled_sf0.01_0",
    ]
    for name in stale + kept:
        (root / name / "metadata").mkdir(parents=True)
    S.reverse_text_store(spark, sf_dir)
    built = os.path.basename(S.cache_path("revtext", sf_dir))
    assert built.startswith(f"revtext_{S.CACHE_VERSION}_")
    assert sorted(os.listdir(root)) == sorted(kept + [built])


def test_attribute_index_store_and_range_query(spark, sf_dir, monkeypatch, tmp_path):
    """AttributeIndex analog: a non-spatial column backs a sorted
    stored layout; the range predicate reaches PushedFilters and the
    scan matches a plain filter of the raw table exactly."""
    from geowave_spark.plans import store as S

    monkeypatch.setattr(S, "CACHE_ROOT", str(tmp_path / "cache"))
    stored = S.attr_store(spark, sf_dir, "user_id")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi = events.agg(F.min("user_id"), F.max("user_id")).first()
    lo, hi = int(lo), int(lo + max((hi - lo) // 4, 1))
    got = S.attr_range_query(stored, "user_id", lo, hi)

    raw = events.where(F.col("user_id").between(lo, hi))
    assert got.count() == raw.count() > 0
    assert {r.event_id for r in got.select("event_id").collect()} == {
        r.event_id for r in raw.select("event_id").collect()
    }

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "user_id" in plan

