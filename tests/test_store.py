"""Stored-key index paths (plans/store.py): the materialization cache,
the attribute index layout and the index-choice rule."""

from __future__ import annotations

import contextlib
import os
from io import StringIO

from pyspark.sql import functions as F


def test_materialize_lost_race_removes_its_temp_dir(spark, monkeypatch, tmp_path):
    """A writer whose rename loses to a concurrent writer's identical
    copy removes its temp dir and reads the winner's copy."""
    from geowave_spark.plans import store as S

    monkeypatch.setattr(S, "CACHE_ROOT", str(tmp_path))

    def lose_race(src, dst):
        S.shutil.copytree(src, dst)  # the concurrent writer lands first
        raise OSError("destination exists")

    monkeypatch.setattr(S.os, "rename", lose_race)
    df = S._materialize(spark, "race", "k", lambda: spark.range(5))
    monkeypatch.undo()
    names = os.listdir(tmp_path)
    assert len(names) == 1 and ".tmp" not in names[0]
    assert sorted(r.id for r in df.collect()) == list(range(5))


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

