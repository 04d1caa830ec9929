"""Deterministic sampling operators (operators/sampling.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from geowave_spark.operators.sampling import source_quota, source_quota_sql


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_source_quota_caps_each_source(docs):
    out = source_quota(docs, 15).cache()
    per = out.groupBy("source").count().collect()
    assert all(r["count"] == 15 for r in per)  # every fixture source has >= 15
    assert out.where((F.col("rk") < 1) | (F.col("rk") > 15)).count() == 0
    out.unpersist()


def test_source_quota_matches_duckdb_twin(docs, sf_dir):
    got = {
        (r["doc_id"], r["rk"])
        for r in source_quota(docs, 10).select("doc_id", "rk").collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    exp = {
        (a, b)
        for a, b in con.sql(
            "SELECT doc_id, rk FROM ("
            + source_quota_sql("documents", 10)
            + ")"
        ).fetchall()
    }
    assert got == exp and len(got) > 0


def test_bad_args_raise(docs):
    with pytest.raises(ValueError):
        source_quota(docs, 0)


# ------------------------------------------------ dataset_split


def test_dataset_split_deterministic_and_partitioned(docs):
    from geowave_spark.operators.sampling import dataset_split

    out = dataset_split(docs).select("doc_id", "split").cache()
    n = docs.count()
    assert out.count() == n  # every row gets exactly one split
    by = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(by) == {"train", "val", "test"}
    assert by["train"] > by["val"] and by["train"] > by["test"]
    assert abs(by["train"] / n - 0.9) < 0.06  # hash-uniform at 500 rows
    # pure function of the id: re-run reproduces the identical labels
    a = dict(out.collect())
    b = dict(dataset_split(docs).select("doc_id", "split").collect())
    assert a == b
    out.unpersist()


def test_dataset_split_is_pure_projection(docs):
    from geowave_spark.operators.sampling import dataset_split

    plan = dataset_split(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle: one codegen projection


def test_dataset_split_stable_under_append(spark, docs):
    """Eval-set stability: adding rows never moves an existing row's
    split (the split is a pure per-row hash, not rank-based)."""
    from geowave_spark.operators.sampling import dataset_split

    half = docs.where(F.col("doc_id") % 2 == 0)
    a = dict(dataset_split(half).select("doc_id", "split").collect())
    full = dict(dataset_split(docs).select("doc_id", "split").collect())
    assert all(full[k] == v for k, v in a.items())


def test_dataset_split_matches_duckdb_twin(docs, sf_dir):
    from geowave_spark.operators.sampling import dataset_split, dataset_split_sql

    got = dict(dataset_split(docs).select("doc_id", "split").collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    exp = dict(
        con.sql(
            "SELECT doc_id, split FROM ("
            + dataset_split_sql("documents")
            + ")"
        ).fetchall()
    )
    assert got == exp and len(got) > 0


def test_dataset_split_bad_spec_raises(docs):
    from geowave_spark.operators.sampling import dataset_split

    with pytest.raises(ValueError):
        dataset_split(docs, bounds_x1000=(900,), names=("a", "b", "c"))
    with pytest.raises(ValueError):
        dataset_split(docs, bounds_x1000=(950, 900), names=("a", "b", "c"))
    with pytest.raises(ValueError):
        dataset_split(docs, bounds_x1000=(900, 1100), names=("a", "b", "c"))
    # duplicate cut points pass a non-strict sort check but make the
    # middle split permanently empty — must raise, not silently degrade
    with pytest.raises(ValueError):
        dataset_split(docs, bounds_x1000=(900, 900), names=("a", "b", "c"))
