"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() twin at a scale
factor, compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

# the checkout this script lives in, for the driver and (through the
# environment Spark passes on) its Python workers; PYTHONSAFEPATH keeps
# a worker's working directory, maybe another checkout, off its path
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
os.environ["PYTHONSAFEPATH"] = "1"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # canonicalize value representation (floats -> repr, ts -> iso)
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: repr(v))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            failures += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows-only) — {len(got)} rows, {time.time()-t0:.1f}s")
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            failures += 1
            continue
        msgs = []
        if sorted(got.columns) != sorted(exp.columns):
            msgs.append(f"cols {sorted(got.columns)} vs {sorted(exp.columns)}")
        if len(got) != len(exp):
            msgs.append(f"rows {len(got)} vs {len(exp)}")
        if not msgs:
            g, x = norm(got), norm(exp)
            if not g.equals(x):
                diff = pd.concat([g, x]).drop_duplicates(keep=False)
                msgs.append(f"values differ; sample:\n{diff.head(6)}")
        if msgs:
            print(f"FAIL {name}: " + "; ".join(msgs))
            failures += 1
        else:
            print(f"OK   {name}: {len(got)} rows, {time.time()-t0:.1f}s")
    print("failures:", failures)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
