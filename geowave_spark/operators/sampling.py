"""Deterministic corpus sampling — mixture control for training data.

Web-scale training pipelines shape their data mixture with
primitives that are DETERMINISTIC functions of the row id (no RNG
state, no sampling seed to ship; re-running any shard reproduces
bit-identical output — the property that makes resumable /
incremental pipelines and cross-run A/B diffs possible at 100 TB):

- ``source_quota``: per-source (per-domain) cap — rank rows within
  each source by salted hash and keep the first ``per_source``. This
  is the C4/RefinedWeb-style domain balancing step that stops a
  handful of giant domains from dominating the mixture; ranking by
  hash (not by id) makes the kept subset an unbiased uniform draw
  per domain.

Scale shape: ``source_quota`` is one hash-partitioned window by source
— the same single shuffle a groupBy would need; skewed giant domains
are exactly the rows the quota discards, and the window's rank short-
circuits via ``WindowGroupLimit`` (Spark pushes rank <= k into the
sort) so a 10⁹-row domain never materializes a full sorted partition
to keep k rows of it.

The salted hash is the engine's portable ``md5``-prefix h64
(operators/dedup._h64), so the DuckDB oracle reproduces every draw
bit-for-bit.

Reference scope note: the reference's analytic sampling surface is
random-forest/row sampling inside its analytics runners
(analytics/api/.../RandomSamplingRankFunction and
CentroidDistanceBasedSamplingFunction under analytics/); this module
is the LLM-pipeline generalization the brief's training-data section
calls for rather than a parity port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geowave_spark.operators.dedup import _h64


def sample_key(id_col, salt: int = 7):
    """The deterministic draw: salted 64-bit hash of the row id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return _h64(c.cast("string"), salt)


def source_quota(
    df: DataFrame,
    per_source: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: int = 7,
) -> DataFrame:
    """Cap every source at ``per_source`` rows, keeping a uniform
    hash-ranked draw per source (ties broken by id — total order, so
    the kept set is unique). Adds ``rk`` (1-based rank within the
    source's draw order) to the surviving rows."""
    if per_source < 1:
        raise ValueError(f"per_source must be >= 1: {per_source}")
    w = Window.partitionBy(source_col).orderBy(
        sample_key(id_col, salt).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= per_source)
    )


def source_quota_sql(
    table: str,
    per_source: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: int = 7,
    select_cols: str = "*",
) -> str:
    """DuckDB twin of ``source_quota`` (same md5-prefix draw)."""
    h = (
        f"CAST(concat('0x', substr(md5(concat('s{salt}:', "
        f"CAST({id_col} AS VARCHAR))), 1, 15)) AS BIGINT)"
    )
    return (
        f"SELECT * FROM (SELECT {select_cols}, row_number() OVER "
        f"(PARTITION BY {source_col} ORDER BY {h} ASC, {id_col} ASC) AS rk "
        f"FROM {table}) WHERE rk <= {per_source}"
    )


def dataset_split(
    df: DataFrame,
    bounds_x1000: tuple[int, ...] = (900, 950),
    names: tuple[str, ...] = ("train", "val", "test"),
    id_col: str = "doc_id",
    salt: int = 11,
) -> DataFrame:
    """Deterministic train/val/test assignment by salted id hash —
    the split is a pure function of the row id, so any shard, any
    re-run, and any incremental append lands every row in the same
    split (the property that keeps eval sets stable while the corpus
    grows). ``bounds_x1000`` are cumulative per-mille cut points:
    the default (900, 950) is a 90/5/5 split.

    Scale shape: one codegen projection (md5 + CASE), no shuffle; a
    downstream ``WHERE split = 'train'`` stays a narrow filter.
    """
    if (
        len(bounds_x1000) != len(names) - 1
        # strictly increasing: a duplicated cut point (900, 900) would
        # pass a non-strict sort check and silently yield a permanently
        # empty middle split instead of an error
        or any(a >= b for a, b in zip(bounds_x1000, bounds_x1000[1:]))
        or any(not 0 <= b <= 1000 for b in bounds_x1000)
    ):
        raise ValueError(f"bad split spec: {bounds_x1000=} {names=}")
    b = F.pmod(sample_key(id_col, salt), F.lit(1000))
    expr = F.lit(names[-1])
    for bound, name in zip(reversed(bounds_x1000), reversed(names[:-1])):
        expr = F.when(b < bound, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def dataset_split_sql(
    table: str,
    bounds_x1000: tuple[int, ...] = (900, 950),
    names: tuple[str, ...] = ("train", "val", "test"),
    id_col: str = "doc_id",
    salt: int = 11,
    select_cols: str = "*",
) -> str:
    """DuckDB twin of ``dataset_split`` (same md5-prefix draw)."""
    h = (
        f"CAST(concat('0x', substr(md5(concat('s{salt}:', "
        f"CAST({id_col} AS VARCHAR))), 1, 15)) AS BIGINT) % 1000"
    )
    case = "CASE " + " ".join(
        f"WHEN {h} < {bound} THEN '{name}'"
        for bound, name in zip(bounds_x1000, names[:-1])
    ) + f" ELSE '{names[-1]}' END"
    return f"SELECT {select_cols}, {case} AS split FROM {table}"
