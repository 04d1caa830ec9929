"""Write-time index materialization — the stored-key query paths.

The reference computes insertion ids at WRITE time and scans stored
key ranges at query time; the engine's equivalent is a parquet table
carrying the key columns, laid out sorted by the key so the coarse
constraint prunes at the parquet row-group level (PushedFilters +
min/max stats), instead of re-deriving the key expressions per query
(which is correct but pays plan-compile + full-scan cost every run —
the round-1 xz_extent pathology).

Three stores:

- XZ extent store: (res, ax, ay) per extent, sorted — the
  XZHierarchicalIndexStrategy storage layout (index/xz.py docstring);
- spatial-temporal composite store: (bin, cell, st_cell) per point,
  sorted by (bin, cell) ≡ the composite key order — the
  SpatialTemporalDimensionalityTypeProvider layout
  (core/geotime/.../index/SpatialTemporalDimensionalityTypeProvider.java:207-245,
  TemporalBinningStrategy.java:36-43: the periodic bin leads the key);
- Hilbert point store: hkey per point, sorted — Hilbert as a live
  index option (the reference's default point curve,
  SpatialDimensionalityTypeProvider.java:45-46), queried via
  HilbertSFC.decomposeRange-style range decomposition
  (index/hilbert.hilbert_ranges).

Materialization is cached per (store, source, params) under a local
cache root — the sandbox stand-in for the real write path, where these
columns are produced once at ingest (df.writeTo(iceberg)). Queries on
a cache-hit read ONLY the stored parquet.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

CACHE_ROOT = os.environ.get("GEOWAVE_SPARK_CACHE", "/tmp/geowave_spark_cache")


def _materialize(spark: SparkSession, tag: str, key: str, build) -> DataFrame:
    digest = hashlib.md5(f"{tag}:{key}".encode()).hexdigest()[:12]
    path = os.path.join(CACHE_ROOT, f"{tag}_{digest}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp{os.getpid()}"
        build().write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # a concurrent writer won the race; its copy is identical
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


# ------------------------------------------------------------- XZ extents


def xz_extent_store(spark: SparkSession, sf_dir: str, r_max: int = 12) -> DataFrame:
    """Customer extents with stored (res, ax, ay), range-partitioned and
    sorted by the key triple."""
    from geowave_spark.index.xz import xz_keys
    from geowave_spark.sources.testgeo import customer_boxes

    def build():
        return (
            xz_keys(customer_boxes(spark, sf_dir), r_max)
            .repartitionByRange(8, "res", "ax", "ay")
            .sortWithinPartitions("res", "ax", "ay")
        )

    return _materialize(spark, "xzkeys", f"{sf_dir}:{r_max}", build)


# ------------------------------------------- spatial-temporal composite


ST_RES = 8
ST_UNIT = "DAY"


def st_store(
    spark: SparkSession, sf_dir: str, res: int = ST_RES, unit: str = ST_UNIT
) -> DataFrame:
    """Event points with the composite key stored three ways: the packed
    st_cell plus its (bin, cell) components — identical ordering, and
    the component columns keep the scan predicate compact (bin BETWEEN
    + few cell ranges instead of bins×ranges composite BETWEENs)."""
    from geowave_spark.index.native import cell_col
    from geowave_spark.operators.temporal import time_bin_col
    from geowave_spark.sources.testgeo import events_points

    def build():
        pts = events_points(spark, sf_dir)
        return (
            pts.withColumn("bin", time_bin_col(F.col("ts"), unit).cast("long"))
            .withColumn("cell", cell_col(F.col("x_u"), F.col("y_u"), res))
            .withColumn(
                "st_cell",
                F.shiftleft(F.col("bin"), 2 * res).bitwiseOR(F.col("cell")),
            )
            .repartitionByRange(8, "bin", "cell")
            .sortWithinPartitions("bin", "cell")
        )

    return _materialize(spark, "ststore", f"{sf_dir}:{res}:{unit}", build)


def st_bbox_time_query(
    stored: DataFrame,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    t_lo: str,
    t_hi: str,
    res: int = ST_RES,
    max_ranges: int = 8,
) -> DataFrame:
    """bbox+interval query with BOTH constraint dimensions in the scan
    predicate (getQueryRanges over the ST composite,
    TieredSFCIndexStrategy.java:109-145 with per-bin range reuse):
    bin BETWEEN [day(t_lo), day(t_hi)] AND cell IN ≤max_ranges Morton
    ranges, then exact native refinement. Sargable on the stored
    (bin, cell) layout."""
    from datetime import date, datetime

    from geowave_spark.index.zorder import bbox_ranges
    from geowave_spark.operators.spatial_query import cell_range_predicate

    epoch = date(1970, 1, 1)
    b_lo = (datetime.fromisoformat(t_lo).date() - epoch).days
    # t_hi is exclusive; midnight belongs to the previous bin's end
    dt_hi = datetime.fromisoformat(t_hi)
    b_hi = (dt_hi.date() - epoch).days
    if dt_hi.time() == datetime.min.time():
        b_hi -= 1
    ranges = bbox_ranges(x_lo, y_lo, x_hi, y_hi, res, max_ranges)
    coarse = F.col("bin").between(b_lo, b_hi) & cell_range_predicate(
        F.col("cell"), ranges
    )
    return stored.where(coarse).where(
        F.col("x_u").between(x_lo, x_hi)
        & F.col("y_u").between(y_lo, y_hi)
        & (F.col("ts") >= F.lit(t_lo).cast("timestamp"))
        & (F.col("ts") < F.lit(t_hi).cast("timestamp"))
    )


# --------------------------------------------- interval (ranged-time) index


def interval_bin_bounds(start, end, unit: str = "DAY"):
    """(bin_lo, bin_hi) Columns for a half-open [start, end) interval:
    the inclusive range of periodic bins the interval touches. End
    exclusive — an interval ending exactly on a bin boundary does NOT
    occupy the next bin (TemporalBinningStrategy.getBinnedQueryRanges
    treats the bin edge the same way: binStart inclusive, binEnd
    exclusive). DAY unit only for now (the composite ST store's unit)."""
    from geowave_spark.operators.temporal import time_bin_col

    b_lo = time_bin_col(start, unit).cast("long")
    b_end = time_bin_col(end, unit).cast("long")
    on_edge = end.cast("date").cast("timestamp") == end
    if unit != "DAY":  # HOUR/WEEK/... boundary tests need their own edge rule
        raise ValueError(f"interval binning supports DAY only, got {unit!r}")
    b_hi = F.when(on_edge, b_end - 1).otherwise(b_end)
    return b_lo, b_hi


def interval_query_bin_bounds(t_lo: str, t_hi: str) -> tuple[int, int]:
    """Scalar (driver-side) twin of interval_bin_bounds for a query's
    [t_lo, t_hi) ISO timestamps — MUST implement the same half-open
    edge rule (end exactly at midnight belongs to the previous DAY
    bin) or stored bins and query bins desynchronize and boundary rows
    are silently missed. tests/test_interval_index.py pins the two in
    lockstep over a boundary grid; change BOTH or neither."""
    from datetime import datetime

    epoch = datetime(1970, 1, 1)
    b_lo = (datetime.fromisoformat(t_lo) - epoch).days
    dt_hi = datetime.fromisoformat(t_hi)
    b_hi = (dt_hi - epoch).days
    if dt_hi.time() == datetime.min.time():
        b_hi -= 1  # t_hi exclusive: midnight belongs to the previous bin
    return b_lo, b_hi


ST_IVAL_RES = 8


def st_interval_store(
    spark: SparkSession, sf_dir: str, res: int = ST_IVAL_RES
) -> DataFrame:
    """Interval-keyed spatial-temporal layout: each row is DUPLICATED
    into every DAY bin its [ts_start, ts_end) range spans — the
    reference's bin-spanning insertion for ranged-time fields
    (core/geotime/.../index/dimension/TemporalBinningStrategy.java:36-43:
    getInsertionIds emits one key per bin the range crosses; readers
    dedupe). Stored sorted by (bin, cell) so both constraint dimensions
    prune at the parquet row-group level, exactly like st_store — the
    difference is the write-side explode and the read-side dedupe."""
    from geowave_spark.index.native import cell_col
    from geowave_spark.sources.testgeo import events_intervals

    def build():
        iv = events_intervals(spark, sf_dir)
        b_lo, b_hi = interval_bin_bounds(F.col("ts_start"), F.col("ts_end"))
        return (
            iv.withColumn("bin", F.explode(F.sequence(b_lo, b_hi)))
            .withColumn("cell", cell_col(F.col("x_u"), F.col("y_u"), res))
            .repartitionByRange(8, "bin", "cell")
            .sortWithinPartitions("bin", "cell")
        )

    return _materialize(spark, "ivstore", f"{sf_dir}:{res}", build)


def st_interval_query(
    stored: DataFrame,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    t_lo: str,
    t_hi: str,
    res: int = ST_IVAL_RES,
    max_ranges: int = 8,
) -> DataFrame:
    """bbox + interval-OVERLAPS query over the interval-keyed layout:
    coarse = bin BETWEEN the query interval's touched bins AND ≤
    max_ranges Morton cell ranges (both sargable on the stored sort);
    refine = exact bbox + half-open overlap (ts_start < t_hi AND
    ts_end > t_lo); then DEDUPE — a row duplicated across k bins can
    match in several scanned bins, the read path must return it once
    (the reference's DedupeFilter stage after a bin-spanning scan)."""
    from geowave_spark.index.zorder import bbox_ranges
    from geowave_spark.operators.spatial_query import cell_range_predicate

    b_lo, b_hi = interval_query_bin_bounds(t_lo, t_hi)
    ranges = bbox_ranges(x_lo, y_lo, x_hi, y_hi, res, max_ranges)
    coarse = F.col("bin").between(b_lo, b_hi) & cell_range_predicate(
        F.col("cell"), ranges
    )
    exact = (
        F.col("x_u").between(x_lo, x_hi)
        & F.col("y_u").between(y_lo, y_hi)
        & (F.col("ts_start") < F.lit(t_hi).cast("timestamp"))
        & (F.col("ts_end") > F.lit(t_lo).cast("timestamp"))
    )
    # duplicates of one insertion are bit-identical rows (only the bin
    # differed), so dedupe on the row key alone — the shuffle carries
    # one key column, not the payload comparison a full-row distinct
    # would (DedupeFilter semantics: first insertion id wins)
    return stored.where(coarse).where(exact).drop("bin").dropDuplicates(["event_id"])


# ------------------------------------------------ snapshot (Iceberg) store


def ice_events_store(spark: SparkSession, sf_dir: str, res: int = 16):
    """Event points committed to the snapshot table format
    (sources/icetable.py) sorted by the SFC cell, so the manifest's
    per-file [min, max] cell stats are tight ranges — bbox scans prune
    whole files from the manifest before Spark lists them, then
    parquet row-group stats prune inside the kept files."""
    import hashlib as _h

    from geowave_spark.index.native import cell_col
    from geowave_spark.sources.icetable import IceTable
    from geowave_spark.sources.testgeo import events_points

    digest = _h.md5(f"ice_events:{sf_dir}:{res}".encode()).hexdigest()[:12]
    t = IceTable(os.path.join(CACHE_ROOT, f"ice_events_{digest}"))
    if t.current_snapshot_id() is None:
        pts = events_points(spark, sf_dir).withColumn(
            "cell", cell_col(F.col("x_u"), F.col("y_u"), res)
        )
        t.commit_write(
            pts.repartitionByRange(8, "cell").sortWithinPartitions("cell"),
            mode="overwrite",
            stats_cols=["cell"],
        )
    return t


def ice_bbox_query(
    spark: SparkSession,
    table,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    res: int = 16,
    max_ranges: int = 8,
) -> DataFrame:
    """bbox query with THREE pruning levels: manifest file pruning on
    the cell envelope, decomposed cell ranges into parquet row groups,
    exact native refinement on the survivors."""
    from geowave_spark.index.zorder import bbox_ranges
    from geowave_spark.operators.spatial_query import cell_range_predicate

    ranges = bbox_ranges(x_lo, y_lo, x_hi, y_hi, res, max_ranges)
    lo = min(r[0] for r in ranges)
    hi = max(r[1] for r in ranges)
    df, _report = table.scan(spark, {"cell": (int(lo), int(hi))})
    return df.where(cell_range_predicate(F.col("cell"), ranges)).where(
        F.col("x_u").between(x_lo, x_hi) & F.col("y_u").between(y_lo, y_hi)
    )


STATS_RES = 6  # coarse occupancy grid (4096 cells max — metadata-sized)


def ice_events_stats_store(spark: SparkSession, sf_dir: str, res: int = STATS_RES, n_snaps: int = 3):
    """Events committed as a MULTI-SNAPSHOT append sequence with
    write-path statistics: each append records per-file footer min/max
    into the manifest and a per-cell occupancy delta into its snapshot
    entry (icetable.commit_write(occupancy=...)). Readers then answer
    count/bbox/occupancy questions from metadata alone
    (merged_column_stats / merged_occupancy) — the reference's
    transactionally-maintained statistics (core/store/.../statistics/
    StatisticsStore updated per write) expressed on the snapshot log.
    The batch split is a deterministic hash of event_id, so the stats
    exercise real cross-snapshot folding (every batch touches most
    cells)."""
    import hashlib as _h

    from geowave_spark.sources.icetable import IceTable
    from geowave_spark.sources.testgeo import events_points

    digest = _h.md5(f"ice_stats:{sf_dir}:{res}:{n_snaps}".encode()).hexdigest()[:12]
    t = IceTable(os.path.join(CACHE_ROOT, f"ice_stats_{digest}"))
    # resume by COMMITTED BATCH ID, not by "any snapshot exists": this
    # store is a multi-commit build, so a process killed between commits
    # would otherwise be treated as fully built forever after (the
    # persistent cache root makes that a permanently truncated store —
    # each commit is atomic, the SEQUENCE is what the batch ids resume)
    done = {
        (s.get("summary") or {}).get("batch")
        for s in t.snapshots()
    }
    todo = [i for i in range(n_snaps) if i not in done]
    if todo:
        pts = events_points(spark, sf_dir)
        for i in todo:
            batch = pts.where(F.pmod(F.xxhash64("event_id"), F.lit(n_snaps)) == i)
            t.commit_write(
                batch,
                mode="append",
                stats_cols=["x_u", "y_u"],
                occupancy=(res, "x_u", "y_u"),
                summary={"batch": i},
            )
    return t


def ice_events_sketch_store(spark: SparkSession, sf_dir: str, n_snaps: int = 3):
    """Events committed as a multi-snapshot append sequence with
    COMMIT-MAINTAINED FIELD SKETCHES on user_id (CMS + Bloom + HLL
    deltas recorded per snapshot — icetable.commit_write(sketch_cols);
    the reference's CountMinSketchStatistic / BloomFilterStatistic /
    HyperLogLogStatistic updated transactionally per write). Readers
    answer frequency/membership/cardinality questions from metadata
    alone (merged_field_sketches). Same resume-by-batch-id discipline
    as ice_events_stats_store."""
    import hashlib as _h

    from geowave_spark.sources.icetable import IceTable
    from geowave_spark.sources.testgeo import events_points

    digest = _h.md5(f"ice_sketch:{sf_dir}:{n_snaps}".encode()).hexdigest()[:12]
    t = IceTable(os.path.join(CACHE_ROOT, f"ice_sketch_{digest}"))
    done = {(s.get("summary") or {}).get("batch") for s in t.snapshots()}
    todo = [i for i in range(n_snaps) if i not in done]
    if todo:
        pts = events_points(spark, sf_dir)
        for i in todo:
            batch = pts.where(F.pmod(F.xxhash64("event_id"), F.lit(n_snaps)) == i)
            t.commit_write(
                batch,
                mode="append",
                stats_cols=["x_u", "y_u"],
                sketch_cols=["user_id"],
                summary={"batch": i},
            )
    return t


# ---------------------------------------------------- attribute (secondary)


def attr_store(spark: SparkSession, sf_dir: str, column: str = "user_id") -> DataFrame:
    """Secondary attribute index: the events table stored range-
    partitioned and sorted by a NON-spatial column — the engine's
    AttributeIndex analog (core/store/.../api/AttributeIndex.java:
    any adapter field can back a sorted secondary index). The sorted
    layout makes a range predicate on ``column`` prune at the parquet
    row-group level (PushedFilters + min/max stats), the same
    write-once / scan-sorted contract as the spatial stores above."""

    def build():
        return (
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            .repartitionByRange(8, column)
            .sortWithinPartitions(column)
        )

    return _materialize(spark, f"attr_{column}", sf_dir, build)


def attr_range_query(stored: DataFrame, column: str, lo, hi) -> DataFrame:
    """Range scan over the attribute-sorted layout. The predicate is a
    plain BETWEEN on the stored sort column, so it lands in
    PushedFilters and row-group pruning applies — no refinement stage
    (the attribute IS the key, unlike SFC cells)."""
    return stored.where(F.col(column).between(lo, hi))


# --------------------------------------------- image+caption snapshot table


def ice_images_store(
    spark: SparkSession,
    n: int,
    w: int,
    h: int,
    half_span_u: int,
    tile_size: int | None = None,
):
    """The north rule's core object: the image+caption corpus stored in
    the snapshot-table format, laid out sorted by the image's tile cell
    at the pyramid level the raster pipeline will cut at. Manifest
    per-file [min, max] cell stats then prune whole files from a bbox
    scan before Spark lists them; within files, row groups prune on the
    same stored column. Captions, phash and geometry ride the same
    rows (input_hint schema + x_u/y_u + cell)."""
    import hashlib as _h

    from geowave_spark.operators.tiling import pick_level
    from geowave_spark.sources.icetable import IceTable
    from geowave_spark.sources.images import images_table

    level = pick_level(2 * half_span_u, w, tile_size or w)
    digest = _h.md5(f"ice_images:{n}:{w}:{h}:{half_span_u}:{level}".encode()).hexdigest()[:12]
    t = IceTable(os.path.join(CACHE_ROOT, f"ice_images_{digest}"))
    if t.current_snapshot_id() is None:
        from geowave_spark.index.native import cell_col

        imgs = images_table(spark, n, w=w, h=h, partitions=8).withColumn(
            "cell", cell_col(F.col("x_u"), F.col("y_u"), level)
        )
        t.commit_write(
            imgs.repartitionByRange(8, "cell").sortWithinPartitions("cell"),
            mode="overwrite",
            stats_cols=["cell", "image_id"],
            summary={"level": level, "n_images": n},
        )
    return t, level


# -------------------------------------------------------- text NGRAM index


def ngram_store(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Stored character-ngram inverted index for CONTAINS search — the
    TextIndexStrategy NGRAM key family's write path (core/index/.../
    text/TextIndexStrategy.java): (gram, doc_id) laid out sorted by
    gram so a single-gram candidate scan prunes at the row-group
    level. Built once at ingest; queries on a cache hit read ONLY the
    stored parquet."""
    from geowave_spark.operators.text_search import ngram_index

    def build():
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return (
            ngram_index(docs, "text", "doc_id", n)
            .repartitionByRange(8, "gram")
            .sortWithinPartitions("gram")
        )

    return _materialize(spark, f"ngram{n}", sf_dir, build)


# ------------------------------------------------- text REVERSE index


def reverse_text_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored REVERSE text layout for ENDS_WITH search — the
    TextIndexStrategy REVERSE key family's WRITE path (core/index/.../
    text/TextIndexStrategy.java: the reversed string is the sort key,
    computed at ingest): documents + rtext = reverse(text), range-
    partitioned and sorted by rtext so a suffix query's reversed-prefix
    BETWEEN lands in PushedFilters and prunes at the parquet row-group
    level — completing the stored trio (FORWARD implicit in any sorted
    string layout, NGRAM = ngram_store, REVERSE = this)."""

    def build():
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return (
            docs.withColumn("rtext", F.reverse(F.col("text")))
            .repartitionByRange(8, "rtext")
            .sortWithinPartitions("rtext")
        )

    return _materialize(spark, "revtext", sf_dir, build)


def suffix_stored_query(stored: DataFrame, col: str, suffix: str) -> DataFrame:
    """ENDS_WITH over the stored REVERSE layout: sargable string-range
    coarse predicate on the materialized rtext (a plain BETWEEN-ish
    range → PushedFilters + row-group min/max pruning; compare
    operators/text_search.suffix_search, which computes reverse(col)
    at query time and cannot push it), then exact endswith refine."""
    from geowave_spark.operators.text_search import _MAX_CHAR

    rp = suffix[::-1]
    coarse = (F.col("rtext") >= rp) & (F.col("rtext") < rp + _MAX_CHAR)
    return stored.where(coarse).where(F.col(col).endswith(suffix))


# ----------------------------------------------------- hilbert point index


HILBERT_RES = 12


def hilbert_store(
    spark: SparkSession, sf_dir: str, res: int = HILBERT_RES
) -> DataFrame:
    """Event points keyed by hilbert distance at ``res``, sorted by the
    key — the write path of the reference's default point index."""
    from geowave_spark.sources.testgeo import events_points

    @F.pandas_udf("long")
    def hkey(gx: pd.Series, gy: pd.Series) -> pd.Series:
        from geowave_spark.index.hilbert import hilbert_encode

        return pd.Series(
            hilbert_encode(
                gx.to_numpy(dtype="int64"), gy.to_numpy(dtype="int64"), res
            )
        )

    from geowave_spark.index.native import grid_coord_col

    def build():
        pts = events_points(spark, sf_dir)
        return (
            pts.withColumn(
                "hkey",
                hkey(
                    grid_coord_col(F.col("x_u"), res),
                    grid_coord_col(F.col("y_u"), res),
                ),
            )
            .repartitionByRange(8, "hkey")
            .sortWithinPartitions("hkey")
        )

    return _materialize(spark, "hilbert", f"{sf_dir}:{res}", build)


def hilbert_bbox_query(
    stored: DataFrame,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    res: int = HILBERT_RES,
    max_ranges: int = 32,
) -> DataFrame:
    """bbox query via stored-hilbert range scan + exact refinement."""
    from geowave_spark.index.hilbert import hilbert_ranges
    from geowave_spark.operators.spatial_query import cell_range_predicate

    ranges = hilbert_ranges(x_lo, y_lo, x_hi, y_hi, res, max_ranges)
    return stored.where(cell_range_predicate(F.col("hkey"), ranges)).where(
        F.col("x_u").between(x_lo, x_hi) & F.col("y_u").between(y_lo, y_hi)
    )


# --------------------------------------------------------- custom CRS


def crs_store(spark: SparkSession, sf_dir: str, res: int | None = None) -> DataFrame:
    """Projected-CRS point store: the Morton cell over the CRS's OWN
    axis bounds computed at WRITE time, range-partitioned and sorted by
    cell so a bbox query's cell-range constraint prunes at the parquet
    row-group level — the stored completion of the custom-CRS seam
    (index/crs.py). Matches the reference's non-4326 store: the SFC
    spans the CoordinateReferenceSystem's axis ranges
    (core/geotime/.../index/SpatialDimensionalityTypeProvider.java;
    CustomCRS ITs under test/src/test/java/.../basic/)."""
    from geowave_spark.index.crs import CRS_RES, WEB_MERCATOR_MM, cell_col_crs
    from geowave_spark.sources.testgeo import mercator_mm_points

    if res is None:
        res = CRS_RES  # single shared constant with crs_bbox_stored_query

    def build():
        pts = mercator_mm_points(spark, sf_dir)
        return (
            pts.withColumn(
                "cell", cell_col_crs(F.col("x"), F.col("y"), res, WEB_MERCATOR_MM)
            )
            .repartitionByRange(8, "cell")
            .sortWithinPartitions("cell")
        )

    return _materialize(spark, "crsstore", f"{sf_dir}:{res}", build)
