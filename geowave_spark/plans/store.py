"""Write-time index materialization — the stored-key query paths.

The reference computes insertion ids at WRITE time and scans stored
key ranges at query time; the engine's equivalent is a table carrying
the key columns, laid out sorted by the key so the coarse constraint
prunes at the parquet row-group level (PushedFilters + min/max stats),
instead of re-deriving the key expressions per query (which is correct
but pays plan-compile + full-scan cost every run — the round-1
xz_extent pathology).

Every cached table here is an IceTable snapshot table built once by
``cached_table``: it lives at ``CACHE_ROOT/<tag>_<version>_<digest>``,
each build batch is one append commit tagged ``{"batch": i}``, a build
killed between commits resumes with the batches it lacks, and a build
removes the dirs of its tag that an older cache version left. The sorted
layouts (XZ extents, spatial-temporal, interval, attribute, n-gram,
reverse text, Hilbert, custom CRS) are one-batch tables with footer
stats on their sort columns, read back under the recorded schema (no
schema-inference job); the snapshot stores (cell-sorted events, the
image corpus, the commit-maintained statistics store, the two-append
store) are the tables themselves. This is the sandbox stand-in for the
real write path, where these columns are produced once at ingest
(df.writeTo(iceberg)); queries on a cache hit read only the stored
files.

Key layouts:

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
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CACHE_ROOT = os.environ.get("GEOWAVE_SPARK_CACHE", "/tmp/geowave_spark_cache")
# part of every cache dir name (letters, then a number): bump it when a
# cached table's rows, layout or build batches change, so a build opens
# a fresh directory instead of resuming one an older build wrote
CACHE_VERSION = "ice1"


def cache_path(tag: str, key: str) -> str:
    """The cache directory of the build ``tag`` keyed by ``key``:
    ``<tag>_<CACHE_VERSION>_<12 hex of md5>``."""
    digest = hashlib.md5(f"{tag}:{CACHE_VERSION}:{key}".encode()).hexdigest()[:12]
    return os.path.join(CACHE_ROOT, f"{tag}_{CACHE_VERSION}_{digest}")


def _drop_stale_versions(tag: str) -> None:
    """Remove the cache dirs of ``tag`` that no build opens again: those
    of another cache version and those from before dir names carried
    one (``<tag>_<12 hex>``). Same-version dirs of other keys stay, and
    so does every dir of another tag."""
    named = re.compile(rf"{re.escape(tag)}_(?:[a-z]+\d+_)?[0-9a-f]{{12}}")
    current = f"{tag}_{CACHE_VERSION}_"
    for name in os.listdir(CACHE_ROOT) if os.path.isdir(CACHE_ROOT) else []:
        if named.fullmatch(name) and not name.startswith(current):
            shutil.rmtree(os.path.join(CACHE_ROOT, name), ignore_errors=True)


def cached_table(tag: str, key: str, batches, **commit):
    """The IceTable at ``cache_path(tag, key)``, built once from
    ``batches`` (zero-argument callables returning DataFrames). Batch i
    is one append commit whose summary records ``{"batch": i}``; a call
    commits only the batches the snapshot log lacks, so a build killed
    between commits resumes where it stopped and a built table costs
    one metadata read. ``commit`` goes to every commit_write
    (stats_cols, occupancy, sketch_cols). Snapshots committed on top
    (deletes) carry no batch id and leave the build complete; expiring
    a cached table's snapshots would drop its batch ids, so none is
    expired. A call that commits first removes the stale dirs of
    ``tag`` (``_drop_stale_versions``). One process builds a given
    table at a time."""
    from geowave_spark.sources.icetable import IceTable

    t = IceTable(cache_path(tag, key))
    done = {(s.get("summary") or {}).get("batch") for s in t.snapshots()}
    todo = [(i, batch) for i, batch in enumerate(batches) if i not in done]
    if todo:
        _drop_stale_versions(tag)
    for i, batch in todo:
        t.commit_write(batch(), mode="append", summary={"batch": i}, **commit)
    return t


def _sorted(df: DataFrame, *cols: str) -> DataFrame:
    """``df`` range-partitioned into 8 files and sorted by ``cols``."""
    return df.repartitionByRange(8, *cols).sortWithinPartitions(*cols)


def _sorted_layout(spark: SparkSession, tag: str, key: str, build, *cols: str) -> DataFrame:
    """A stored key layout: ``build()`` sorted by ``cols``, cached as a
    one-batch table with footer stats on ``cols``, read back."""
    t = cached_table(tag, key, [lambda: _sorted(build(), *cols)], stats_cols=list(cols))
    return t.read(spark)


# ------------------------------------------------------------- XZ extents


def xz_extent_store(spark: SparkSession, sf_dir: str, r_max: int = 12) -> DataFrame:
    """Customer extents with stored (res, ax, ay), range-partitioned and
    sorted by the key triple."""
    from geowave_spark.index.xz import xz_keys
    from geowave_spark.sources.testgeo import customer_boxes

    return _sorted_layout(
        spark, "xzkeys", f"{sf_dir}:{r_max}",
        lambda: xz_keys(customer_boxes(spark, sf_dir), r_max), "res", "ax", "ay",
    )


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
        return (
            events_points(spark, sf_dir)
            .withColumn("bin", time_bin_col(F.col("ts"), unit).cast("long"))
            .withColumn("cell", cell_col(F.col("x_u"), F.col("y_u"), res))
            .withColumn(
                "st_cell",
                F.shiftleft(F.col("bin"), 2 * res).bitwiseOR(F.col("cell")),
            )
        )

    return _sorted_layout(spark, "ststore", f"{sf_dir}:{res}:{unit}", build, "bin", "cell")


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
    from geowave_spark.index.zorder import bbox_ranges
    from geowave_spark.operators.spatial_query import cell_range_predicate

    b_lo, b_hi = interval_query_bin_bounds(t_lo, t_hi)
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
        b_lo, b_hi = interval_bin_bounds(F.col("ts_start"), F.col("ts_end"))
        return (
            events_intervals(spark, sf_dir)
            .withColumn("bin", F.explode(F.sequence(b_lo, b_hi)))
            .withColumn("cell", cell_col(F.col("x_u"), F.col("y_u"), res))
        )

    return _sorted_layout(spark, "ivstore", f"{sf_dir}:{res}", build, "bin", "cell")


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


def ice_events_store(
    spark: SparkSession,
    sf_dir: str,
    tag: str = "ice_events",
    stats_cols: tuple[str, ...] = ("cell",),
    res: int = 16,
):
    """Event points committed to the snapshot table format
    (sources/icetable.py) sorted by the SFC cell, so the manifest's
    per-file [min, max] cell stats are tight ranges — bbox scans prune
    whole files from the manifest before Spark lists them, then
    parquet row-group stats prune inside the kept files. ``tag`` names
    a separate table of the same rows: the registry's delete rows each
    mutate their own."""
    from geowave_spark.index.native import cell_col
    from geowave_spark.sources.testgeo import events_points

    def build():
        pts = events_points(spark, sf_dir)
        return _sorted(pts.withColumn("cell", cell_col(F.col("x_u"), F.col("y_u"), res)), "cell")

    return cached_table(tag, f"{sf_dir}:{res}", [build], stats_cols=list(stats_cols))


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
    into the manifest, a per-cell occupancy delta and COMMIT-MAINTAINED
    FIELD SKETCHES on user_id (CMS + Bloom + HLL deltas) into its
    snapshot entry (icetable.commit_write(occupancy=..., sketch_cols=...)).
    Readers then answer count/bbox/occupancy and frequency/membership/
    cardinality questions from metadata alone (merged_column_stats /
    merged_occupancy / merged_field_sketches) — the reference's
    transactionally-maintained statistics (core/store/.../statistics/
    StatisticsStore updated per write; CountMinSketchStatistic /
    BloomFilterStatistic / HyperLogLogStatistic) expressed on the
    snapshot log. The batch split is a deterministic hash of event_id,
    so the stats exercise real cross-snapshot folding (every batch
    touches most cells)."""
    from geowave_spark.sources.testgeo import events_points

    def batch(i):
        return lambda: events_points(spark, sf_dir).where(
            F.pmod(F.xxhash64("event_id"), F.lit(n_snaps)) == i
        )

    return cached_table(
        "ice_stats",
        f"{sf_dir}:{res}:{n_snaps}",
        [batch(i) for i in range(n_snaps)],
        stats_cols=["x_u", "y_u"],
        occupancy=(res, "x_u", "y_u"),
        sketch_cols=["user_id"],
    )


def ice_events_appends_store(spark: SparkSession, sf_dir: str, res: int = 16):
    """Events as two append commits — even event_ids (batch 0), then
    odd (batch 1) — with footer stats on cell, x_u, y_u and value: the
    incremental read's changelog (the appends after batch 0) and the
    metadata-answered GWQL aggregates, which must fold across
    snapshots."""
    from geowave_spark.index.native import cell_col
    from geowave_spark.sources.testgeo import events_points

    def batch(parity):
        return lambda: events_points(spark, sf_dir).withColumn(
            "cell", cell_col(F.col("x_u"), F.col("y_u"), res)
        ).where(F.col("event_id") % 2 == parity)

    return cached_table(
        "ice_appends",
        f"{sf_dir}:{res}",
        [batch(0), batch(1)],
        stats_cols=["cell", "x_u", "y_u", "value"],
    )


# ---------------------------------------------------- attribute (secondary)


def attr_store(spark: SparkSession, sf_dir: str, column: str = "user_id") -> DataFrame:
    """Secondary attribute index: the events table stored range-
    partitioned and sorted by a NON-spatial column — the engine's
    AttributeIndex analog (core/store/.../api/AttributeIndex.java:
    any adapter field can back a sorted secondary index). The sorted
    layout makes a range predicate on ``column`` prune at the parquet
    row-group level (PushedFilters + min/max stats), the same
    write-once / scan-sorted contract as the spatial stores above."""

    return _sorted_layout(
        spark, f"attr_{column}", sf_dir,
        lambda: spark.read.parquet(os.path.join(sf_dir, "events.parquet")), column,
    )


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
    from geowave_spark.index.native import cell_col
    from geowave_spark.operators.tiling import pick_level
    from geowave_spark.sources.images import images_table

    level = pick_level(2 * half_span_u, w, tile_size or w)

    def build():
        imgs = images_table(spark, n, w=w, h=h, partitions=8)
        return _sorted(imgs.withColumn("cell", cell_col(F.col("x_u"), F.col("y_u"), level)), "cell")

    t = cached_table(
        "ice_images", f"{n}:{w}:{h}:{half_span_u}:{level}", [build],
        stats_cols=["cell", "image_id"],
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
        return ngram_index(docs, "text", "doc_id", n)

    return _sorted_layout(spark, f"ngram{n}", sf_dir, build, "gram")


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
        return docs.withColumn("rtext", F.reverse(F.col("text")))

    return _sorted_layout(spark, "revtext", sf_dir, build, "rtext")


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
        return events_points(spark, sf_dir).withColumn(
            "hkey",
            hkey(grid_coord_col(F.col("x_u"), res), grid_coord_col(F.col("y_u"), res)),
        )

    return _sorted_layout(spark, "hilbert", f"{sf_dir}:{res}", build, "hkey")


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
        return mercator_mm_points(spark, sf_dir).withColumn(
            "cell", cell_col_crs(F.col("x"), F.col("y"), res, WEB_MERCATOR_MM)
        )

    return _sorted_layout(spark, "crsstore", f"{sf_dir}:{res}", build, "cell")
