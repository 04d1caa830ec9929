"""Top-level user API — the DataStore / QueryBuilder surface.

Mirrors the reference's primary entry points so a GeoWave user can map
their code 1:1 (SURVEY.md §3):

  reference                                   engine
  ---------                                   ------
  DataStore.addType(adapter) + addIndex       DataStore.add_type(name, df)
  DataStore.query(QueryBuilder…bbox/polygon   DataStore.query(name, bbox=…,
    /time constraints)                          polygon=…, time=…, where=…)
  DataStore.query("SELECT … FROM t WHERE …")  DataStore.sql("…") — GWQL
                                              collapses into Spark SQL with
                                              the Geom*/text functions
                                              registered (§3.2)
  DataStore.aggregate(AggregationQuery)       DataStore.aggregate(name, aggs,
                                              bbox=…, bin_res=…)
  SpatialJoinRunner.run()                     DataStore.spatial_join(...)
  kNN (NNMapReduce)                           DataStore.knn / nn_join

A "type" is any DataFrame carrying micro-degree point columns
(x_u, y_u) or extent columns (x_lo, y_lo, x_hi, y_hi); adding a type
materializes the index cell column (addIndex analog) so scans prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geowave_spark.functions import register_all
from geowave_spark.geom.wkb import Geometry
from geowave_spark.operators.binning import bin_by_cell

from geowave_spark.operators.nn_join import nn_self_join
from geowave_spark.operators.spatial_join import box_point_join
from geowave_spark.operators.spatial_query import (
    bbox_query_dateline,
    polygon_query,
    with_cell,
)

DEFAULT_RES = 16


def indexed_frame(df: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """The addIndex rule: a point type (``x_u`` present) carries the
    materialized index ``cell`` column at ``res`` unless it has one."""
    if "x_u" in df.columns and "cell" not in df.columns:
        df = with_cell(df, res)
    return df


class DataStore:
    """Namespace of typed, spatially-indexed DataFrames."""

    def __init__(self, spark: SparkSession, res: int = DEFAULT_RES):
        self.spark = spark
        self.res = res
        self._types: dict[str, DataFrame] = {}
        self._ice: dict[str, object] = {}  # name -> IceTable handle
        self._ice_sids: dict[str, int] = {}  # registered snapshot ids
        register_all(spark)

    # ------------------------------------------------------------ types

    def add_type(self, name: str, df: DataFrame, indexed: bool = True) -> None:
        """addType + addIndex: register a DataFrame; point types get the
        materialized cell column (insertion-id computation) and a SQL
        view so DataStore.sql can reference the name."""
        if indexed:
            df = indexed_frame(df, self.res)
        self._types[name] = df
        df.createOrReplaceTempView(name)

    def type(self, name: str) -> DataFrame:
        return self._frame(name)

    def _frame(self, name: str) -> DataFrame:
        """Registered frame for ``name``, refreshed to the CURRENT
        snapshot for snapshot-store-backed types (the add_snapshot_type
        contract: queries read the current snapshot — without this, a
        commit made after registration, e.g. a streaming micro-batch,
        was invisible to query/cql/aggregate/delete while the
        metadata-answered GWQL paths saw it). Gated on the snapshot id
        (one tiny metadata-file read) so an unchanged table costs no
        re-read."""
        t = self._ice.get(name)
        if t is not None:
            sid = t.current_snapshot_id()
            if self._ice_sids.get(name) != sid:
                df = t.read(self.spark)
                self._types[name] = df
                df.createOrReplaceTempView(name)
                self._ice_sids[name] = sid
        return self._types[name]

    def add_snapshot_type(self, name: str, table) -> None:
        """Register a snapshot-store-backed type (sources/icetable.py).
        Queries read the current snapshot; GWQL ``DELETE FROM name
        WHERE ...`` routes through the store's copy-on-write
        delete_where instead of the in-memory anti-join — the
        DeleteStatement → BaseDataStore.delete path of the reference
        (rows removed durably, old snapshots still time-travel)."""
        self._ice[name] = table
        self.add_type(name, table.read(self.spark), indexed=False)
        self._ice_sids[name] = table.current_snapshot_id()

    # ---------------------------------------------------------- queries

    def query(
        self,
        name: str,
        bbox: tuple[int, int, int, int] | None = None,
        polygon: Geometry | None = None,
        time: tuple | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Constraint query (QueryBuilder path, §3.1): coarse index
        constraint + exact refinement, then residual attribute
        predicate — the OptimalCQLQuery split (geometry/time → index,
        leftover → filter)."""
        df = self._frame(name)
        if bbox is not None:
            x0, y0, x1, y1 = bbox
            df = bbox_query_dateline(df, x0, y0, x1, y1)
        if polygon is not None:
            df = polygon_query(df, polygon)
        if time is not None:
            lo, hi = time
            df = df.where(
                (F.col("ts") >= F.lit(lo).cast("timestamp"))
                & (F.col("ts") < F.lit(hi).cast("timestamp"))
            )
        if where is not None:
            df = df.where(F.expr(where))
        return df

    def cql(self, name: str, filter_text: str) -> DataFrame:
        """(E)CQL filter text over a registered type — the CQLQuery /
        OptimalCQLQuery surface (core/geotime/.../query/api/
        OptimalCQLQuery.java:86-210): the spatial/temporal conjuncts
        are extracted to drive the coarse index constraint + exact
        refine, every remaining conjunct runs as a residual Catalyst
        post-filter (plans/cql.py)."""
        from geowave_spark.plans.cql import cql_filter

        return cql_filter(self._frame(name), filter_text)

    def gwql(self, statement: str):
        """GWQL statement surface (GWQLParser.parseStatement,
        core/store/.../query/gwql/parse/GWQL.g4 + statement/*.java):
        ``SELECT <columns|aggregates|*> FROM type [WHERE <filter>]
        [LIMIT n]`` and ``DELETE FROM type [WHERE <filter>]``. The
        WHERE grammar is the reference's expression language — BBOX /
        INTERSECTS / DWITHIN / strStartsWith predicate functions,
        temporal operators (``ts AFTER '2020-01-01'``), ``::`` casts,
        BETWEEN / IS NULL, INCLUDE/EXCLUDE — compiled to the engine's
        constraint/residual split (plans/gwql.py). SELECT returns a
        DataFrame; DELETE mutates the type and returns the count."""
        from geowave_spark.plans.gwql import gwql as _gwql

        return _gwql(self, statement)

    def sql(self, query: str, rewrite: bool = True) -> DataFrame:
        """GWQL path (§3.2): Spark SQL over the registered views with
        the Geom*/text predicate functions available. When the WHERE is
        a single Geom* predicate joining two views, the plan is rerouted
        through the indexed general-geometry join (the SqlQueryRunner
        analog, plans/sql_rewrite.py) — otherwise a spatial SQL join
        would execute as a cartesian product with a per-row UDF filter,
        the reference's exact motivation (SqlQueryRunner.java:91-246)."""
        if rewrite:
            from geowave_spark.plans.sql_rewrite import try_rewrite_spatial_sql

            routed = try_rewrite_spatial_sql(self.spark, query)
            if routed is not None:
                return routed
        return self.spark.sql(query)

    # ------------------------------------------------------- aggregates

    def aggregate(
        self,
        name: str,
        aggs: list,
        bbox: tuple[int, int, int, int] | None = None,
        bin_res: int | None = None,
    ) -> DataFrame:
        """AggregationQuery: optional constraint, optional spatial
        binning (BinningAggregation), partial+final agg by Spark."""
        df = self.query(name, bbox=bbox)
        if bin_res is not None:
            return bin_by_cell(df, bin_res, aggs)
        return df.agg(*aggs)

    # ------------------------------------------------------------ joins

    def spatial_join(
        self, points_name: str, extents_name: str, how: str = "inner", **kw
    ) -> DataFrame:
        return box_point_join(
            self._frame(points_name), self._frame(extents_name), how=how, **kw
        )

    def geom_join(
        self,
        left_name: str,
        right_name: str,
        predicate: str = "intersects",
        how: str = "inner",
        **kw,
    ) -> DataFrame:
        """General-geometry join (non-convex polygons, linestrings,
        geometry×geometry) on any CompareOperation or within-distance —
        the TieredSpatialJoin full surface, as ``geom_geom_join``: a
        side under its byte cap is read by one bounded collect and
        persists nothing; any other is keyed once into a local
        checkpoint, which lives until its frame is garbage-collected.
        The sides meet in one packed-key equi-join. Sides must carry a
        WKB ``geom`` column (override with left_geom/right_geom)."""
        from geowave_spark.operators.geom_join import geom_geom_join

        return geom_geom_join(
            self._frame(left_name), self._frame(right_name), predicate, how=how, **kw
        )

    def knn(self, name: str, queries: list, k: int, **kw) -> DataFrame:
        """Routes large query sets through the distributed knn_join
        automatically (operators.knn.knn_auto cutover)."""
        from geowave_spark.operators.knn import knn_auto

        return knn_auto(self.spark, self._frame(name), queries, k, **kw)

    def nn_join(self, name: str, max_dist_u: int, k: int, **kw) -> DataFrame:
        return nn_self_join(self._frame(name), max_dist_u, k, **kw)

    def xz_join(
        self, points_name: str, extents_name: str, how: str = "inner", **kw
    ) -> DataFrame:
        """Point-in-extent join through the XZ-order extent index (one
        key per stored extent — the XZHierarchicalIndexStrategy path)."""
        from geowave_spark.index.xz import xz_box_point_join

        return xz_box_point_join(
            self._frame(points_name), self._frame(extents_name), how=how, **kw
        )

    def extent_query(
        self, name: str, bbox: tuple[int, int, int, int], **kw
    ) -> DataFrame:
        """Extents intersecting a bbox via the XZ index."""
        from geowave_spark.index.xz import xz_extent_query

        x0, y0, x1, y1 = bbox
        return xz_extent_query(self._frame(name), x0, y0, x1, y1, **kw)

    def render(
        self,
        tiles_name: str,
        bbox: tuple[int, int, int, int],
        level: int,
        out_w: int,
        out_h: int,
        **kw,
    ) -> DataFrame:
        """WMS GetMap over a registered tile table."""
        from geowave_spark.operators.tiling import render_mosaic

        x0, y0, x1, y1 = bbox
        return render_mosaic(
            self._frame(tiles_name), x0, y0, x1, y1, level, out_w, out_h, **kw
        )

    # ------------------------------------------------------------ delete

    def attribute_index(self, name: str, column: str) -> DataFrame:
        """Secondary attribute index over a registered type — the
        AttributeIndex.java contract: the type stored range-partitioned
        + sorted by ``column`` so range predicates prune row groups.
        Returns the indexed frame; pair with `.where(col.between(...))`
        (or use plans/store.attr_range_query on a stored path)."""
        return (
            self._types[name]
            .repartitionByRange(8, column)
            .sortWithinPartitions(column)
        )

    def thumbnails(
        self, name: str, out_w: int, out_h: int, interpolation: str = "bilinear"
    ) -> DataFrame:
        """Thumbnail pipeline over a registered image type (decode →
        resample → re-encode in one mapInPandas pass)."""
        from geowave_spark.operators.multimodal import image_thumbnails

        return image_thumbnails(self._frame(name), out_w, out_h, interpolation)

    def image_embeddings(self, name: str, kernel: str = "highpass") -> DataFrame:
        """Deterministic image embeddings feeding the similarity
        operators (brute/LSH/IVF ANN, cosine near-dup)."""
        from geowave_spark.operators.multimodal import image_embed

        return image_embed(self._frame(name), kernel)

    def build_pyramid(
        self,
        tiles: DataFrame,
        from_level: int,
        to_level: int = 0,
        tile_size: int = 256,
        interpolation: str = "nearest",
    ) -> DataFrame:
        """buildPyramid over a (level, tx, ty, tile) mosaic table."""
        from geowave_spark.operators.tiling import build_pyramid

        return build_pyramid(tiles, from_level, to_level, tile_size, interpolation)

    def delete(
        self,
        name: str,
        bbox: tuple[int, int, int, int] | None = None,
        polygon: Geometry | None = None,
        time: tuple | None = None,
        where: str | None = None,
        key: str | None = None,
    ) -> int:
        """DeleteStatement (GWQL `DELETE FROM t WHERE ...`,
        core/store/.../query/gwql/statement/DeleteStatement.java):
        remove the entries matching the constraint from the registered
        type. The engine's storage is immutable DataFrames/parquet, so
        deletion is the standard lakehouse form — the type is replaced
        by its complement (an anti-semi plan over the same coarse
        constraint + exact refinement used by query) and the SQL view
        refreshed; writing the result back to the table location is the
        caller's `df.write` (or Iceberg `DELETE WHERE` when the catalog
        supports it). Returns the number of rows removed.

        ``key`` names the unique row-key column (the dataId analog);
        defaults to the first column. The key is validated unique over
        the matched set — with a non-unique key the anti-join would
        silently remove every row sharing a key value with any match,
        and the returned count would disagree with the rows removed."""
        matched = self.query(name, bbox=bbox, polygon=polygon, time=time, where=where)
        return self._delete_matched(name, matched, key)

    def _delete_snapshot(self, name: str, stmt) -> int:
        """GWQL DELETE over a snapshot-store-backed type, executed
        against the durable store rather than the session view
        (DeleteStatement.java). A WHERE that compiles to the store's
        (ranges, predicate) form — BBOX, attribute and temporal
        conjuncts — runs the copy-on-write delete_where: file skipping
        on footer stats, only overlapping files rewritten. A polygon or
        DWITHIN (planar or with units) has no such form, so its rows are
        selected by the plan a SELECT with the same WHERE runs and
        removed by key (``_delete_matched`` → delete_keys). Either way
        the delete is one atomic snapshot and the registered view
        refreshes to it. Returns rows removed."""
        from geowave_spark.plans.gwql import compile_filter, execute

        plan = compile_filter(stmt.where, x_col="x_u", y_col="y_u")
        if (
            plan.geometry is not None
            or plan.dwithin is not None
            or plan.dwithin_geo is not None  # meters/km units form:
            # compile_filter consumes it OUT of the residual, so the
            # (ranges, predicate) form below would silently drop the
            # distance constraint and over-delete every row the ranges match
        ):
            return self._delete_matched(name, execute(self._frame(name), stmt))
        ranges: dict[str, tuple] = {}
        if plan.bbox is not None:
            x0, y0, x1, y1 = plan.bbox
            ranges["x_u"] = (x0, x1)
            ranges["y_u"] = (y0, y1)
        conjuncts = list(plan.residual)
        if plan.time is not None:
            lo, hi = plan.time
            conjuncts.append(
                f"{plan.time_col} >= TIMESTAMP '{lo}' "
                f"AND {plan.time_col} < TIMESTAMP '{hi}'"
            )
        predicate = " AND ".join(f"({c})" for c in conjuncts) or None
        deleted, _report = self._ice[name].delete_where(
            self.spark, ranges=ranges or None, predicate=predicate
        )
        self._frame(name)  # the view follows the new snapshot
        return deleted

    def _delete_matched(
        self, name: str, matched: DataFrame, key: str | None = None
    ) -> int:
        """Anti-join the matched rows out of the registered type (shared
        by delete() and the GWQL DELETE statement, plans/gwql.py)."""
        df = self._frame(name)
        key = key or df.columns[0]
        # eagerly checkpoint the (single-column) key set instead of
        # persist(): three actions read it (validation agg, whole-table
        # hit count, the anti-join), and a persist pinned the blocks for
        # the session's lifetime because the surviving view references
        # them lazily — the checkpointed key column is bounded by the
        # matched-row count, not the table
        keys = matched.select(key).localCheckpoint(eager=True)
        n_keys, n_matched = (
            keys.agg(
                F.count_distinct(F.col(key)).alias("d"), F.count("*").alias("n")
            ).first()
        )
        if n_keys != n_matched:
            raise ValueError(
                f"delete key column {key!r} is not unique over the matched rows "
                f"({n_matched} rows, {n_keys} distinct) — pass a unique key="
            )
        # the anti-join / delete_keys below remove by key equality
        # against the WHOLE table, so uniqueness over the matched rows
        # alone is not enough: a key value shared with an UNMATCHED row
        # would silently delete that row too and the returned count
        # would disagree with rows removed. Validate that the key set
        # hits exactly the matched rows.
        n_hit = df.join(keys, key, "leftsemi").count()
        if n_hit != n_matched:
            raise ValueError(
                f"delete key column {key!r} is not unique over the table: the "
                f"{n_matched} matched key values identify {n_hit} rows — "
                "deleting by this key would remove rows the query did not "
                "match; pass a unique key="
            )
        if name in self._ice:
            # snapshot-store-backed type: make the delete DURABLE via
            # the copy-on-write key delete — the session-view anti-join
            # alone would be silently resurrected by the next snapshot
            # refresh (and invisible to every other reader of the table)
            deleted, _report = self._ice[name].delete_keys(keys, key)
            self._frame(name)  # the view follows the new snapshot
            return deleted
        remaining = df.join(keys, key, "leftanti")
        self._types[name] = remaining
        remaining.createOrReplaceTempView(name)
        return n_matched
