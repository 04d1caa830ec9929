"""Distributed spatial join — the engine's flagship operator, and the one
skeleton every extent × point join runs on.

Re-expresses the reference's TieredSpatialJoin
(analytics/spark/src/main/java/org/locationtech/geowave/analytic/spark/spatial/TieredSpatialJoin.java:59-552)
as ONE Catalyst equi-join on ONE BIGINT key:

  reference                              engine
  ---------                              ------
  tiered-SFC insertion ids (≤80/geom)    per-row resolution + ≤4 corner
                                         cells (boxes) / polyfill (polys)
  collect distinct tiers per side        tiny distinct-res dimension,
                                         broadcast-crossed onto points
  reprojectToTier for cross-tier         parent-cell shift of the point
                                         side's POINT_RES grid coords
  same-tier cogroup + nested loop        single equi-join on the packed
                                         key + exact refine predicate
  reduceByKey keep-first + DedupeFilter  not needed (≤1 key match/pair)
  semi-join / subtractByKey outputs      how='leftsemi' / 'leftanti'

The key: ``(res << 48) | (gx << 32) | gy``, where (gx, gy) are the grid
coordinates at ``res``, taken as the POINT_RES coordinate shifted right
by ``POINT_RES − res`` (exact: floor(floor(a·2^R/W) / 2^(R−r)) equals
floor(a·2^r/W), and the edge clamp commutes with the shift). Every
extent × point join keys at ``res ≤ POINT_RES = 16``, so gx, gy < 2^16
and the three fields never overlap. A single LongType key is what keeps
the broadcast hash relation small: Spark broadcasts a long-keyed map
(LongHashedRelation) for it, while a two-column (res, cell) key gets
the generic bytes-keyed map (UnsafeHashedRelation), whose memory pages,
not its rows, set its size for an extent table this small. Measured on
a 4-vCPU VM at local[2] with a 2 GB heap: box_point_join's broadcast
fell from 33.8 MB to 1.2 MB for ~5 k keyed boxes.

The key is an equality id, not an ordering: Morton interleaving
(index/native._spread_col) stays for storage keys and range
decomposition only.

The keys, the per-row res and the box refine are built as Spark SQL
text, one ``F.expr`` each, not as trees of ``Column`` calls. Every
``Column`` node is one py4j round trip from the Python driver to the
JVM, all paid before any task runs: with Column-built corner keys,
building one box join took 1,362 gateway commands; as SQL text it takes
92, and Catalyst sees the same expressions. The grid coordinate's text
form lives next to its Column form (index/crs.grid_coord_expr_crs).

``extent_point_join`` is the skeleton: extent side keyed by
``boxes_with_cells`` (boxes, polygon bboxes, radius boxes) or by a
polyfill (operators/geom_join.geom_point_join), point side keyed by
``points_keyed_by_res``, one broadcast-hash equi-join, then the
caller's exact refine predicate. The batch operators below and the
polygon / distance / general-geometry joins all run through it. The
skeleton itself makes no driver round-trip. The point side is keyed at
the extent side's distinct res levels, passed either as a frame or as a
list of ints:

- ``geom_point_join`` passes a list. It collects its geometry side's
  keys anyway (for the refine's payload dictionary), so the levels come
  with them, and the points are keyed by one ``explode(array(<key per
  level>))`` with literal levels: no distinct-res shuffle, no res
  broadcast, no nested-loop join.
- The box, octagon and distance joins keep the data-driven
  ``select("res").distinct()`` dimension. Collecting it would cost
  them a job they do not otherwise run (box_point_join measured no
  faster).

Why one join instead of a per-tier union: each union branch is its own
shuffle + codegen unit; at 1000 executors the branch barrier serializes
tiers. One equi-join is one stage, and the point side is duplicated
only |distinct res| times (≤ a handful — the duplication-cap analog of
the reference's 80-id limit).

Skew: dense cells (hotspots) are handled by AQE skew-join plus optional
explicit salting (geowave_spark.plans.stats), the HashKeyIndexStrategy
analog (core/index/.../simple/HashKeyIndexStrategy.java:44-70).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geowave_spark import LAT_OFF_U, LON_OFF_U, WORLD_X_U
from geowave_spark.index.crs import grid_coord_expr_crs

POINT_RES = 16  # finest ("full precision") resolution for the point side


def _grid_sql(col: str, off: int) -> str:
    """SQL text of a µdeg column's POINT_RES grid coordinate
    (index/native.grid_coord_col)."""
    return grid_coord_expr_crs(col, POINT_RES, -off, WORLD_X_U)


def _key_sql(res: str, gx: str, gy: str) -> str:
    """SQL text of the one extent × point join key of POINT_RES grid
    coords (gx, gy) coarsened to ``res``:
    ``(res << 48) | (gx' << 32) | gy'`` with ``gx' = gx >> (16 − res)``."""
    d = f"({POINT_RES} - {res})"
    return (
        f"shiftleft(CAST({res} AS BIGINT), 48)"
        f" | shiftleft(shiftright({gx}, {d}), 32) | shiftright({gy}, {d})"
    )


def _res_for_span_col(span: str) -> Column:
    """Per-row resolution pick for the SQL ``span`` expression: finest
    res whose cell span ≥ extent span, so the bbox never covers more
    than 2 cells per axis (≤4 total) — the tier-selection rule of
    TieredSFCIndexStrategy.getRowIds (TieredSFCIndexStrategy.java:345-367)
    with maxDuplicates=4.

    log2 on integer spans ≤ 2^29 is exact in double → stays JVM-side.
    """
    ratio = f"{WORLD_X_U} / greatest(CAST({span} AS DOUBLE), 1.0D)"
    return F.expr(f"least(greatest(CAST(floor(log2({ratio})) AS INT), 0), {POINT_RES})")


def _join_key(res: Column, cell: Column) -> Column:
    """The one extent × point join key: a packed ``(gx << 32) | gy``
    cell id at ``res`` tagged with ``res << 48``."""
    return F.shiftleft(res.cast("long"), 48).bitwiseOR(cell)


def boxes_with_cells(boxes: DataFrame) -> DataFrame:
    """Index an extent table (x_lo..y_hi µdeg): per-row ``res`` + exploded
    candidate ``cell`` key — entirely native. At the chosen res a box
    spans ≤ 2 cells per axis, so its cover is the ≤4 distinct corner
    cells."""
    gx = [_grid_sql(c, LON_OFF_U) for c in ("x_lo", "x_hi")]
    gy = [_grid_sql(c, LAT_OFF_U) for c in ("y_lo", "y_hi")]
    corners = ", ".join(_key_sql("res", x, y) for y in gy for x in gx)
    return boxes.withColumn(
        "res", _res_for_span_col("greatest(x_hi - x_lo, y_hi - y_lo)")
    ).withColumn("cell", F.expr(f"explode(array_distinct(array({corners})))"))


def points_keyed_by_res(points: DataFrame, res_dim: DataFrame | list[int]) -> DataFrame:
    """Re-key points at every resolution present on the extent side:
    grid coords at POINT_RES, coarsened by an exact shift into
    ``_jcell`` — the reprojectToTier analog
    (TieredSFCIndexStrategy.java:514-535) without a driver round-trip.

    ``res_dim`` is either the tiny distinct-res dimension (a frame with
    a ``res`` column, broadcast-crossed onto the points, which keep
    ``res``) or the levels as a list of ints, each keyed as a literal in
    one ``explode(array(...))``."""
    gx, gy = _grid_sql("x_u", LON_OFF_U), _grid_sql("y_u", LAT_OFF_U)
    # each grid expression projected once, the keys read the columns
    pts = points.selectExpr("*", f"{gx} AS _gx", f"{gy} AS _gy")
    if not isinstance(res_dim, DataFrame):
        keys = ", ".join(_key_sql(str(int(r)), "_gx", "_gy") for r in res_dim)
        jcell = f"explode(CAST(array({keys}) AS ARRAY<BIGINT>))"
    else:
        pts, jcell = pts.crossJoin(F.broadcast(res_dim)), _key_sql("res", "_gx", "_gy")
    return pts.selectExpr("*", f"{jcell} AS _jcell").drop("_gx", "_gy")


def extent_point_join(
    points: DataFrame,
    keyed_extents: DataFrame,
    refine: Column,
    how: str = "inner",
    broadcast: bool = True,
    point_key: str = "event_id",
    extent_key: str | list = "c_custkey",
    res_levels: list[int] | None = None,
) -> DataFrame:
    """The extent × point join skeleton. ``keyed_extents`` carries one
    row per (extent, ``cell`` key) plus the extent's ``res``; the points
    (x_u, y_u) are keyed at every distinct res, equi-joined on the
    single key and filtered by ``refine`` (any Column over both sides'
    columns). A caller that already knows the extent side's distinct
    res levels passes them as ``res_levels`` (its ``keyed_extents`` then
    needs no ``res`` column); otherwise they come from the frame.
    ``how``:

      'inner'    -> matched (point_key, extent_key) rows; ``extent_key``
                    may be a list of names or Columns (e.g. a distance
                    computed from both sides)
      'leftsemi' -> points matching ≥1 extent (per-side semi output form,
                    TieredSpatialJoin.java:362-378)
      'leftanti' -> points matching no extent (negative-predicate form,
                    subtractByKey analog :362-368)

    No DedupeFilter stage is needed, by construction: each extent
    carries *distinct* keys at exactly one resolution, and a point maps
    to exactly one key per resolution, so a (point, extent) pair can
    satisfy the key equality at most once. (The reference needs
    DedupeFilter because its tiered decomposition can insert one entry
    under many ranges.) Skipping it removes the join's only wide
    shuffle: measured at sf0.1 / local[32], join+refine is ~5 s while a
    redundant dropDuplicates added ~130 s of 52M-row shuffle for zero
    removals.

    ``broadcast=True`` broadcasts the keyed extent side — extent tables
    are small relative to the point table, and a broadcast-hash join
    has no shuffle and no skewed-key problem (dense hotspot cells
    parallelize across *stream-side* partitions). With False the plan
    falls back to a shuffled join where AQE skew-split applies."""
    e = keyed_extents
    if res_levels is None:
        res_levels = e.select("res").distinct()
        e = e.drop("res")
    keyed = points_keyed_by_res(points, res_levels)
    if broadcast:
        e = F.broadcast(e)
    j = keyed.join(e, keyed["_jcell"] == e["cell"], "inner").where(refine)
    extent_cols = [extent_key] if isinstance(extent_key, str) else extent_key
    matched = j.select(point_key, *extent_cols)

    if how == "inner":
        return matched
    if how in ("leftsemi", "leftanti"):
        return points.join(matched.select(point_key), point_key, how)
    raise ValueError(how)


def _in_box() -> Column:
    """Closed containment of the point (x_u, y_u) in the box (x_lo..y_hi)."""
    return F.expr("x_u BETWEEN x_lo AND x_hi AND y_u BETWEEN y_lo AND y_hi")


def box_point_join(
    points: DataFrame,
    boxes: DataFrame,
    how: str = "inner",
    point_key: str = "event_id",
    box_key: str = "c_custkey",
    broadcast_boxes: bool | None = None,
) -> DataFrame:
    """Join points (x_u, y_u) to boxes (x_lo, y_lo, x_hi, y_hi) on
    closed containment — ``extent_point_join`` with corner-cell keys
    and the native BETWEEN refine. ``how`` as there.

    ``broadcast_boxes=None`` (default) broadcasts the keyed box side;
    pass False when it is too big to broadcast."""
    return extent_point_join(
        points,
        boxes_with_cells(boxes),
        _in_box(),
        how,
        broadcast_boxes is None or broadcast_boxes,
        point_key,
        box_key,
    )
