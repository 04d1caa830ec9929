"""General-geometry spatial join — non-convex polygons, linestrings,
multipolygons, geometry×geometry, on any CompareOperation predicate.

This is the full-generality analog of the reference's TieredSpatialJoin
(analytics/spark/src/main/java/org/locationtech/geowave/analytic/spark/spatial/TieredSpatialJoin.java:59-552),
which joins any two indexed geometry sets — the IT exercises hail
points × tornado-track LINES (test/.../spark/GeoWaveSparkSpatialJoinIT.java:104-172).
The convex fast paths (box_point_join, octagon_point_join, xz join)
stay preferred when their shape assumptions hold; this operator is the
path for everything else. Points × geometries (geom_point_join) run on
the extent × point join skeleton (spatial_join.extent_point_join) with
polyfill keys; the plan below is geometry × geometry (geom_geom_join).

Plan shape (idiomatic-Spark re-expression of the tier algorithm):

  reference                               engine
  ---------                               ------
  tiered insertion ids per geometry       per-row (res, cells[]) polyfill
  (≤80, trimIndexIds)                     (≤ max_cells — index/polyfill.py,
                                          _geom_cover)
  collect distinct tiers per side         per side: ONE bounded collect
  (TieredSpatialJoin.java:174-191)        under BC_MAX_BYTES, keyed from
                                          the driver's cover cache or by
                                          one job across the cores; else
                                          keyed once by an Arrow UDF into
                                          a checkpoint + ONE aggregate
  reprojectToTier cross-tier re-key       coarsen one side's cells to the
  (:471-511)                              other side's levels (distinct
                                          exact parent shifts)
  same-tier cogroup + nested loop         ONE equi-join on one packed
  (:513-551)                              BIGINT key (below)
  exact predicate refinement              vectorized predicates on the
                                          deduped pairs, each distinct
                                          pair once
  reduceByKey keep-first + DedupeFilter   reference-point filter, else
  (:343-349)                              dropDuplicates of key pairs; a
                                          fact side's WKB joins back to
                                          the deduped pairs, never rides
                                          the cell explode
  semi/anti output (:362-378)             how='leftsemi' / 'leftanti'

The join key is ``(b << 53) | (m << 48) | (gx << 32) | gy``: a packed
cell (gx, gy) at res m ≤ POINT_RES = 16 (spatial_join's key layout)
and a branch bit b. The left side emits its cells coarsened to each
right level m ≤ its res with b = 0 and its natural cells with b = 1;
the right side emits its natural cells with b = 0 and its cells
coarsened to each left level m strictly below its res with b = 1. So
b = 0 meets a pair whose right res is ≤ the left's at the right's res,
b = 1 a pair whose right side is strictly finer at the left's res: each
pair meets at m = min(res_l, res_r), in one branch, once per shared
cell.

Correctness of the cross-res rule: the set of parents (at res m) of the
cells intersecting g at a finer res IS polyfill(g, m) — children
partition the parent, so a parent intersects g iff some child does.
Matching at m = min(res_a, res_b) therefore compares both geometries'
exact covers at the same resolution.
"""

from __future__ import annotations

import contextlib
import functools
import math
import uuid
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from geowave_spark.geom import predicates as P
from geowave_spark.geom.predicates import points_distance_to_geom, points_pred_batch
from geowave_spark.geom.wkb import box, wkb_loads
from geowave_spark.index.polyfill import polyfill
from geowave_spark.index.zorder import morton_decode, pick_res_for_extent
from geowave_spark.operators.spatial_join import POINT_RES, _grid_sql, _join_key, extent_point_join
from geowave_spark import LAT_OFF_U, LON_OFF_U, X_SCALE

DEFAULT_MAX_CELLS = 32

# _geom_cover's cache, one per process (each Python worker, the driver)
_POLYFILL_CACHE: dict = {}
_POLYFILL_CACHE_MAX = 65536

_ARROW_BATCH = 65536


def _widen_arrow_batches(spark) -> None:
    """Grouped-kernel refinement pays a fixed numpy cost per (Arrow
    batch × distinct geometry); with Spark's default 10k-row batches
    and ~1k broadcast geometries that product dominates the actual
    kernels. Widen to 64k rows for this session — refine rows are
    ≤24 B key-only tuples, so a batch stays ~1.5 MB. Safe for
    fat-payload UDF stages elsewhere (raster/multimodal): Spark 4's
    ``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MB default)
    still caps every batch by size. Never lowers a user-raised
    setting."""
    k = "spark.sql.execution.arrow.maxRecordsPerBatch"
    try:
        cur = int(spark.conf.get(k))
    except Exception:
        cur = 10000
    if 0 < cur < _ARROW_BATCH:
        spark.conf.set(k, str(_ARROW_BATCH))


_KEYS_DDL = "res int, cells array<long>, bx0 long, by0 long, bx1 long, by1 long, rect boolean"


def _geom_cover(wkb: bytes, params: tuple) -> tuple:
    """(res, cells, (bx0, by0, bx1, by1), rect) of one µdeg WKB geometry
    under ``params`` = (max_cells, finest_res, buffer_u): the insertion
    ids of getRowIdsAtTier / decomposeRangesForEntry
    (TieredSFCIndexStrategy.java:369-407) with the trim of
    RDDUtils.trimIndexIds:158-184. ``buffer_u`` expands the cover
    outward for distance predicates (getBufferAmount semantics,
    TieredSpatialJoin.java:146,413-419). Cached per process: a Python
    worker, or the driver keying a collected side, is reused across
    queries, so keying an unchanged table again is near-free. A cold
    cover costs ~0.4 ms per L-shape."""
    hit = _POLYFILL_CACHE.get((params, wkb))
    if hit is not None:
        return hit
    from geowave_spark.geom.udfs import _as_box_bounds
    from geowave_spark.geom.wkb import Geometry

    if len(_POLYFILL_CACHE) >= _POLYFILL_CACHE_MAX:
        _POLYFILL_CACHE.clear()
    max_cells, finest_res, buffer_u = params
    g = wkb_loads(wkb)
    # axis-aligned rectangles: every bbox-cover cell intersects the
    # geometry — trimming is a no-op, the cover is the closed-bbox
    # cover, and bounds fully describe the geometry (native refine /
    # reference-point dedupe both key off this flag)
    is_rect = _as_box_bounds(g) is not None
    gx0, gy0, gx1, gy1 = g.bounds
    x0, y0, x1, y1 = gx0 - buffer_u, gy0 - buffer_u, gx1 + buffer_u, gy1 + buffer_u
    r = min(pick_res_for_extent(int(x1 - x0), int(y1 - y0), max_cells), finest_res)
    if buffer_u == 0:
        # polyfill operates in degrees — scale down once
        g_deg = Geometry(g.gtype, [p / X_SCALE for p in g.parts], g.poly_ring_counts)
        cells = polyfill(g_deg, r, exact_trim=not is_rect)
    else:
        cells = polyfill(box(x0 / X_SCALE, y0 / X_SCALE, x1 / X_SCALE, y1 / X_SCALE), r)
    # store cells as packed (gx<<32 | gy), not Morton: the join only
    # needs a bijective cell id, and packed ids keep every derived
    # expression (parent shift, the reference-point cell in the dedupe
    # filter) a handful of shift/mask ops — Morton spread/compact trees
    # blow up Catalyst filter codegen (see index/native.py _spread_col
    # pitfall note)
    if cells:
        cgx, cgy = morton_decode(np.asarray(cells, dtype=np.int64))
        cells = ((cgx << 32) | cgy).tolist()
    bounds = (int(round(gx0)), int(round(gy0)), int(round(gx1)), int(round(gy1)))
    hit = _POLYFILL_CACHE[(params, wkb)] = (r, cells, bounds, is_rect)
    return hit


def _covers_frame(covers: list) -> pd.DataFrame:
    """The ``_KEYS_DDL`` columns of a list of ``_geom_cover`` results."""
    b = np.asarray([c[2] for c in covers], dtype=np.int64).reshape(-1, 4)
    return pd.DataFrame({
        "res": np.asarray([c[0] for c in covers], dtype=np.int32),
        "cells": pd.Series([c[1] for c in covers], dtype=object),
        "bx0": b[:, 0], "by0": b[:, 1], "bx1": b[:, 2], "by1": b[:, 3],
        "rect": np.asarray([c[3] for c in covers], dtype=bool),
    })


@functools.lru_cache(maxsize=64)
def _keys_udf(sc, max_cells: int, finest_res: int, buffer_u: int, scale: int):
    """(wkb) -> struct of ``_KEYS_DDL``: ``_geom_cover`` per row. Built
    once per parameter set: building a pandas UDF (pickle + JVM function
    object) costs ~37 gateway commands. The SparkContext ``sc`` is part
    of the key because the JVM function object carries that context's
    Python accumulator."""

    params = (max_cells, finest_res, buffer_u)

    @F.pandas_udf(_KEYS_DDL)
    def run(wkbs: pd.Series) -> pd.DataFrame:
        # reached through the imported module: this closure is pickled
        # by value, and the cache global of a function pickled with it
        # would arrive as a fresh copy with every task
        from geowave_spark.operators import geom_join

        return geom_join._covers_frame([geom_join._geom_cover(bytes(b), params) for b in wkbs])

    return run


def geom_keys(
    df: DataFrame,
    geom_col: str = "geom",
    max_cells: int = DEFAULT_MAX_CELLS,
    finest_res: int = POINT_RES,
    buffer_u: int = 0,
    scale: int = 1,
) -> DataFrame:
    """Append (res, cells) index columns for a WKB geometry column.
    Geometry coordinates must be stored in µdeg (scale=1, the engine's
    canonical unit); other scales are not implemented — convert at
    ingest."""
    if scale != 1:
        raise NotImplementedError("store geometries in µdeg; scale=1 only")
    k = _keys_udf(df.sparkSession.sparkContext, max_cells, finest_res, buffer_u, scale)(
        F.col(geom_col)
    )
    # the struct's fields by one star expansion: a Column per field
    # costs ~10 py4j round trips each while the plan is built
    return df.withColumn("_keys", k).select("*", "_keys.*").drop("_keys")


# a side whose WKB total is over this is never read to the driver's
# Python process (the 100×-scale hazard: the fact side of a fact×dim
# geometry join)
BC_MAX_BYTES = 64 << 20

# a collected side with more distinct geometries missing from the
# driver's cover cache than this is keyed by one job across the cores,
# not serially on the driver
DRIVER_COVER_MAX = 1024


def _payload_dict(pairs) -> dict | None:
    """{key: wkb} from (key, wkb) pairs; None when a key maps to two
    different geometries (a refine would silently read the wrong one),
    so the caller falls back to its row-carried refine."""
    d = {}
    for k, wkb in pairs:
        wkb = bytes(wkb)
        if d.setdefault(k, wkb) != wkb:
            return None
    return d


def _arrow_stream(df: DataFrame):
    """Yield ``df``'s rows as Arrow record batches from ONE collect job,
    each batch as soon as its partition is done (so in no fixed order).
    Closing it early cancels the job, so the driver's Python process
    reads no more; tasks done by then have shipped their results to the
    driver JVM (all of them, with no more partitions than cores)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.pandas.serializers import ArrowCollectSerializer
    from pyspark.util import local_connect_and_auth

    sc = df.sparkSession.sparkContext
    tag = f"geowave-collect-{uuid.uuid4().hex}"
    sc.addJobTag(tag)  # the thread that runs the job inherits it
    try:
        port, secret, server = df._jdf.collectAsArrowToPython()
    finally:
        sc.removeJobTag(tag)
    sockfile, sock = local_connect_and_auth(port, secret)
    sock.settimeout(None)
    done = False
    try:
        for batch in ArrowCollectSerializer().load_stream(sockfile):
            done = isinstance(batch, list)  # the trailing batch order
            if not done:
                yield batch
    finally:
        if not done:
            sc.cancelJobsWithTag(tag)
        sockfile.close()
        sock.close()
        try:
            server.getResult()  # joins the serving thread
        except Py4JJavaError:
            if done:
                raise  # else the job was cancelled, or load_stream raised


class _Dimension(NamedTuple):
    payload: dict  # {key: wkb}
    table: object  # pyarrow.Table: the key and the _KEYS_DDL columns
    levels: list  # the res levels that carry cells
    rect: bool  # every geometry an axis-aligned rectangle
    fulldim: bool  # ... and none of them degenerate


def _keyed_schema(side: DataFrame, key: str) -> StructType:
    """``side``'s key column and the ``_KEYS_DDL`` columns."""
    return StructType([side.schema[key], *StructType.fromDDL(_KEYS_DDL).fields])


def _covers(spark, wkbs: list, params: tuple) -> list:
    """``_geom_cover`` of each WKB from the driver's cache; up to
    DRIVER_COVER_MAX distinct misses keyed on the driver, more by one
    job across the cores (the fact path's ``_keys_udf``)."""
    import pyarrow as pa

    miss = list({w for w in wkbs if (params, w) not in _POLYFILL_CACHE})
    if len(_POLYFILL_CACHE) + len(miss) >= _POLYFILL_CACHE_MAX:
        _POLYFILL_CACHE.clear()  # now, not between the hits
        miss = list(set(wkbs))
    got = {}
    if len(miss) > DRIVER_COVER_MAX:
        # one chunk per core: a large frame from Arrow gets one partition
        # per chunk (a small one is a LocalTableScan over the cores)
        chunks = np.array_split(np.array(miss, dtype=object), spark.sparkContext.defaultParallelism)
        frame = spark.createDataFrame(pa.table({"_g": pa.chunked_array(chunks, pa.binary())}))
        t = geom_keys(frame, "_g", *params).drop("_g").toArrow()
        col = {c: t.column(c).to_pylist() for c in t.column_names}
        bounds = zip(col["bx0"], col["by0"], col["bx1"], col["by1"])
        got = dict(zip(miss, zip(col["res"], col["cells"], bounds, col["rect"])))
        if len(got) < _POLYFILL_CACHE_MAX:
            _POLYFILL_CACHE.update(((params, w), c) for w, c in got.items())
    return [got.get(w) or _geom_cover(w, params) for w in wkbs]


def _collect_dimension(side: DataFrame, key: str, max_cells: int, buffer_u: int):
    """Read a geometry side (``key``, WKB ``_g``) to the driver in one
    collect job and key it (``_covers``). None — the caller takes its
    row-carried path — when a key maps to two geometries, or once the
    running WKB total passes BC_MAX_BYTES: the estimate that admitted
    the side can be far low (9–16× on generated sides), so the driver's
    Python process never holds more than the cap of it (the driver JVM
    can: see ``_arrow_stream``)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    keys, wkbs, total = [], [], 0
    with contextlib.closing(_arrow_stream(side)) as stream:
        for batch in stream:
            total += pc.sum(pc.binary_length(batch.column("_g"))).as_py() or 0
            if total > BC_MAX_BYTES:
                return None
            keys += batch.column(key).to_pylist()
            wkbs += batch.column("_g").to_pylist()
    payload = _payload_dict(zip(keys, wkbs))
    if payload is None:
        return None
    covers = _covers_frame(_covers(side.sparkSession, wkbs, (max_cells, POINT_RES, buffer_u)))
    covers.insert(0, key, keys)
    t = pa.Table.from_pandas(covers, to_arrow_schema(_keyed_schema(side, key)), preserve_index=False)
    rect = covers["rect"].to_numpy()
    full = ((covers["bx1"] > covers["bx0"]) & (covers["by1"] > covers["by0"])).to_numpy()
    levels = np.unique(covers["res"][covers["cells"].map(len) > 0]).tolist()
    return _Dimension(payload, t, levels, bool(rect.all()), bool((rect & full).all()))


def _fanout_sql(levels, cmp: str, coarse_bit: int, natural_bit: int) -> str:
    """SQL text of one side's exploded join keys (module docstring): its
    natural cells tagged (``natural_bit``, res), and its cells coarsened
    to each of the other side's ``levels`` m with ``m <cmp> res``, tagged
    (``coarse_bit``, m) — distinct parents per level before the explode,
    so duplicates never multiply candidates."""
    lv = ", ".join(str(int(v)) for v in levels)

    def tag(bit: int, m: str) -> str:
        return f"({bit << 53} | shiftleft(CAST({m} AS BIGINT), 48))"

    parent = "shiftleft(shiftright(c, 32 + res - m), 32) | shiftright(c & 4294967295, res - m)"
    coarse = (
        f"flatten(transform(filter(CAST(array({lv}) AS ARRAY<INT>), m -> m {cmp} res),"
        f" m -> array_distinct(transform(cells, c -> {tag(coarse_bit, 'm')} | {parent}))))"
    )
    return f"explode(concat({coarse}, transform(cells, c -> {tag(natural_bit, 'res')} | c)))"


def _pair_refine_by_keys_udf(l_bc, r_bc, predicate: str, distance_u: float | None):
    """(left, right) -> bool pair refinement. Each side is either a KEY
    whose geometry rides the task broadcast of its {key: wkb}
    dictionary (``l_bc`` / ``r_bc``; candidate rows then stay key-only)
    or, where that is None, a WKB column. Each batch evaluates every
    distinct (geometry, geometry) pair ONCE and gathers (hotspot
    candidate sets repeat the same pair through many shared cells);
    bulk kernels (all-lines × box, all-boxes × box) come from
    eval_one_to_many."""
    fn = P.PREDICATES.get(predicate)

    @F.pandas_udf("boolean")
    def run(lv: pd.Series, rv: pd.Series) -> pd.Series:
        from geowave_spark.geom.udfs import eval_one_to_many, parse_cached

        lget = bytes if l_bc is None else l_bc.value.__getitem__
        rget = bytes if r_bc is None else r_bc.value.__getitem__
        out = np.zeros(len(lv), dtype=bool)
        codes_l, uniq_l = pd.factorize(lv)
        codes_r, uniq_r = pd.factorize(rv)
        # group by the side with fewer distinct geometries in this batch
        if len(uniq_r) <= len(uniq_l):
            codes_g, uniq_g, gget = codes_r, uniq_r, rget
            codes_v, uniq_v, vget, many_first = codes_l, uniq_l, lget, True
        else:
            codes_g, uniq_g, gget = codes_l, uniq_l, lget
            codes_v, uniq_v, vget, many_first = codes_r, uniq_r, rget, False
        for u_i, idx in _group_indices(codes_g, len(uniq_g)):
            g = parse_cached(gget(uniq_g[u_i]))
            u_sub, inv = np.unique(codes_v[idx], return_inverse=True)
            geoms = [parse_cached(vget(uniq_v[s])) for s in u_sub]
            res_u = eval_one_to_many(predicate, fn, g, geoms, many_first, distance_u)
            out[idx] = res_u[inv]
        return pd.Series(out)

    # non-deterministic, so Catalyst keeps the refine filter above the
    # pair dedupe instead of pushing it below, where every shared-cell
    # duplicate of a pair would reach Python
    return run.asNondeterministic()


def _box_pair_native_pred(predicate: str, distance_u: float | None) -> Column | None:
    """CompareOperation between two full-dimensional axis-aligned
    rectangles as pure native bounds arithmetic over the candidate
    frame's (_lbx0.., _rbx0..) columns — no Python in the refine at
    all. Valid only when every geometry on both sides is a
    non-degenerate rect (the caller checks): closed-set JTS semantics
    reduce to interval comparisons, and contains/covers coincide
    because a full-dimensional rect nested in another always has
    interior-interior overlap."""
    lx0, ly0, lx1, ly1 = (F.col(c) for c in ("_lbx0", "_lby0", "_lbx1", "_lby1"))
    rx0, ry0, rx1, ry1 = (F.col(c) for c in ("_rbx0", "_rby0", "_rbx1", "_rby1"))
    if distance_u is not None:
        # BIGINT-exact gap arithmetic: gaps are ≤ 3.6e8 µdeg, so the
        # squared sum tops out at ~2.6e17 — comfortably inside long —
        # while the former double path rounded above 2^53 and could
        # flip a pair sitting exactly on a large radius. An integral
        # radius compares against an exact integer literal; a
        # fractional one (inherently approximate) falls back to double.
        gx = F.greatest(lx0 - rx1, rx0 - lx1, F.lit(0)).cast("long")
        gy = F.greatest(ly0 - ry1, ry0 - ly1, F.lit(0)).cast("long")
        d2 = gx * gx + gy * gy
        if float(distance_u).is_integer():
            return d2 <= F.lit(int(distance_u) ** 2)
        return d2.cast("double") <= float(distance_u) ** 2
    closed = (lx0 <= rx1) & (rx0 <= lx1) & (ly0 <= ry1) & (ry0 <= ly1)
    interior = (lx0 < rx1) & (rx0 < lx1) & (ly0 < ry1) & (ry0 < ly1)
    l_in_r = (lx0 >= rx0) & (lx1 <= rx1) & (ly0 >= ry0) & (ly1 <= ry1)
    r_in_l = (rx0 >= lx0) & (rx1 <= lx1) & (ry0 >= ly0) & (ry1 <= ly1)
    if predicate == "intersects":
        return closed
    if predicate in ("contains", "covers"):
        return r_in_l
    if predicate in ("within", "covered_by"):
        return l_in_r
    if predicate == "touches":
        return closed & ~interior
    if predicate == "overlaps":
        return interior & ~l_in_r & ~r_in_l
    if predicate == "equals":
        return (lx0 == rx0) & (ly0 == ry0) & (lx1 == rx1) & (ly1 == ry1)
    if predicate == "crosses":
        # area × area can never cross (JTS dimension rule)
        return F.lit(False)
    return None


class _Side(NamedTuple):
    keyed: DataFrame  # key, res, cells, bx0, by0, bx1, by1, rect
    levels: list  # the res levels that carry cells
    rect: bool
    fulldim: bool
    payload: dict | None  # {key: wkb} of a collected side
    geoms: DataFrame | None  # a fact side's (key, _g) rows, joined back


def _fact_side(side: DataFrame, key: str, max_cells: int, buffer_u: int) -> _Side:
    """A side that is not collected: keyed once (repartitioned, so a
    one-file source does not polyfill in one task) into an eager
    localCheckpoint that the candidate join and the WKB join-back both
    read — unlike a cache mark, it cannot be evicted into a second
    polyfill — then one aggregate for the flags and levels."""
    par = side.sparkSession.sparkContext.defaultParallelism
    keyed = geom_keys(side.repartition(par), "_g", max_cells, buffer_u=buffer_u)
    keyed = keyed.localCheckpoint(eager=True)
    rect, fulldim, levels = keyed.selectExpr(
        "coalesce(bool_and(rect), true)",
        "coalesce(bool_and(rect AND bx1 > bx0 AND by1 > by0), true)",
        "array_sort(collect_set(IF(size(cells) > 0, res, NULL)))",
    ).first()
    return _Side(keyed.drop("_g"), list(levels), rect, fulldim, None, keyed.select(key, "_g"))


def geom_geom_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_key: str = "l_key",
    right_key: str = "r_key",
    left_geom: str = "geom",
    right_geom: str = "geom",
    distance_u: int | None = None,
    how: str = "inner",
    max_cells: int = DEFAULT_MAX_CELLS,
    pair_filter: Column | None = None,
) -> DataFrame:
    """Geometry×geometry spatial join on ``predicate`` (or within
    ``distance_u`` when given). Negative predicates (disjoint, or a
    distance exceeded) are expressed as ``how='leftanti'`` on the
    positive form, exactly like the reference's negative-predicate
    subtractByKey (TieredSpatialJoin.java:362-368).

    A side under BC_MAX_BYTES by the optimizer's estimate (no job), or
    by its exact WKB total (one aggregate) when the estimate is over (a
    selective filter keeps its input's estimate without CBO), is read in
    one bounded collect (``_collect_dimension``): payloads ride a task
    broadcast, keyed rows a local frame. Any other side takes the fact
    path (``_fact_side``); its WKB joins back to the candidate pairs."""
    if predicate == "disjoint":
        raise ValueError(
            "disjoint join = leftanti on the positive predicate "
            "(cell candidates only see bounds-overlapping pairs)"
        )
    # ceil, not trunc: the buffer must be ≥ the radius for cover
    # completeness — flooring a fractional radius could under-buffer by
    # up to 1 µdeg and miss a pair sitting exactly on the boundary
    buffer_u = int(math.ceil(distance_u)) if distance_u else 0
    spark = left.sparkSession
    _widen_arrow_batches(spark)
    sides = []
    for df, key, geom, buf in ((left, left_key, left_geom, buffer_u),
                               (right, right_key, right_geom, 0)):
        side = df.selectExpr(f"`{key}`", f"`{geom}` AS _g")
        fits = (_size_estimate(side) <= BC_MAX_BYTES
                or (side.agg(F.sum(F.length("_g"))).first()[0] or 0) <= BC_MAX_BYTES)
        dim = _collect_dimension(side, key, max_cells, buf) if fits else None
        if dim is None:
            sides.append(_fact_side(side, key, max_cells, buf))
        else:  # the keyed rows become a local frame
            frame = spark.createDataFrame(dim.table, _keyed_schema(side, key))
            sides.append(_Side(frame, dim.levels, dim.rect, dim.fulldim, dim.payload, None))
    l, r = sides

    # the two box fast paths, from the side flags:
    # - every geometry a non-degenerate rect on BOTH sides → refine is
    #   pure native bounds arithmetic (no Python, no payloads)
    # - every COVER a closed-bbox cover (rect geometry, or any geometry
    #   under a distance buffer) → candidate dedupe is a free narrow
    #   filter: keep a pair only in the cell containing the reference
    #   point max(lo_l, lo_r) of the two cover bounds (the PBSM
    #   reference-point technique, Patel & DeWitt SIGMOD'96) instead of
    #   a dropDuplicates shuffle of every shared-cell duplicate
    both_full = l.fulldim and r.fulldim
    native_pred = _box_pair_native_pred(predicate, distance_u) if both_full else None
    skip_dedupe = r.rect and (l.rect or buffer_u > 0)
    bounds = ("bx0", "by0", "bx1", "by1") if (skip_dedupe or native_pred is not None) else ()

    def keys(s: _Side, p: str, key: str, levels, cmp: str, coarse_bit: int) -> DataFrame:
        fanout = _fanout_sql(levels, cmp, coarse_bit, 1 - coarse_bit)
        kept = (f"{c} AS _{p}{c}" for c in bounds)
        return s.keyed.selectExpr(f"`{key}`", f"{fanout} AS _k", *kept)

    lk = keys(l, "l", left_key, r.levels, "<=", 0)
    rk = keys(r, "r", right_key, l.levels, "<", 1)
    # a collected side is dimension-sized: broadcast it, skip the shuffle
    if r.payload is not None:
        rk = F.broadcast(rk)
    elif l.payload is not None:
        lk = F.broadcast(lk)
    cand = lk.join(rk, "_k")
    if pair_filter is not None:
        # e.g. key ordering for symmetric self-joins — applied BEFORE
        # the refine UDF so filtered pairs never reach Python
        cand = cand.where(pair_filter)

    if skip_dedupe:
        # reference-point dedupe: of the cells a pair shares at the
        # match res m, exactly one contains max(lo, lo) of the two cover
        # bounds (bbox covers include every cell of the closed rect by
        # grid_coord monotonicity) — keep the pair only there. Pure
        # narrow filter; m and the cell are read from the key.
        d = f"({POINT_RES} - (shiftright(_k, 48) & 31))"
        gx = _grid_sql(f"greatest(_lbx0 - {buffer_u}, _rbx0)", LON_OFF_U)
        gy = _grid_sql(f"greatest(_lby0 - {buffer_u}, _rby0)", LAT_OFF_U)
        cell = f"shiftleft(shiftright({gx}, {d}), 32) | shiftright({gy}, {d})"
        cand = cand.where(f"(_k & {(1 << 48) - 1}) = ({cell})")
    if native_pred is not None:
        cand = cand.where(native_pred)

    # dedupe the thin key pairs (cheap narrow shuffle); the refine runs
    # above it, on distinct pairs (its UDF is non-deterministic, so the
    # filter is not pushed below the aggregate). With both sides
    # collected it runs right there, so the pairs are hashed by left key
    # into one partition per core (AQE would coalesce a few-MB dedupe
    # into one task and serialize the refine) and sorted, so each Arrow
    # batch groups the pairs of one geometry
    matched = cand.select(left_key, right_key)
    if not skip_dedupe:
        if native_pred is None and l.payload is not None and r.payload is not None:
            matched = matched.repartition(spark.sparkContext.defaultParallelism, left_key)
            matched = matched.dropDuplicates([left_key, right_key]).sortWithinPartitions(left_key)
        else:
            matched = matched.dropDuplicates([left_key, right_key])
    if native_pred is None:
        # join a fact side's WKB back to the deduped pair set
        sc = spark.sparkContext
        args = []
        for s, key, g in ((l, left_key, "_lg"), (r, right_key, "_rg")):
            if s.payload is None:
                matched = matched.join(s.geoms.withColumnRenamed("_g", g), key)
            args.append(F.col(g if s.payload is None else key))
        l_bc, r_bc = (None if s.payload is None else sc.broadcast(s.payload) for s in (l, r))
        refine = _pair_refine_by_keys_udf(l_bc, r_bc, predicate, distance_u)(*args)
        matched = matched.where(refine).select(left_key, right_key)
        if l.payload is None or r.payload is None:
            # duplicate key values re-expand through the payload
            # join-back (one row per key occurrence) — collapse to
            # distinct pairs; shuffles only matches
            matched = matched.dropDuplicates([left_key, right_key])

    if how == "inner":
        return matched
    if how in ("leftsemi", "leftanti"):
        return left.join(matched.select(left_key), left_key, how)
    raise ValueError(how)


def _group_indices(codes: np.ndarray, n_uniq: int):
    """Yield (u_i, idx) per factorized group via one argsort +
    searchsorted — O(n log n) total, not the O(n·groups) of a per-group
    ``codes == u_i`` scan (with ~1000 geometries per batch that scan
    was the dominant refine cost, not the geometry kernels)."""
    order = np.argsort(codes, kind="stable")
    bounds = np.searchsorted(codes[order], np.arange(n_uniq + 1))
    for u_i in range(n_uniq):
        idx = order[bounds[u_i] : bounds[u_i + 1]]
        if len(idx):
            yield u_i, idx


def _point_refine_udf(predicate: str, distance_u: float | None, geom_bc=None):
    """(geom, x_u, y_u) -> bool: grouped fully-vectorized point
    refinement — one numpy kernel per distinct geometry per batch. The
    geometry is a WKB column, or, with ``geom_bc``, a KEY whose WKB
    rides the task broadcast of its {key: wkb} dictionary (once per
    executor, as the reference broadcasts its strategy/predicate,
    TieredSpatialJoin.java:138-141): at millions of candidates that
    cuts the Arrow boundary from ~130 B/row of repeated WKB to 8 B/row."""

    @F.pandas_udf("boolean")
    def run(g: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.Series:
        from geowave_spark.geom.udfs import parse_cached

        get = bytes if geom_bc is None else geom_bc.value.__getitem__
        out = np.zeros(len(g), dtype=bool)
        x = xs.to_numpy(dtype=np.float64)
        y = ys.to_numpy(dtype=np.float64)
        codes, uniq = pd.factorize(g)
        for u_i, idx in _group_indices(codes, len(uniq)):
            geom = parse_cached(get(uniq[u_i]))
            if distance_u is not None:
                out[idx] = points_distance_to_geom(x[idx], y[idx], geom) <= distance_u
            else:
                out[idx] = points_pred_batch(predicate, geom, x[idx], y[idx])
        return pd.Series(out)

    return run


def _size_estimate(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` in bytes — the number
    Spark's own broadcast choice reads. Planning only: no job."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes()))


def geom_point_join(
    points: DataFrame,
    geoms: DataFrame,
    predicate: str = "intersects",
    how: str = "inner",
    point_key: str = "event_id",
    geom_key: str = "s_suppkey",
    geom_col: str = "geom",
    distance_u: int | None = None,
    max_cells: int = DEFAULT_MAX_CELLS,
) -> DataFrame:
    """Points (x_u, y_u columns, no WKB materialization) × general
    geometries, through the extent × point join skeleton
    (spatial_join.extent_point_join): polyfill cells on the geometry
    side, the point side re-keyed per distinct geometry res by an exact
    parent shift (points_keyed_by_res), one packed-key equi-join, then
    the vectorized refine. Each geometry carries distinct cells at ONE
    res and a point maps to one cell per res, so a pair matches at most
    once — no dedupe stage, same argument as box_point_join.

    ``predicate`` is evaluated as pred(geom, point) for asymmetric ops:
    'contains' keeps points strictly interior, 'covers'/'intersects'
    are boundary-inclusive, 'touches' keeps boundary-only contact.
    ``distance_u`` switches to a buffered-cover + exact-distance join
    (GeomWithinDistance semantics).

    A geometry side under ``BC_MAX_BYTES`` by the optimizer's estimate
    (no job) is read and keyed in ONE bounded collect
    (``_collect_dimension``): the {key: wkb} payloads ride a task
    broadcast, the (key, cell) join side is a local Arrow table and the
    points are keyed at its res levels. Any other side takes the
    shuffle refine, whose candidate rows carry the WKB. Nothing is
    persisted; the polyfill stays cached per process
    (``_POLYFILL_CACHE``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = points.sparkSession
    _widen_arrow_batches(spark)
    side = geoms.selectExpr(f"`{geom_key}`", f"`{geom_col}` AS _g")
    buffer_u = int(distance_u) if distance_u else 0
    dim = None
    if _size_estimate(side) <= BC_MAX_BYTES:
        dim = _collect_dimension(side, geom_key, max_cells, buffer_u)
    if dim is not None:
        # one (key, cell) row per cell, cells packed with their res
        cells = dim.table.column("cells").combine_chunks()
        rows = pc.list_parent_indices(cells)
        res = dim.table.column("res").to_numpy().astype(np.int64)[rows.to_numpy()]
        cell = (res << 48) | pc.list_flatten(cells).to_numpy()
        keyed = pa.table({geom_key: dim.table.column(geom_key).take(rows), "cell": cell})
        schema = StructType([side.schema[geom_key], StructField("cell", LongType(), False)])
        g = spark.createDataFrame(keyed, schema)
        payload = spark.sparkContext.broadcast(dim.payload)
        refine = _point_refine_udf(predicate, distance_u, payload)(
            F.col(geom_key), F.col("x_u"), F.col("y_u"))
        return extent_point_join(points, g, refine, how, True, point_key, geom_key,
                                 res_levels=dim.levels)
    g = geom_keys(side.repartition(spark.sparkContext.defaultParallelism), "_g", max_cells,
                  buffer_u=buffer_u)
    refine = _point_refine_udf(predicate, distance_u)(F.col("_g"), F.col("x_u"), F.col("y_u"))
    # polyfill cells are packed (gx << 32) | gy ids at the geometry's
    # res ≤ POINT_RES: tagging them with res gives the skeleton's key
    g = g.withColumn("cell", F.explode("cells")).drop("cells")
    g = g.withColumn("cell", _join_key(F.col("res"), F.col("cell")))
    return extent_point_join(points, g, refine, how, False, point_key, geom_key)
