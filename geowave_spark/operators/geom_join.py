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
  tiered insertion ids per geometry       per-row (res, cells[]) from an
  (≤80, trimIndexIds)                     Arrow-batched polyfill UDF
                                          (cells intersecting the geom,
                                          ≤ max_cells — index/polyfill.py)
  collect distinct tiers per side         tiny distinct-res dims,
  (TieredSpatialJoin.java:174-191)        broadcast — no driver collect
  reprojectToTier cross-tier re-key       coarsen the finer side's cell
  (:471-511)                              array to the other side's res
                                          (array_distinct of exact
                                          parent shifts, pre-explode)
  same-tier cogroup + nested loop         TWO equi-joins on (res, cell):
  (:513-551)                              right-res ≤ left-res via
                                          coarsened-left × natural-right,
                                          strictly-finer right via
                                          natural-left × coarsened-right
                                          (disjoint by construction)
  exact predicate refinement              vectorized predicates
                                          (geom/udfs.pair_pred_batch:
                                          batch WKB parse cache + numpy
                                          point-group kernels)
  reduceByKey keep-first + DedupeFilter   dropDuplicates on the candidate
  (:343-349)                              key pair BEFORE refinement —
                                          candidates shuffle as key-only
                                          tuples (payloads join back to
                                          the deduped pair set from the
                                          checkpointed keyed frames, so
                                          WKB never rides the cell
                                          explode), then a post-refine
                                          dedupe collapses duplicate-key
                                          re-expansion
  semi/anti output (:362-378)             how='leftsemi' / 'leftanti'

Correctness of the cross-res rule: the set of parents (at res m) of the
cells intersecting g at a finer res IS polyfill(g, m) — children
partition the parent, so a parent intersects g iff some child does.
Matching at m = min(res_a, res_b) therefore compares both geometries'
exact covers at the same resolution.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from geowave_spark.geom import predicates as P
from geowave_spark.geom.predicates import (
    points_distance_to_geom,
    points_pred_batch,
)
from geowave_spark.geom.wkb import box, wkb_loads
from geowave_spark.index.native import _packed_cell
from geowave_spark.index.polyfill import polyfill
from geowave_spark.index.zorder import morton_decode, pick_res_for_extent
from geowave_spark.operators.spatial_join import POINT_RES, _join_key, extent_point_join
from geowave_spark import X_SCALE

DEFAULT_MAX_CELLS = 32

# shared across UDF instances within a python worker (see _keys_udf)
_POLYFILL_CACHE: dict = {}

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


@functools.lru_cache(maxsize=64)
def _keys_udf(sc, max_cells: int, finest_res: int, buffer_u: int, scale: int):
    """(wkb) -> struct(res int, cells array<long>): the insertion-id
    computation for arbitrary geometries (getRowIdsAtTier /
    decomposeRangesForEntry analog, TieredSFCIndexStrategy.java:369-407)
    with the trim of RDDUtils.trimIndexIds:158-184. ``buffer_u``
    expands the cover outward for distance predicates (getBufferAmount
    semantics, TieredSpatialJoin.java:146,413-419). Built once per
    parameter set: building a pandas UDF (pickle + JVM function
    object) costs ~37 gateway commands. The SparkContext ``sc`` is
    part of the key because the JVM function object carries that
    context's Python accumulator."""

    params = (max_cells, finest_res, buffer_u)

    @F.pandas_udf(
        "res int, cells array<long>, bx0 long, by0 long, bx1 long, by1 long, rect boolean"
    )
    def run(wkbs: pd.Series) -> pd.DataFrame:
        from geowave_spark.geom.wkb import Geometry
        from geowave_spark.operators import geom_join

        # worker-lifetime cache, reached through the imported module:
        # this closure is pickled by value, and a global it names
        # directly would arrive as a fresh copy with every task, so
        # nothing would carry over. Python workers are reused across
        # tasks and queries, so repeated keying of the same geometries
        # (every call of a join over an unchanged table) is near-free.
        cache = geom_join._POLYFILL_CACHE
        n = len(wkbs)
        res_out = np.empty(n, dtype=np.int32)
        cells_out = []
        bounds_out = np.empty((n, 4), dtype=np.int64)
        rect_out = np.empty(n, dtype=bool)
        for i, b in enumerate(wkbs):
            bb = (params, bytes(b))
            hit = cache.get(bb)
            if hit is None:
                if len(cache) >= 65536:
                    cache.clear()
                g = wkb_loads(bb[1])  # µdeg coordinates
                from geowave_spark.geom.udfs import _as_box_bounds

                # axis-aligned rectangles: every bbox-cover cell
                # intersects the geometry — trimming is a no-op, the
                # cover is the closed-bbox cover, and bounds fully
                # describe the geometry (native refine / reference-
                # point dedupe both key off this flag)
                is_rect = _as_box_bounds(g) is not None
                gx0, gy0, gx1, gy1 = g.bounds
                if buffer_u == 0:
                    # polyfill operates in degrees — scale down once
                    g_deg = Geometry(
                        g.gtype, [p / X_SCALE for p in g.parts], g.poly_ring_counts
                    )
                    r = min(
                        pick_res_for_extent(
                            int(gx1 - gx0), int(gy1 - gy0), max_cells
                        ),
                        finest_res,
                    )
                    cells = polyfill(g_deg, r, exact_trim=not is_rect)
                else:
                    x0, y0 = gx0 - buffer_u, gy0 - buffer_u
                    x1, y1 = gx1 + buffer_u, gy1 + buffer_u
                    r = min(
                        pick_res_for_extent(
                            int(x1 - x0), int(y1 - y0), max_cells
                        ),
                        finest_res,
                    )
                    cells = polyfill(
                        box(x0 / X_SCALE, y0 / X_SCALE, x1 / X_SCALE, y1 / X_SCALE),
                        r,
                    )
                # store cells as packed (gx<<32 | gy), not Morton: the
                # join only needs a bijective cell id, and packed ids
                # keep every derived expression (parent shift, the
                # reference-point cell in the dedupe filter) a handful
                # of shift/mask ops — Morton spread/compact trees
                # blow up Catalyst filter codegen (see index/native.py
                # _spread_col pitfall note)
                if cells:
                    mc = np.asarray(cells, dtype=np.int64)
                    cgx, cgy = morton_decode(mc)
                    cells = ((cgx << 32) | cgy).tolist()
                hit = (
                    r,
                    cells,
                    (int(round(gx0)), int(round(gy0)), int(round(gx1)), int(round(gy1))),
                    is_rect,
                )
                cache[bb] = hit
            res_out[i] = hit[0]
            cells_out.append(hit[1])
            bounds_out[i] = hit[2]
            rect_out[i] = hit[3]
        return pd.DataFrame(
            {
                "res": res_out,
                "cells": cells_out,
                "bx0": bounds_out[:, 0],
                "by0": bounds_out[:, 1],
                "bx1": bounds_out[:, 2],
                "by1": bounds_out[:, 3],
                "rect": rect_out,
            }
        )

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


_M32_PACK = (1 << 32) - 1


def _packed_parent(c: Column, d_res: Column) -> Column:
    """Ancestor of a packed (gx<<32 | gy) cell id: shift each half by
    d_res (reprojectToTier analog, TieredSFCIndexStrategy.java:514-535).
    ``shiftright`` via call_function accepts a column shift count; ids
    are non-negative so arithmetic shift is exact."""
    gx = F.call_function("shiftright", F.shiftright(c, 32), d_res)
    gy = F.call_function("shiftright", c.bitwiseAND(F.lit(_M32_PACK)), d_res)
    return _packed_cell(gx, gy)


def _coarsen_to(cells: Column, d_res: Column) -> Column:
    """Distinct exact parent cells (pre-explode so duplicates collapse
    before they multiply join candidates)."""
    return F.array_distinct(F.transform(cells, lambda c: _packed_parent(c, d_res)))


# per-side payload-dictionary cap for the auto broadcast decision: a
# side whose total WKB exceeds this is never collect()ed to the driver
# (the 100×-scale hazard: the fact side of a fact×dim geometry join)
BC_MAX_BYTES = 64 << 20

# below this EXACT per-side WKB size the keyed frames keep their
# persist() mark instead of eager-localCheckpointing (see
# geom_geom_join) — the checkpoint's block copy is a fixed latency
# that only pays for itself when recomputing the Arrow polyfill would
# cost more than the copy
EAGER_CKPT_MIN_BYTES = 32 << 20


def _payload_dict(pairs, key: str, strict: bool) -> dict | None:
    """{key: wkb} from (key, wkb) pairs. Keys must map to ONE geometry —
    a conflicting duplicate would silently refine candidates against
    the wrong geometry (same validation stance as DataStore.delete).
    Byte-identical duplicate rows are deduped (the dict is still
    correct). On a CONFLICTING duplicate: raise when ``strict`` (caller
    forced broadcasting), else return None so the auto path degrades to
    the WKB-carrying shuffle refine instead of failing a join that
    works without broadcasting."""
    d = {}
    for k, wkb in pairs:
        wkb = bytes(wkb)
        if d.setdefault(k, wkb) != wkb:
            if strict:
                raise ValueError(
                    f"geom join: key column {key!r} maps value {k!r} to "
                    "multiple distinct geometries — the broadcast payload "
                    "dictionary requires one geometry per key (pass a "
                    "unique id, or disable broadcasting for this side)"
                )
            return None
    return d


def _collect_payload_dict(sc, df: DataFrame, key: str, geom_col: str, strict: bool = True):
    """Broadcast {key: wkb} for one (small, size-gated) side; a
    conflicting duplicate key raises or returns None (``_payload_dict``)."""
    rows = df.select(key, geom_col).collect()
    d = _payload_dict(((row[key], row[geom_col]) for row in rows), key, strict)
    return None if d is None else sc.broadcast(d)


def _pair_refine_one_side_udf(bc, predicate: str, distance_u: float | None, dim_is_right: bool):
    """(fact_wkb, dim_key) -> bool: ONE side's payloads ride a task
    broadcast (the small dimension side); the other side's WKB stays on
    the candidate rows and is never collected to the driver — the
    fact-side-safe variant of _pair_refine_by_keys_udf. Batches group
    by the dimension key, so each dim geometry's kernel runs once per
    batch over all its fact candidates."""
    fn = P.PREDICATES.get(predicate)

    @F.pandas_udf("boolean")
    def run(wkbs: pd.Series, keys: pd.Series) -> pd.Series:
        from geowave_spark.geom.udfs import eval_one_to_many, parse_cached

        d = bc.value
        out = np.zeros(len(wkbs), dtype=bool)
        codes, uniq = pd.factorize(keys)
        for u_i, idx in _group_indices(codes, len(uniq)):
            g = parse_cached(d[uniq[u_i]])
            geoms = [parse_cached(bytes(wkbs.iloc[i])) for i in idx]
            # dim on the right → the varying (fact) geometries are the
            # predicate's FIRST argument
            out[idx] = eval_one_to_many(
                predicate, fn, g, geoms, dim_is_right, distance_u
            )
        return pd.Series(out)

    return run


def _pair_refine_by_keys_udf(l_bc, r_bc, predicate: str, distance_u: float | None):
    """(left_key, right_key) -> bool: broadcast-dictionary pair
    refinement — candidate rows carry only the two KEYS (16 B/row at
    the Arrow boundary instead of two repeated WKB blobs), the payloads
    ride task broadcasts, and each batch evaluates every distinct
    (geometry, geometry) pair ONCE and gathers (hotspot candidate sets
    repeat the same pair through many shared cells). Bulk kernels
    (all-lines × box, all-boxes × box) come from eval_one_to_many."""
    fn = P.PREDICATES.get(predicate)

    @F.pandas_udf("boolean")
    def run(lk: pd.Series, rk: pd.Series) -> pd.Series:
        from geowave_spark.geom.udfs import eval_one_to_many, parse_cached

        ldict = l_bc.value
        rdict = r_bc.value
        out = np.zeros(len(lk), dtype=bool)
        codes_l, uniq_l = pd.factorize(lk)
        codes_r, uniq_r = pd.factorize(rk)
        # group by the side with fewer distinct geometries in this batch
        if len(uniq_r) <= len(uniq_l):
            codes_g, uniq_g, gdict = codes_r, uniq_r, rdict
            codes_v, uniq_v, vdict, many_first = codes_l, uniq_l, ldict, True
        else:
            codes_g, uniq_g, gdict = codes_l, uniq_l, ldict
            codes_v, uniq_v, vdict, many_first = codes_r, uniq_r, rdict, False
        order = np.argsort(codes_g, kind="stable")
        bounds = np.searchsorted(codes_g[order], np.arange(len(uniq_g) + 1))
        for u_i in range(len(uniq_g)):
            idx = order[bounds[u_i] : bounds[u_i + 1]]
            if not len(idx):
                continue
            g = parse_cached(gdict[uniq_g[u_i]])
            sub = codes_v[idx]
            u_sub, inv = np.unique(sub, return_inverse=True)
            geoms = [parse_cached(vdict[uniq_v[s]]) for s in u_sub]
            res_u = eval_one_to_many(predicate, fn, g, geoms, many_first, distance_u)
            out[idx] = res_u[inv]
        return pd.Series(out)

    return run


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


def _pair_refine_udf(predicate: str, distance_u: float | None):
    """(left_wkb, right_wkb) -> bool, vectorized via pair_pred_batch."""
    from geowave_spark.geom.udfs import pair_pred_batch, parse_cached

    if distance_u is not None:

        def run(a: pd.Series, b: pd.Series) -> pd.Series:
            from geowave_spark.geom.udfs import _extract_point_arrays, _grouped

            out = np.zeros(len(a), dtype=bool)
            for g, idx, varying, _pf in _grouped(a, b):
                pts = _extract_point_arrays(varying, idx)
                if pts is not None:
                    out[idx] = points_distance_to_geom(pts[0], pts[1], g) <= distance_u
                else:
                    for i in idx:
                        out[i] = P.distance(parse_cached(bytes(varying[i])), g) <= distance_u
            return pd.Series(out)

        return F.pandas_udf(run, BooleanType())
    return F.pandas_udf(pair_pred_batch(predicate, P.PREDICATES[predicate]), BooleanType())


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
    broadcast_right: bool | None = None,
    pair_filter: Column | None = None,
) -> DataFrame:
    """Geometry×geometry spatial join on ``predicate`` (or within
    ``distance_u`` when given). Negative predicates (disjoint, or a
    distance exceeded) are expressed as ``how='leftanti'`` on the
    positive form, exactly like the reference's negative-predicate
    subtractByKey (TieredSpatialJoin.java:362-368).

    ``broadcast_right=None`` (default) size-gates payload broadcasting
    PER SIDE: a side whose total WKB is under BC_MAX_BYTES ships as a
    driver-collected {key: wkb} task broadcast (keys must be unique);
    a larger side keeps its WKB on the candidate rows and is never
    collected. ``True`` forces both dictionaries (collects BOTH sides
    — dimension-sized inputs only); ``False`` disables broadcasting
    entirely (shuffle refine on row-carried WKB)."""
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
    par = spark.sparkContext.defaultParallelism
    # repartition before the polyfill UDF (a single-file source would
    # otherwise run all of it in one task), MATERIALIZE after it: both
    # key frames feed TWO join branches plus a res dimension — the
    # exact spot the reference persists reprojected tiers
    # (TieredSpatialJoin.java:510 MEMORY_AND_DISK_SER). Round 4: eager
    # localCheckpoint instead of persist() — a plain persist mark is
    # advisory (cache eviction under memory pressure, or a caller'''s
    # clearCache, silently reverts to recomputing the Arrow polyfill
    # ONCE PER UNION BRANCH — measured 2× covering cost at 1.6M
    # geometries); the checkpoint truncates lineage so each keyed frame
    # is computed exactly once regardless of cache state. At cluster
    # scale the production path is a reliable checkpoint into the stage
    # store (plans/checkpoint.py) — same contract, durable blocks.
    # Round 5: the eager checkpoint is SIZE-GATED on the EXACT per-side
    # WKB bytes. Its two extra Spark jobs + block writes buy the
    # polyfill-once-regardless-of-cache-state guarantee — essential at
    # fact scale (the round-4 union-branch recompute bug), pure latency
    # tax on dimension-sized inputs where the whole join runs ~1 s
    # (BENCH.md §10.2). Order of operations: the keyed frames first
    # take a persist() mark; the _side_stats aggregates below
    # materialize that cache AND return the exact WKB byte totals; a
    # side above the gate is then checkpointed FROM the cache (a block
    # copy, not a recompute) and the mark dropped. A Catalyst plan-size
    # estimate was tried first and rejected: it sees the pre-UDF input
    # (8 bytes/row for a generated key column), not the constructed
    # WKB, so a fact-scale side would silently keep the advisory mark.
    _KEY_FIELDS = ("res", "cells", "bx0", "by0", "bx1", "by1", "rect")
    l = geom_keys(
        left.select(F.col(left_key), F.col(left_geom).alias("_lg")).repartition(par),
        "_lg",
        max_cells,
        buffer_u=buffer_u,
    ).withColumnsRenamed({c: f"_l{c}" for c in _KEY_FIELDS}).persist()
    r = geom_keys(
        right.select(F.col(right_key), F.col(right_geom).alias("_rg")).repartition(par),
        "_rg",
        max_cells,
    ).withColumnsRenamed({c: f"_r{c}" for c in _KEY_FIELDS}).persist()

    # driver-side tiny aggregates deciding the two box fast paths AND
    # the broadcast plan:
    # - every geometry a non-degenerate rect on BOTH sides → refine is
    #   pure native bounds arithmetic (no Python, no payload broadcast)
    # - every COVER a closed-bbox cover (rect geometry, or any geometry
    #   under a distance buffer) → candidate dedupe is a free narrow
    #   filter: keep a pair only in the cell containing the reference
    #   point max(lo_l, lo_r) of the two cover bounds (the PBSM
    #   reference-point technique, Patel & DeWitt SIGMOD'96) instead of
    #   a dropDuplicates shuffle of every shared-cell duplicate
    # - per-side total WKB bytes gate the payload-dictionary broadcast:
    #   only a side under BC_MAX_BYTES is ever collect()ed (a fact-
    #   scale side keeps its WKB on candidate rows — never the driver)
    def _side_stats(df, p, geom_col):
        row = df.agg(
            F.min(F.col(f"_{p}rect")).alias("rect"),
            F.min(
                F.col(f"_{p}rect")
                & (F.col(f"_{p}bx1") > F.col(f"_{p}bx0"))
                & (F.col(f"_{p}by1") > F.col(f"_{p}by0"))
            ).alias("fulldim"),
            F.sum(F.length(geom_col)).alias("bytes"),
        ).first()
        return (
            row["rect"] if row["rect"] is not None else True,
            row["fulldim"] if row["fulldim"] is not None else True,
            int(row["bytes"]) if row["bytes"] is not None else 0,
        )

    l_rect, l_fulldim, l_bytes = _side_stats(l, "l", "_lg")
    r_rect, r_fulldim, r_bytes = _side_stats(r, "r", "_rg")

    # exact-bytes checkpoint gate (comment at the persist site above):
    # a fact-scale side trades one cache->block copy for lineage
    # truncation; a dimension-sized side keeps the (now warm) mark
    def _harden(df, nbytes):
        if nbytes <= EAGER_CKPT_MIN_BYTES:
            return df
        ck = df.localCheckpoint(eager=True)
        df.unpersist()
        return ck

    l = _harden(l, l_bytes)
    r = _harden(r, r_bytes)
    native_pred = (
        _box_pair_native_pred(predicate, distance_u)
        if (l_fulldim and r_fulldim)
        else None
    )
    skip_dedupe = r_rect and (l_rect or buffer_u > 0)

    # broadcast plan: None = auto (size-gated per side); True forces
    # BOTH payload dictionaries (collects both sides — only safe when
    # the caller knows both are dimension-sized); False disables all
    # payload broadcasting (WKB-carrying shuffle refine).
    if broadcast_right is None:
        bc_l = l_bytes <= BC_MAX_BYTES
        bc_r = r_bytes <= BC_MAX_BYTES
    else:
        bc_l = bc_r = bool(broadcast_right)
    l_bc = r_bc = None
    sc = spark.sparkContext
    if native_pred is None:
        # payload dictionaries ride task broadcasts (the strategy-
        # broadcast pattern of TieredSpatialJoin.java:138-141) so
        # candidate rows carry keys, not repeated geometry blobs; the
        # native-rect path needs no payloads at all — bounds refine
        forced = broadcast_right is True
        if bc_l:
            l_bc = _collect_payload_dict(sc, l, left_key, "_lg", strict=forced)
            if l_bc is None:
                bc_l = False  # conflicting dup keys → shuffle refine
        if bc_r:
            r_bc = _collect_payload_dict(sc, r, right_key, "_rg", strict=forced)
            if r_bc is None:
                bc_r = False
    # Round 4: payloads NEVER ride the candidate explode. Carrying WKB
    # through the (res, cell) fan-out duplicated each geometry's bytes
    # once per emitted cell (~7-15× shuffle amplification) and made
    # shuffle IO the non-scaling term at 3.2M-geometry scale
    # (BENCH.md §9.4). Candidate rows shuffle as key/res/cell tuples;
    # non-broadcast payloads re-attach by an equi-join against the
    # checkpointed keyed frame AFTER pair dedupe — each side's WKB
    # shuffles once per distinct candidate pair, not once per cell.
    l_geoms = (
        l.select(left_key, "_lg") if (native_pred is None and not bc_l) else None
    )
    r_geoms = (
        r.select(right_key, "_rg") if (native_pred is None and not bc_r) else None
    )
    l = l.drop("_lg")
    r = r.drop("_rg")
    if bc_r:
        # the keyed (cells-only) right frame is dimension-sized too —
        # hint the equi-joins to broadcast it and skip the shuffle
        r = F.broadcast(r)

    # collect the distinct res sets driver-side — tiny bounded lists,
    # the "collect distinct tiers per side" step of the reference
    # (TieredSpatialJoin.java:174-191). Emitting them as literal-array
    # filter+explode keeps every join in the plan a pure equi-join (no
    # BroadcastNestedLoopJoin even for the res fan-out).
    rres_vals = sorted(x[0] for x in r.select("_rres").distinct().collect())
    lres_vals = sorted(x[0] for x in l.select("_lres").distinct().collect())

    def _res_fanout(res_col: Column, vals, strict: bool) -> Column:
        arr = F.array(*[F.lit(int(v)) for v in vals])
        if strict:
            return F.explode(F.filter(arr, lambda x: x < res_col))
        return F.explode(F.filter(arr, lambda x: x <= res_col))

    # branch 1: right res ≤ left res — coarsen left to each right res
    l1 = (
        l.withColumn("_jres", _res_fanout(F.col("_lres"), rres_vals, False))
        .withColumn(
            "_jcell",
            F.explode(_coarsen_to(F.col("_lcells"), F.col("_lres") - F.col("_jres"))),
        )
        .drop("_lcells")
    )
    r1 = r.withColumn("_jcell", F.explode("_rcells")).drop("_rcells")
    cand1 = l1.join(r1, (F.col("_jres") == F.col("_rres")) & (l1["_jcell"] == r1["_jcell"]))

    # branch 2: right strictly finer — coarsen right to each left res
    r2 = (
        r.withColumn("_jres", _res_fanout(F.col("_rres"), lres_vals, True))
        .withColumn(
            "_jcell",
            F.explode(_coarsen_to(F.col("_rcells"), F.col("_rres") - F.col("_jres"))),
        )
        .drop("_rcells")
    )
    l2 = l.withColumn("_jcell", F.explode("_lcells")).drop("_lcells")
    cand2 = l2.join(r2, (F.col("_jres") == F.col("_lres")) & (l2["_jcell"] == r2["_jcell"]))

    cols = [left_key, right_key]
    if skip_dedupe or native_pred is not None:
        cols += ["_lbx0", "_lby0", "_lbx1", "_lby1", "_rbx0", "_rby0", "_rbx1", "_rby1"]
    sel1 = [F.col(c) for c in cols]
    sel2 = [F.col(c) for c in cols]
    if skip_dedupe:
        sel1 += [F.col("_jres").alias("_cres"), l1["_jcell"].alias("_ccell")]
        sel2 += [F.col("_jres").alias("_cres"), l2["_jcell"].alias("_ccell")]
    cand = cand1.select(*sel1).unionByName(cand2.select(*sel2))
    if pair_filter is not None:
        # e.g. key ordering for symmetric self-joins — applied BEFORE
        # the refine UDF so filtered pairs never reach Python
        cand = cand.where(pair_filter)

    if skip_dedupe:
        # reference-point dedupe: of the cells a pair shares at the
        # match res, exactly one contains max(lo, lo) of the two cover
        # bounds (bbox covers include every cell of the closed rect by
        # grid_coord monotonicity) — keep the pair only there. Pure
        # narrow filter; no shuffle, and with packed cell ids the
        # per-row expression is two divisions and three shifts.
        from geowave_spark import LAT_OFF_U
        from geowave_spark.index.native import grid_coord_col

        refx = F.greatest(F.col("_lbx0") - F.lit(buffer_u), F.col("_rbx0"))
        refy = F.greatest(F.col("_lby0") - F.lit(buffer_u), F.col("_rby0"))
        d = F.lit(POINT_RES) - F.col("_cres")
        gx = F.call_function("shiftright", grid_coord_col(refx, POINT_RES), d)
        gy = F.call_function("shiftright", grid_coord_col(refy, POINT_RES, LAT_OFF_U), d)
        cand = cand.where(F.col("_ccell") == _packed_cell(gx, gy))

    if native_pred is not None:
        matched = cand.where(native_pred).select(left_key, right_key)
        if not skip_dedupe:
            matched = matched.dropDuplicates([left_key, right_key])
    else:
        # candidate rows are key/res/cell tuples (~24 B) in EVERY
        # refine mode — dedupe the pairs BEFORE refinement (cheap
        # narrow shuffle) so each pair reaches the predicate exactly
        # once, then attach whichever payloads don't ride a task
        # broadcast by joining the deduped pair set back to the
        # checkpointed keyed frames (reduceByKey-before-refine is
        # now affordable precisely because the rows are thin)
        if not skip_dedupe:
            cand = cand.dropDuplicates([left_key, right_key])
        if l_geoms is not None:
            cand = cand.join(l_geoms, left_key)
        if r_geoms is not None:
            cand = cand.join(r_geoms, right_key)
        if bc_l and bc_r:
            refine = _pair_refine_by_keys_udf(l_bc, r_bc, predicate, distance_u)(
                F.col(left_key), F.col(right_key)
            )
        elif bc_r:
            refine = _pair_refine_one_side_udf(r_bc, predicate, distance_u, True)(
                F.col("_lg"), F.col(right_key)
            )
        elif bc_l:
            refine = _pair_refine_one_side_udf(l_bc, predicate, distance_u, False)(
                F.col("_rg"), F.col(left_key)
            )
        else:
            refine = _pair_refine_udf(predicate, distance_u)(
                F.col("_lg"), F.col("_rg")
            )
        matched = cand.where(refine).select(left_key, right_key)
        if l_geoms is not None or r_geoms is not None:
            # duplicate key values re-expand through the payload
            # join-back (one row per key occurrence) — collapse to
            # distinct pairs; shuffles only matches. Pure-broadcast
            # mode has no join-back (pairs already distinct), and for
            # WKB-keyed callers (sql_rewrite) skipping this avoids a
            # second blob shuffle.
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


def _point_refine_udf(predicate: str, distance_u: float | None):
    """(geom_wkb, x_u, y_u) -> bool: grouped fully-vectorized point
    refinement — one numpy kernel per distinct geometry per batch."""

    @F.pandas_udf("boolean")
    def run(g: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.Series:
        from geowave_spark.geom.udfs import parse_cached

        out = np.zeros(len(g), dtype=bool)
        x = xs.to_numpy(dtype=np.float64)
        y = ys.to_numpy(dtype=np.float64)
        codes, uniq = pd.factorize(g)
        for u_i, idx in _group_indices(codes, len(uniq)):
            geom = parse_cached(bytes(uniq[u_i]))
            if distance_u is not None:
                out[idx] = points_distance_to_geom(x[idx], y[idx], geom) <= distance_u
            else:
                out[idx] = points_pred_batch(predicate, geom, x[idx], y[idx])
        return pd.Series(out)

    return run


def _point_refine_by_id_udf(geom_bc, predicate: str, distance_u: float | None):
    """(geom_key, x_u, y_u) -> bool: the broadcast-dictionary variant —
    candidate rows carry only the geometry KEY; the WKB payloads ride a
    task broadcast once per executor (the reference broadcasts its
    strategy/predicate the same way, TieredSpatialJoin.java:138-141).
    At millions of candidates this cuts the Arrow boundary from
    ~130 B/row of repeated WKB to 8 B/row."""

    @F.pandas_udf("boolean")
    def run(k: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.Series:
        from geowave_spark.geom.udfs import parse_cached

        geoms = geom_bc.value
        out = np.zeros(len(k), dtype=bool)
        x = xs.to_numpy(dtype=np.float64)
        y = ys.to_numpy(dtype=np.float64)
        codes, uniq = pd.factorize(k)
        for u_i, idx in _group_indices(codes, len(uniq)):
            geom = parse_cached(geoms[uniq[u_i]])
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


def _collect_dimension(spark, keyed: DataFrame, key: str, strict: bool):
    """One ``collect`` of a keyed geometry side (key, wkb and the
    ``geom_keys`` columns), read as an Arrow table. Returns (payload dict, keyed frame,
    res levels): the {key: wkb} payload dictionary, the ``(key, cell)``
    join side (cells packed with their res) as a frame built from a
    local Arrow table, and the distinct res levels that carry cells.
    Returns None when the exact WKB total is over ``BC_MAX_BYTES``
    (unless ``strict``: the caller forced broadcasting) or a key maps
    to conflicting geometries (``_payload_dict``)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import LongType, StructField, StructType

    t = keyed.toArrow()
    wkb = t.column("_g")
    if not strict and (pc.sum(pc.binary_length(wkb)).as_py() or 0) > BC_MAX_BYTES:
        return None
    payload = _payload_dict(zip(t.column(key).to_pylist(), wkb.to_pylist()), key, strict)
    if payload is None:
        return None
    cells = t.column("cells").combine_chunks()
    rows = pc.list_parent_indices(cells)
    res = t.column("res").to_numpy().astype(np.int64)[rows.to_numpy()]
    cell = (res << 48) | pc.list_flatten(cells).to_numpy()
    side = pa.table({key: t.column(key).take(rows), "cell": cell})
    schema = StructType([keyed.schema[key], StructField("cell", LongType(), False)])
    frame = spark.createDataFrame(side, schema)
    return payload, frame, np.unique(res).tolist()


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
    broadcast_geoms: bool | None = None,
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

    Broadcast: under auto (``broadcast_geoms=None``) the gate is the
    optimizer's size estimate of the (key, geometry) side — no job.
    Under ``BC_MAX_BYTES``, ONE collect of the keyed side (the polyfill
    runs inside it) gives the exact WKB total, the {key: wkb} payload
    dictionary (a task broadcast, so candidate rows stay key-only), the
    (key, cell) join side and the res levels the points are keyed at.
    Post-check: an exact total over the cap (a wrong estimate) or a key
    mapped to conflicting geometries drops the rows and falls back to
    the shuffle refine, whose candidate rows carry the WKB — one wasted
    job, never a wrong row. ``broadcast_geoms=True`` skips the size
    checks and raises ValueError on a conflicting key; False goes to
    the shuffle refine directly. Nothing is persisted; the polyfill
    stays cached per Python worker (``_POLYFILL_CACHE``)."""
    spark = points.sparkSession
    _widen_arrow_batches(spark)
    side = geoms.selectExpr(f"`{geom_key}`", f"`{geom_col}` AS _g")
    buffer_u = int(distance_u) if distance_u else 0
    if broadcast_geoms is None:
        try_broadcast = _size_estimate(side) <= BC_MAX_BYTES
    else:
        try_broadcast = broadcast_geoms
    dim = None
    if try_broadcast:
        keyed = geom_keys(side, "_g", max_cells, buffer_u=buffer_u)
        dim = _collect_dimension(spark, keyed, geom_key, strict=broadcast_geoms is True)
    if dim is not None:
        payload, g, levels = dim
        refine = _point_refine_by_id_udf(spark.sparkContext.broadcast(payload), predicate,
                                         distance_u)(F.col(geom_key), F.col("x_u"), F.col("y_u"))
        return extent_point_join(points, g, refine, how, True, point_key, geom_key,
                                 res_levels=levels)
    g = geom_keys(side.repartition(spark.sparkContext.defaultParallelism), "_g", max_cells,
                  buffer_u=buffer_u)
    refine = _point_refine_udf(predicate, distance_u)(F.col("_g"), F.col("x_u"), F.col("y_u"))
    # polyfill cells are packed (gx << 32) | gy ids at the geometry's
    # res ≤ POINT_RES: tagging them with res gives the skeleton's key
    g = g.withColumn("cell", F.explode("cells")).drop("cells")
    g = g.withColumn("cell", _join_key(F.col("res"), F.col("cell")))
    return extent_point_join(points, g, refine, how, False, point_key, geom_key)
