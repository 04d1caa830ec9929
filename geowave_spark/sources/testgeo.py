"""Deterministic geo-coordinate derivation over the driver's testdata.

The sandbox testdata (TPC-H-ish tables, TESTDATA.md) carries no spatial
columns, so the engine derives **integer micro-degree** coordinates from
stable keys with pure integer arithmetic. The same formulas exist three
ways — Spark Column, ANSI-SQL text (DuckDB oracle), numpy — and are
bit-exact across all three, which is what makes the driver's
value-hash correctness gate meaningful for spatial operators.

Knuth multiplicative hashing (public domain constant 2654435761) gives
a uniform scatter; a deliberate 20%% "hotspot" mode concentrates rows
into 5 dense clusters to exercise skew handling (FIXTURES.md §1; the
salting analog of core/index/.../simple/HashKeyIndexStrategy.java:44-70).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

K1 = 2654435761  # Knuth multiplicative hash constant
K2 = 2246822519  # xxhash prime (public)
LON_SPAN = 360_000_000
LAT_SPAN = 170_000_000  # keep clear of the poles: [-85, 85]
HOT_N = 5
HOT_RADIUS_U = 500_000  # 0.5 degrees

# hotspot centers (micro-degrees), fixed
HOT_CX = [-73_950_000, 2_350_000, 139_700_000, -118_250_000, 77_200_000]
HOT_CY = [40_700_000, 48_850_000, 35_650_000, 34_050_000, 28_600_000]


def _scatter_exprs(key: str) -> tuple[str, str]:
    """SQL text for the uniform scatter of a BIGINT key column."""
    x = f"((({key} * {K1}) % {LON_SPAN}) + {LON_SPAN}) % {LON_SPAN} - {LON_SPAN // 2}"
    y = f"((({key} * {K2}) % {LAT_SPAN}) + {LAT_SPAN}) % {LAT_SPAN} - {LAT_SPAN // 2}"
    return x, y


def _hot_exprs(key: str) -> tuple[str, str]:
    """SQL text: rows with key%5==0 snap near one of 5 hotspot centers.
    The cluster index is (key//5)%5 — NOT key%5, which is always 0 for
    the selected keys and would degenerate all hot rows into a single
    cluster."""
    hx = f"CASE (({key} // 5) % {HOT_N})"
    hy = f"CASE (({key} // 5) % {HOT_N})"
    for i in range(HOT_N):
        hx += f" WHEN {i} THEN {HOT_CX[i]}"
        hy += f" WHEN {i} THEN {HOT_CY[i]}"
    hx += " END"
    hy += " END"
    jx = f"(({key} * {K2}) % {2 * HOT_RADIUS_U}) - {HOT_RADIUS_U}"
    jy = f"(({key} * {K1}) % {2 * HOT_RADIUS_U}) - {HOT_RADIUS_U}"
    # keys are non-negative in testdata so the jitter mod stays in range
    return f"({hx} + {jx})", f"({hy} + {jy})"


def xy_sql(key: str) -> tuple[str, str]:
    """(x_u, y_u) SQL expressions for a non-negative BIGINT key column.

    key % 5 == 0 → hotspot cluster member (20%% of rows, skew fixture);
    otherwise uniform scatter.
    """
    sx, sy = _scatter_exprs(key)
    hx, hy = _hot_exprs(key)
    x = f"(CASE WHEN ({key} % 5) = 0 THEN {hx} ELSE {sx} END)"
    y = f"(CASE WHEN ({key} % 5) = 0 THEN {hy} ELSE {sy} END)"
    return x, y


def xy_cols(key: Column) -> tuple[Column, Column]:
    """Same derivation as Spark Columns (pure JVM integer arithmetic)."""
    key = key.cast("long")
    sx = F.pmod(key * F.lit(K1), F.lit(LON_SPAN)) - F.lit(LON_SPAN // 2)
    sy = F.pmod(key * F.lit(K2), F.lit(LAT_SPAN)) - F.lit(LAT_SPAN // 2)
    m = F.pmod(F.call_function("div", key, F.lit(5)), F.lit(HOT_N)).cast("int")
    hx_c = F.element_at(F.array(*[F.lit(v) for v in HOT_CX]), m + 1)
    hy_c = F.element_at(F.array(*[F.lit(v) for v in HOT_CY]), m + 1)
    hx = hx_c + (key * F.lit(K2)) % F.lit(2 * HOT_RADIUS_U) - F.lit(HOT_RADIUS_U)
    hy = hy_c + (key * F.lit(K1)) % F.lit(2 * HOT_RADIUS_U) - F.lit(HOT_RADIUS_U)
    is_hot = F.pmod(key, F.lit(5)) == 0
    return (
        F.when(is_hot, hx).otherwise(sx).alias("x_u"),
        F.when(is_hot, hy).otherwise(sy).alias("y_u"),
    )


def xy_numpy(key: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    key = key.astype(np.int64)
    sx = (key * K1) % LON_SPAN - LON_SPAN // 2
    sy = (key * K2) % LAT_SPAN - LAT_SPAN // 2
    m = (key // 5) % HOT_N
    hx = np.take(HOT_CX, m) + (key * K2) % (2 * HOT_RADIUS_U) - HOT_RADIUS_U
    hy = np.take(HOT_CY, m) + (key * K1) % (2 * HOT_RADIUS_U) - HOT_RADIUS_U
    hot = key % 5 == 0
    return np.where(hot, hx, sx), np.where(hot, hy, sy)


def events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's canonical point table: events + derived (x_u, y_u)."""
    x, y = xy_cols(F.col("event_id"))
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", x, y
    )


def events_points_sql(sf_dir: str) -> str:
    """DuckDB FROM-clause subquery equivalent of events_points."""
    x, y = xy_sql("event_id")
    return (
        f"(SELECT event_id, ts, user_id, event_type, value, "
        f"{x} AS x_u, {y} AS y_u FROM events)"
    )


# visibility fixture: deterministic row-visibility expressions (key
# mod 8) + a per-row field-visibility JSON (key mod 3) over events.
# VIS_EXPRS[6] is the precedence trap: the reference's grammar folds
# & and | LEFT-ASSOCIATIVELY with equal precedence
# (VisibilityExpression.parseTokens), so 'alpha|beta&omega' means
# '(alpha|beta)&omega' = FALSE under {alpha, gamma} — an engine using
# conventional AND-binds-tighter precedence would wrongly return
# those rows, and the hand-evaluated oracle IN-list catches it.
VIS_EXPRS = [
    "",
    "alpha",
    "omega",
    "alpha&beta",
    "alpha|beta",
    "beta&(alpha|gamma)",
    "alpha|beta&omega",
    "(alpha&omega)|gamma",
]
FIELD_VIS_JSON = [
    '{"value":"gamma"}',  # satisfied — value stays
    '{"value":"omega"}',  # fails — value masked
    '{"va.*":"beta&omega"}',  # regex field key, fails — value masked
]


def events_visible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events carrying a row `visibility` expression and a per-row
    `field_visibility` JSON map — the engine's stand-in for a store
    written through the reference's visibility handlers."""
    vis = F.element_at(
        F.array(*[F.lit(e) for e in VIS_EXPRS]),
        (F.col("event_id") % 8 + 1).cast("int"),
    )
    fvis = F.element_at(
        F.array(*[F.lit(j) for j in FIELD_VIS_JSON]),
        (F.col("event_id") % 3 + 1).cast("int"),
    )
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "value",
        vis.alias("visibility"),
        fvis.alias("field_visibility"),
    )


def events_visible_sql() -> str:
    """DuckDB FROM-clause twin of events_visible (same key-mod
    derivation; the visibility SEMANTICS stay hand-evaluated in the
    oracle query, never re-derived through the engine parser)."""
    vis_cases = " ".join(
        f"WHEN {i} THEN '{e}'" for i, e in enumerate(VIS_EXPRS)
    )
    fvis_cases = " ".join(
        f"WHEN {i} THEN '{j.replace(chr(39), chr(39) * 2)}'"
        for i, j in enumerate(FIELD_VIS_JSON)
    )
    return (
        f"(SELECT event_id, value, "
        f"CASE event_id % 8 {vis_cases} END AS visibility, "
        f"CASE event_id % 3 {fvis_cases} END AS field_visibility "
        f"FROM events)"
    )


# interval (ranged-time) fixture: duration 1h..49h derived from the
# key, so intervals touch 1-4 DAY bins (a ~49h interval starting just
# before midnight crosses three midnights) — exercises the
# bin-spanning insertion of the interval index (TemporalBinningStrategy)
IVAL_DUR_MIN_S = 3600
IVAL_DUR_SPAN_S = 172_800


def events_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-valued event table: (ts_start, ts_end) derived from ts
    plus a key-hashed duration — the engine's stand-in for features
    whose time is a START/END attribute pair (the reference's
    TimeDescriptors start/end range configuration). End exclusive."""
    from geowave_spark.operators.temporal import interval_end_col

    pts = events_points(spark, sf_dir)
    dur = (
        F.lit(IVAL_DUR_MIN_S)
        + F.pmod(F.col("event_id") * F.lit(K1), F.lit(IVAL_DUR_SPAN_S))
    ).cast("long")
    return pts.select(
        "event_id",
        F.col("ts").alias("ts_start"),
        interval_end_col(F.col("ts"), dur).alias("ts_end"),
        "user_id",
        "value",
        "x_u",
        "y_u",
    )


def events_intervals_sql(sf_dir: str) -> str:
    """DuckDB FROM-clause twin of events_intervals (exact timestamp
    arithmetic: ts + to_seconds(n))."""
    x, y = xy_sql("event_id")
    dur = f"({IVAL_DUR_MIN_S} + (event_id * {K1}) % {IVAL_DUR_SPAN_S})"
    return (
        f"(SELECT event_id, ts AS ts_start, ts + to_seconds({dur}) AS ts_end, "
        f"user_id, value, {x} AS x_u, {y} AS y_u FROM events)"
    )


# web-mercator axis half-span in integer mm — derived from the CRS
# definition so the fixture domain, the index bounds, and the DuckDB
# oracle constant (__spark_entry__ imports this) can never diverge
from geowave_spark.index.crs import WEB_MERCATOR_MM as _WM

MERC_MM = _WM.x_hi


def mercator_mm_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected-CRS point table: events scattered over the full
    web-mercator plane in integer MILLIMETERS (the CustomCRS fixture —
    coordinates derive from event_id by pure integer arithmetic so the
    DuckDB twin below is bit-exact)."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        (F.pmod(F.col("event_id") * K1, F.lit(2 * MERC_MM)) - F.lit(MERC_MM)).alias("x"),
        (F.pmod(F.col("event_id") * K2, F.lit(2 * MERC_MM)) - F.lit(MERC_MM)).alias("y"),
    )


def customer_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-side fixture: one axis-aligned box per customer, centered
    at the derived point, half-width 0.2°–2.2° from the key (regions
    analog of FIXTURES.md §2)."""
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    x, y = xy_cols(F.col("c_custkey"))
    hw = (F.pmod(F.col("c_custkey").cast("long") * F.lit(K1), F.lit(2_000_000)) + F.lit(200_000)).alias("hw_u")
    return df.select("c_custkey", "c_mktsegment", x, y, hw).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("x_u") - F.col("hw_u")).alias("x_lo"),
        (F.col("y_u") - F.col("hw_u")).alias("y_lo"),
        (F.col("x_u") + F.col("hw_u")).alias("x_hi"),
        (F.col("y_u") + F.col("hw_u")).alias("y_hi"),
    )


OCT_R_MOD = 3_000_000
OCT_R_MIN = 500_000


def supplier_octagons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex-polygon-side fixture: one octagon per supplier — center at
    the derived point, radius 0.5°–3.5° from the key, diagonal offset
    a = r*707//1000 (integer cos45 approximation, keeps every vertex and
    every half-plane test in exact BIGINT arithmetic)."""
    df = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    x, y = xy_cols(F.col("s_suppkey"))
    r = (
        F.pmod(F.col("s_suppkey").cast("long") * F.lit(K2), F.lit(OCT_R_MOD))
        + F.lit(OCT_R_MIN)
    ).alias("r")
    out = df.select("s_suppkey", x, y, r)
    return out.select(
        "s_suppkey",
        F.col("x_u").alias("cx"),
        F.col("y_u").alias("cy"),
        "r",
        F.call_function("div", F.col("r") * 707, F.lit(1000)).alias("a"),
    )


def supplier_octagons_sql(sf_dir: str) -> str:
    x, y = xy_sql("s_suppkey")
    r = f"(((s_suppkey * {K2}) % {OCT_R_MOD}) + {OCT_R_MIN})"
    return (
        f"(SELECT s_suppkey, {x} AS cx, {y} AS cy, {r} AS r, "
        f"({r} * 707) // 1000 AS a FROM supplier)"
    )


def octagon_vertices(cx, cy, r, a):
    """CCW vertex list (expressions or ints) starting due east."""
    return [
        (cx + r, cy),
        (cx + a, cy + a),
        (cx, cy + r),
        (cx - a, cy + a),
        (cx - r, cy),
        (cx - a, cy - a),
        (cx, cy - r),
        (cx + a, cy - a),
    ]


def octagon_vertices_sql(cx: str, cy: str, r: str, a: str) -> list[tuple[str, str]]:
    """SQL-text twin of octagon_vertices (string expressions)."""
    return [
        (f"({cx} + {r})", cy),
        (f"({cx} + {a})", f"({cy} + {a})"),
        (cx, f"({cy} + {r})"),
        (f"({cx} - {a})", f"({cy} + {a})"),
        (f"({cx} - {r})", cy),
        (f"({cx} - {a})", f"({cy} - {a})"),
        (cx, f"({cy} - {r})"),
        (f"({cx} + {a})", f"({cy} - {a})"),
    ]


def customer_boxes_sql(sf_dir: str) -> str:
    x, y = xy_sql("c_custkey")
    hw = f"(((c_custkey * {K1}) % 2000000) + 200000)"
    return (
        f"(SELECT c_custkey, c_mktsegment, "
        f"{x} - {hw} AS x_lo, {y} - {hw} AS y_lo, "
        f"{x} + {hw} AS x_hi, {y} + {hw} AS y_hi FROM customer)"
    )


# --------------------------------------------------- general-geometry set
# Fixtures for the general (non-convex / lineal) join surface. Geometry
# coordinates are integer micro-degrees serialized as WKB; every shape
# family is chosen so its exact predicate has a pure-integer ANSI-SQL
# twin (rectilinear L-shapes = union of two closed rectangles; tracks =
# axis-aligned staircase polylines), keeping the driver's value-hash
# gate meaningful for the general join exactly as for the convex one.

K3 = 3266489917  # xxhash PRIME32_4 (public)
LSH_R_MOD = 3_000_000
LSH_R_MIN = 500_000
TRACK_D_MOD = 2_000_000
TRACK_D_MIN = 300_000
SNAP_U = 4_000_000  # 4° snap lattice for the predicate fixtures


def _wkb_ring(pts) -> bytes:
    import struct

    out = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(pts) + 1)
    for x, y in list(pts) + [pts[0]]:
        out += struct.pack("<dd", float(x), float(y))
    return out


def _wkb_line(pts) -> bytes:
    import struct

    out = struct.pack("<BII", 1, 2, len(pts))
    for x, y in pts:
        out += struct.pack("<dd", float(x), float(y))
    return out


def lshape_vertices(cx, cy, r):
    """CCW rectilinear L: union of R1=[cx-r,cx+r]x[cy-r,cy] (bottom
    bar) and R2=[cx-r,cx]x[cy,cy+r] (left column)."""
    return [
        (cx - r, cy - r),
        (cx + r, cy - r),
        (cx + r, cy),
        (cx, cy),
        (cx, cy + r),
        (cx - r, cy + r),
    ]


def supplier_lshapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-convex polygon fixture: one L-shaped hexagon per supplier
    (same center/radius derivation as the octagons), WKB in µdeg."""
    df = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    x, y = xy_cols(F.col("s_suppkey"))
    r = (
        F.pmod(F.col("s_suppkey").cast("long") * F.lit(K2), F.lit(LSH_R_MOD))
        + F.lit(LSH_R_MIN)
    ).alias("r")
    base = df.select("s_suppkey", x, y, r)

    @F.pandas_udf("binary")
    def mk(cx: pd.Series, cy: pd.Series, rr: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _wkb_ring(lshape_vertices(int(a), int(b), int(c)))
                for a, b, c in zip(cx, cy, rr)
            ]
        )

    return base.select(
        "s_suppkey", "x_u", "y_u", "r", mk("x_u", "y_u", "r").alias("geom")
    )


def lshape_sql_parts(cx: str, cy: str, r: str) -> tuple[str, str]:
    """(R1, R2) closed-rectangle bounds as SQL tuples of expressions."""
    r1 = (f"({cx} - {r})", f"({cy} - {r})", f"({cx} + {r})", cy)
    r2 = (f"({cx} - {r})", cy, cx, f"({cy} + {r})")
    return r1, r2


def lshape_covers_sql(cx: str, cy: str, r: str, px: str, py: str) -> str:
    """point-in-closed-L as integer SQL (union of two closed rects)."""
    (ax0, ay0, ax1, ay1), (bx0, by0, bx1, by1) = lshape_sql_parts(cx, cy, r)
    return (
        f"(({px} BETWEEN {ax0} AND {ax1} AND {py} BETWEEN {ay0} AND {ay1}) OR "
        f"({px} BETWEEN {bx0} AND {bx1} AND {py} BETWEEN {by0} AND {by1}))"
    )


def supplier_lshapes_sql(sf_dir: str) -> str:
    x, y = xy_sql("s_suppkey")
    r = f"(((s_suppkey * {K2}) % {LSH_R_MOD}) + {LSH_R_MIN})"
    return f"(SELECT s_suppkey, {x} AS cx, {y} AS cy, {r} AS r FROM supplier)"


def track_deltas_sql(key: str) -> tuple[str, str, str]:
    d1 = f"((({key} * {K1}) % {TRACK_D_MOD}) + {TRACK_D_MIN})"
    d2 = f"((({key} * {K2}) % {TRACK_D_MOD}) + {TRACK_D_MIN})"
    d3 = f"((({key} * {K3}) % {TRACK_D_MOD}) + {TRACK_D_MIN})"
    return d1, d2, d3


def part_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineal fixture: one 3-segment axis-aligned staircase polyline per
    part — east d1, north d2, east d3 from the derived start point."""
    df = spark.read.parquet(f"{sf_dir}/part.parquet")
    x, y = xy_cols(F.col("p_partkey"))
    key = F.col("p_partkey").cast("long")
    base = df.select(
        "p_partkey",
        x,
        y,
        (F.pmod(key * F.lit(K1), F.lit(TRACK_D_MOD)) + F.lit(TRACK_D_MIN)).alias("d1"),
        (F.pmod(key * F.lit(K2), F.lit(TRACK_D_MOD)) + F.lit(TRACK_D_MIN)).alias("d2"),
        (F.pmod(key * F.lit(K3), F.lit(TRACK_D_MOD)) + F.lit(TRACK_D_MIN)).alias("d3"),
    )

    @F.pandas_udf("binary")
    def mk(
        px: pd.Series, py: pd.Series, a: pd.Series, b: pd.Series, c: pd.Series
    ) -> pd.Series:
        out = []
        for x0, y0, d1, d2, d3 in zip(px, py, a, b, c):
            x0, y0, d1, d2, d3 = int(x0), int(y0), int(d1), int(d2), int(d3)
            out.append(
                _wkb_line(
                    [
                        (x0, y0),
                        (x0 + d1, y0),
                        (x0 + d1, y0 + d2),
                        (x0 + d1 + d3, y0 + d2),
                    ]
                )
            )
        return pd.Series(out)

    return base.select(
        "p_partkey", "x_u", "y_u", "d1", "d2", "d3",
        mk("x_u", "y_u", "d1", "d2", "d3").alias("geom"),
    )


def part_tracks_sql(sf_dir: str) -> str:
    x, y = xy_sql("p_partkey")
    d1, d2, d3 = track_deltas_sql("p_partkey")
    return (
        f"(SELECT p_partkey, {x} AS x0, {y} AS y0, "
        f"{d1} AS d1, {d2} AS d2, {d3} AS d3 FROM part)"
    )


def track_segments_sql(x0="t.x0", y0="t.y0", d1="t.d1", d2="t.d2", d3="t.d3"):
    """The three staircase segments as (kind, a, b, c) tuples of SQL
    expressions: H segs are (y, x_from, x_to), V segs are (x, y_from,
    y_to) — all closed intervals with from ≤ to by construction."""
    return [
        ("H", y0, x0, f"({x0} + {d1})"),
        ("V", f"({x0} + {d1})", y0, f"({y0} + {d2})"),
        ("H", f"({y0} + {d2})", f"({x0} + {d1})", f"({x0} + {d1} + {d3})"),
    ]


def seg_box_intersects_sql(seg, bx0: str, by0: str, bx1: str, by1: str) -> str:
    """Closed axis-aligned segment × closed box intersection."""
    kind, a, lo, hi = seg
    if kind == "H":
        return f"({a} BETWEEN {by0} AND {by1} AND {hi} >= {bx0} AND {lo} <= {bx1})"
    return f"({a} BETWEEN {bx0} AND {bx1} AND {hi} >= {by0} AND {lo} <= {by1})"


def seg_box_interior_sql(seg, bx0: str, by0: str, bx1: str, by1: str) -> str:
    """Axis-aligned segment intersects the OPEN box (positive-length
    interior contact — segments are non-degenerate)."""
    kind, a, lo, hi = seg
    if kind == "H":
        return f"({a} > {by0} AND {a} < {by1} AND {hi} > {bx0} AND {lo} < {bx1})"
    return f"({a} > {bx0} AND {a} < {bx1} AND {hi} > {by0} AND {lo} < {by1})"


def seg_outside_box_sql(seg, bx0: str, by0: str, bx1: str, by1: str) -> str:
    """Some point of the segment lies outside the CLOSED box."""
    kind, a, lo, hi = seg
    if kind == "H":
        return f"({a} < {by0} OR {a} > {by1} OR {lo} < {bx0} OR {hi} > {bx1})"
    return f"({a} < {bx0} OR {a} > {bx1} OR {lo} < {by0} OR {hi} > {by1})"


def seg_point_dist2_sql(seg, px: str, py: str) -> str:
    """Squared point→axis-aligned-segment distance, exact BIGINT SQL."""
    kind, a, lo, hi = seg
    if kind == "H":
        dx = f"greatest({lo} - {px}, {px} - {hi}, 0)"
        dy = f"({py} - {a})"
    else:
        dx = f"({px} - {a})"
        dy = f"greatest({lo} - {py}, {py} - {hi}, 0)"
    return f"(({dx}) * ({dx}) + ({dy}) * ({dy}))"


def customer_snapped_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate fixture: customer boxes snapped OUTWARD to the 4°
    lattice, so exact edge adjacency / equality / containment between
    distinct boxes occurs at meaningful rates (touches/equals between
    un-snapped continuous boxes would be measure-zero). Carries both
    the integer bounds and the WKB polygon."""
    b = customer_boxes(spark, sf_dir)
    snap = F.lit(SNAP_U)

    def lo(c):
        return (F.col(c) - F.pmod(F.col(c), snap)).cast("long")

    def hi(c):
        return (F.col(c) + F.pmod(-F.col(c), snap)).cast("long")

    base = b.select(
        "c_custkey",
        lo("x_lo").alias("x_lo"),
        lo("y_lo").alias("y_lo"),
        hi("x_hi").alias("x_hi"),
        hi("y_hi").alias("y_hi"),
    )

    @F.pandas_udf("binary")
    def mk(
        x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                _wkb_ring(
                    [(int(a), int(b_)), (int(c), int(b_)), (int(c), int(d)), (int(a), int(d))]
                )
                for a, b_, c, d in zip(x0, y0, x1, y1)
            ]
        )

    return base.withColumn("geom", mk("x_lo", "y_lo", "x_hi", "y_hi"))


def customer_snapped_boxes_sql(sf_dir: str) -> str:
    x, y = xy_sql("c_custkey")
    hw = f"(((c_custkey * {K1}) % 2000000) + 200000)"
    s = SNAP_U

    def lo(e):
        return f"({e} - ((({e}) % {s}) + {s}) % {s})"

    def hi(e):
        return f"({e} + (((-({e})) % {s}) + {s}) % {s})"

    return (
        f"(SELECT c_custkey, {lo(f'({x} - {hw})')} AS x_lo, "
        f"{lo(f'({y} - {hw})')} AS y_lo, {hi(f'({x} + {hw})')} AS x_hi, "
        f"{hi(f'({y} + {hw})')} AS y_hi FROM customer)"
    )


KMEANS_K = 16  # planted blob count == k, an 8×2 grid of centers


def kmeans_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-blob KMeans fixture (pid, x_u, y_u) derived row-for-row
    from events.event_id, same oracle stance as ``dbscan_planted``: the
    DuckDB oracle re-derives the expected converged centroids and hulls
    from the SAME id arithmetic. Blob = id % 16 on an 8×2 grid of
    centers 30e6 µdeg apart; offsets (id%5, (id//5)%5) on a ±2000 µdeg
    1000-step grid, so blob diameter ≤ ~5657 µdeg — three orders of
    magnitude under the inter-blob spacing. That separation makes the
    planted partition the PROVABLE fixed point of Lloyd's iteration
    under farthest-point init (operators.clustering.kmeans_lloyd):
    greedy init lands exactly one seed per blob (any unseeded blob's
    points are ≥ ~30e6 − 8000 µdeg from every seed, while seeded blobs'
    points are ≤ ~8000 µdeg), after which every point's nearest center
    is its own blob's and the centroid update is the exact per-blob
    integer mean. All 25 offset classes appear in every blob for any
    id range covering 0..399 (lcm(16, 25) = 400 ≤ the smallest shipped
    fixture's 1000 events), so each blob's convex hull is exactly the
    four ±2000 corners."""
    eid = F.col("event_id")
    blob = eid % KMEANS_K
    cx = F.lit(-120_000_000) + (blob % 8) * F.lit(30_000_000)
    cy = F.lit(20_000_000) + F.call_function("div", blob, F.lit(8)) * F.lit(30_000_000)
    dx = (eid % 5) * 1000 - 2000
    dy = (F.call_function("div", eid, F.lit(5)) % 5) * 1000 - 2000
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        eid.alias("pid"),
        (cx + dx).cast("long").alias("x_u"),
        (cy + dy).cast("long").alias("y_u"),
    )


def dbscan_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-cluster DBSCAN fixture (pid, x_u, y_u), derived
    row-for-row from events.event_id so the DuckDB oracle re-derives
    the expected labels from the SAME formula (the pattern of
    phash_dedup's generator oracle). Three roles by id arithmetic:

    - noise  (id % 17 == 0): a south-west vertical line, consecutive
      points ≥ 25,500 µdeg apart (> eps) and ≥ 30e6 µdeg from any blob;
    - satellite (id // 32 == 3): one point per blob at exactly
      (cx + 9000, cy) — within eps (10,000) of the offset classes
      dx ∈ {0, 1000, 2000} (any dy) and (dx, dy) = (−1000, 0), outside
      eps of the rest, so its core/border status is an exact count the
      oracle computes;
    - blob member (else): blob = id % 32, center grid 30e6 µdeg apart,
      offsets (id%5, (id//5)%5) on a ±2000 µdeg 1000-step grid — blob
      diameter ≤ √(4000²+4000²) ≈ 5657 < eps, so every blob is one
      fully-connected component and every member is core.

    The noise-isolation guarantee is ENFORCED, not just documented: the
    y wrap (mod 100k ids) means two noise ids ≥ 100k apart can land
    within eps of each other and chain into core points, silently
    breaking the oracle's role='noise' ⇒ not-core assumption. The
    largest shipped fixture (sf0.1, 100k events) sits exactly at the
    bound, so a bigger sf fails fast here instead of red-flagging the
    gate with no explanation."""
    # guard from parquet FOOTER column statistics — zero Spark jobs, so
    # the fixture stays a lazy plan-builder and bench/oracle timings of
    # dbscan_labels never pay a guard scan (same technique as
    # sources/icetable._file_stats)
    import pyarrow.parquet as pq

    mx = None
    meta = pq.ParquetFile(f"{sf_dir}/events.parquet").metadata
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}["event_id"]
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max:
            mx = st.max if mx is None else max(mx, st.max)
    if mx is not None and int(mx) > 100_000:
        raise ValueError(
            f"dbscan_planted noise isolation only holds for event_id <= 100000 "
            f"(got max {mx}): the mod-100k noise-y wrap would place distinct "
            f"noise ids within eps — extend the wrap before using a larger sf"
        )
    eid = F.col("event_id")
    blob = eid % 32
    cx = F.lit(-120_000_000) + (blob % 8) * F.lit(30_000_000)
    cy = F.lit(20_000_000) + F.call_function("div", blob, F.lit(8)) * F.lit(30_000_000)
    dx = (eid % 5) * 1000 - 2000
    dy = (F.call_function("div", eid, F.lit(5)) % 5) * 1000 - 2000
    is_noise = eid % 17 == F.lit(0)
    is_sat = F.call_function("div", eid, F.lit(32)) == F.lit(3)
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        eid.alias("pid"),
        F.when(is_noise, F.lit(-150_000_000))
        .when(is_sat, cx + 9000)
        .otherwise(cx + dx)
        .cast("long")
        .alias("x_u"),
        F.when(is_noise, F.lit(-170_000_000) + (eid % 100_000) * 1500)
        .when(is_sat, cy)
        .otherwise(cy + dy)
        .cast("long")
        .alias("y_u"),
    )


def lshapes_from_keys(
    spark: SparkSession,
    n: int,
    partitions: int,
    r_mod: int = LSH_R_MOD,
    r_min: int = LSH_R_MIN,
    scatter_only: bool = False,
    decorrelate: bool = False,
) -> DataFrame:
    """L-shape table generated from an id RANGE instead of a parquet
    key column — the fact-scale variant for scaling evidence (both
    sides of a geometry×geometry join above the broadcast gate).
    ``scatter_only`` maps id → 5·id+1 so no key hits the hotspot mode
    (id % 5 == 0): the job then measures shuffle-refine scaling, not
    the quadratic blowup of 20% of geometries stacked on 5 centers.
    ``r_mod``/``r_min`` shrink radii at high row counts to keep join
    selectivity (and output size) scale-appropriate.

    ``decorrelate`` makes the keys a NONLINEAR (quadratic-residue)
    function of the row index: the scatter position is affine in the
    key (x = K·key mod span), so when BOTH join sides use affine keys
    the pair proximity condition depends only on the key DIFFERENCE —
    the n_l·n_r pair space collapses to ~n distinct difference trials
    and the join degenerates to zero or to correlated same-offset
    bands. A quadratic key map restores pairwise-independent relative
    offsets. Keys stay ≡ 1 mod 5 (scatter branch) and < 2.8e9
    (key·K3 must not overflow int64 under ANSI arithmetic)."""
    if decorrelate:
        # 5·((id² + 12345) mod 400_000_009) + 1  ∈ [1, 2.1e9], ≡1 mod 5
        q = F.pmod(F.col("id") * F.col("id") + F.lit(12345), F.lit(400_000_009))
        key = q * 5 + 1
    else:
        key = (F.col("id") * 5 + 1) if scatter_only else F.col("id")
    df = spark.range(n, numPartitions=partitions).select(
        key.cast("long").alias("s_suppkey")
    )
    x, y = xy_cols(F.col("s_suppkey"))
    r = (
        F.pmod(F.col("s_suppkey").cast("long") * F.lit(K2), F.lit(r_mod))
        + F.lit(r_min)
    ).alias("r")
    base = df.select("s_suppkey", x, y, r)

    @F.pandas_udf("binary")
    def mk(cx: pd.Series, cy: pd.Series, rr: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _wkb_ring(lshape_vertices(int(a), int(b), int(c)))
                for a, b, c in zip(cx, cy, rr)
            ]
        )

    return base.select("s_suppkey", mk("x_u", "y_u", "r").alias("geom"))


def tracks_from_keys(
    spark: SparkSession,
    n: int,
    partitions: int,
    d_mod: int = TRACK_D_MOD,
    d_min: int = TRACK_D_MIN,
    scatter_only: bool = False,
) -> DataFrame:
    """Staircase-polyline table from an id range (see lshapes_from_keys)."""
    key_e = (F.col("id") * 5 + 1) if scatter_only else F.col("id")
    df = spark.range(n, numPartitions=partitions).select(
        key_e.cast("long").alias("p_partkey")
    )
    x, y = xy_cols(F.col("p_partkey"))
    key = F.col("p_partkey").cast("long")
    base = df.select(
        "p_partkey",
        x,
        y,
        (F.pmod(key * F.lit(K1), F.lit(d_mod)) + F.lit(d_min)).alias("d1"),
        (F.pmod(key * F.lit(K2), F.lit(d_mod)) + F.lit(d_min)).alias("d2"),
        (F.pmod(key * F.lit(K3), F.lit(d_mod)) + F.lit(d_min)).alias("d3"),
    )

    @F.pandas_udf("binary")
    def mk(
        px: pd.Series, py: pd.Series, a: pd.Series, b: pd.Series, c: pd.Series
    ) -> pd.Series:
        out = []
        for x0, y0, d1, d2, d3 in zip(px, py, a, b, c):
            x0, y0, d1, d2, d3 = int(x0), int(y0), int(d1), int(d2), int(d3)
            out.append(
                _wkb_line(
                    [
                        (x0, y0),
                        (x0 + d1, y0),
                        (x0 + d1, y0 + d2),
                        (x0 + d1 + d3, y0 + d2),
                    ]
                )
            )
        return pd.Series(out)

    return base.select("p_partkey", mk("x_u", "y_u", "d1", "d2", "d3").alias("geom"))


# ------------------------------------------------------- semdedup fixture

SEMDEDUP_N = 960      # fixed-size fixture (sf-flat, like the image corpus)
SEMDEDUP_K = 8        # semantic clusters (axes 0..7)
SEMDEDUP_BANDS = 6    # duplicate bands per cluster (axes 8..13)
SEMDEDUP_DIM = SEMDEDUP_K + SEMDEDUP_BANDS


def semdedup_planted(spark: SparkSession, n: int = SEMDEDUP_N) -> DataFrame:
    """Planted embedding corpus for semantic dedup, same oracle stance
    as ``kmeans_planted``: the duplicate structure is a PROVABLE
    function of the id arithmetic, so the DuckDB oracle needs no
    float similarity at all.

    id → cluster c = id % 8, band b = (id // 8) % 6, scale
    s = 1 + id % 3. The vector is 1000·s on axis c plus 1000·s on axis
    8+b, zero elsewhere (dim 14). Members of the same (c, b) group
    differ only by scale → cosine exactly 1 (far above any sane τ);
    any two vectors from different groups share at most ONE of their
    two axes → cosine ≤ 1000²/(1000²+1000²) = 0.5 (far below). With
    basis centroids e_0..e_7 the argmax-dot cluster assignment is
    exactly c (the only nonzero coordinate among the first 8). The
    expected semdedup output is therefore
    rep_id = c + 8·b — the smallest id in the (c, b) group — by pure
    integer arithmetic."""
    eid = F.col("id")
    c = (eid % SEMDEDUP_K).cast("int")
    b = (F.call_function("div", eid, F.lit(SEMDEDUP_K)) % SEMDEDUP_BANDS).cast("int")
    s = (eid % 3 + 1).cast("double") * 1000.0
    comps = [
        F.when((F.lit(j) == c) | (F.lit(j) == b + SEMDEDUP_K), s)
        .otherwise(F.lit(0.0))
        .cast("float")
        for j in range(SEMDEDUP_DIM)
    ]
    return spark.range(n).select(
        eid.alias("vec_id"), F.array(*comps).alias("embedding")
    )


# ------------------------------------------------------------ PII fixture

PII_N = 800


def pii_planted(spark: SparkSession, n: int = PII_N) -> DataFrame:
    """Planted PII corpus, analytic-oracle stance (kmeans_planted /
    semdedup_planted): each doc embeds a deterministic id-derived
    count of emails (id % 3), phone numbers (id % 2) and IPv4s
    (1 if id % 5 == 0), padded with clean filler tokens — so the
    DuckDB oracle re-derives every count by pure integer arithmetic
    while the Spark side runs the real regex pipeline."""
    eid = F.col("id")
    email = F.concat(F.lit("user"), eid, F.lit("@ex"), eid % 7, F.lit(".com"))
    phone = F.concat(
        F.lit("555-"), F.lpad((eid % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad((eid % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit("10."), (eid % 256).cast("string"),
        F.lit ("."), ((eid * 7) % 256).cast("string"), F.lit(".1"),
    )
    parts = [F.lit("clean filler text segment")]
    for k in range(2):  # up to 2 emails: present when id % 3 > k
        parts.append(F.when(eid % 3 > k, F.concat(F.lit(" mail "), email)).otherwise(F.lit("")))
    parts.append(F.when(eid % 2 == 1, F.concat(F.lit(" call "), phone)).otherwise(F.lit("")))
    parts.append(F.when(eid % 5 == 0, F.concat(F.lit(" host "), ip)).otherwise(F.lit("")))
    parts.append(F.lit(" end"))
    return spark.range(n).select(
        eid.alias("doc_id"), F.concat(*parts).alias("text")
    )
