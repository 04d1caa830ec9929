"""Reference implementations the tests compare the engine against: the
inverse curve maps, the cell ancestry rule, image fidelity, a
brute-force geometry-pair refine, the DuckDB text of the time bins,
on-demand field sketches and the visibility-expression renderer. They
check the engine; the engine never calls them."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from geowave_spark import LAT_OFF_U, LON_OFF_U, WORLD_X_U
from geowave_spark.geom import predicates as P
from geowave_spark.index.zorder import grid_coord, morton_decode, morton_encode
from geowave_spark.plans.stats import sketch_bucket_rows

# ------------------------------------------------------------ curves


def hilbert_decode(d, res: int):
    """Hilbert distance -> (gx, gy), the inverse of
    index/hilbert.hilbert_encode (rotate/reflect iteration)."""
    scalar = not isinstance(d, np.ndarray)
    t = np.atleast_1d(np.asarray(d, dtype=np.int64)).copy()
    x = np.zeros_like(t)
    y = np.zeros_like(t)
    s = np.int64(1)
    while s < (np.int64(1) << res):
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x_r = np.where(swap, y_f, x_f)
        y_r = np.where(swap, x_f, y_f)
        x = x_r + s * rx
        y = y_r + s * ry
        t //= 4
        s <<= 1
    if scalar:
        return int(x[0]), int(y[0])
    return x, y


def cell_of_point(x_u: int, y_u: int, res: int) -> int:
    """Morton cell of one micro-degree point at ``res``."""
    return int(morton_encode(grid_coord(x_u, res), grid_coord(y_u, res)))


def decode_cell(cell: int, res: int) -> tuple[int, int, int, int]:
    """Cell id -> micro-degree bounds (x_lo, y_lo, x_hi, y_hi), hi exclusive."""
    gx, gy = morton_decode(int(cell))
    n = 1 << res
    x_lo = int(gx) * WORLD_X_U // n - LON_OFF_U
    x_hi = (int(gx) + 1) * WORLD_X_U // n - LON_OFF_U
    y_lo = int(gy) * WORLD_X_U // n - LAT_OFF_U
    y_hi = (int(gy) + 1) * WORLD_X_U // n - LAT_OFF_U
    return x_lo, y_lo, x_hi, y_hi


def parent_cell(cell, d_res: int):
    """Ancestor cell ``d_res`` levels up (reprojectToTier analog)."""
    return cell >> (2 * d_res)


# ------------------------------------------------------------ raster


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (fidelity gate: ≥40 dB lossy)."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# ------------------------------------------------------------ geometry


def pair_refine_udf(predicate: str, distance_u: float | None):
    """(left_wkb, right_wkb) -> bool, one pandas UDF over every pair."""
    from geowave_spark.geom.udfs import (
        _extract_point_arrays,
        _grouped,
        pair_pred_batch,
        parse_cached,
    )

    if distance_u is not None:

        def run(a: pd.Series, b: pd.Series) -> pd.Series:
            out = np.zeros(len(a), dtype=bool)
            for g, idx, varying, _pf in _grouped(a, b):
                pts = _extract_point_arrays(varying, idx)
                if pts is not None:
                    out[idx] = P.points_distance_to_geom(pts[0], pts[1], g) <= distance_u
                else:
                    for i in idx:
                        out[i] = P.distance(parse_cached(bytes(varying[i])), g) <= distance_u
            return pd.Series(out)

        return F.pandas_udf(run, BooleanType())
    return F.pandas_udf(pair_pred_batch(predicate, P.PREDICATES[predicate]), BooleanType())


# ------------------------------------------------------------ time bins


def time_bin_sql(expr: str, unit: str) -> str:
    """DuckDB twin of operators/temporal.time_bin_col."""
    if unit == "YEAR":
        return f"year({expr})"
    if unit == "MONTH":
        return f"year({expr}) * 12 + month({expr}) - 1"
    if unit == "WEEK":
        return (
            "CAST(floor((datediff('day', DATE '1970-01-01', "
            f"CAST({expr} AS DATE)) + 3) / 7.0) AS INT)"
        )
    if unit == "DAY":
        return f"datediff('day', DATE '1970-01-01', CAST({expr} AS DATE))"
    if unit == "HOUR":
        return (
            f"datediff('day', DATE '1970-01-01', CAST({expr} AS DATE)) * 24"
            f" + hour({expr})"
        )
    raise ValueError(f"unsupported bin unit {unit!r}")


# ------------------------------------------------------------ field sketches


class CountMinSketch:
    """Driver-side probe over a CMS table of (d, bucket, n) rows."""

    def __init__(self, width: int, depth: int, rows):
        self.width = width
        self.depth = depth
        self._t = {(r["d"], r["bucket"]): r["n"] for r in rows}

    def estimate(self, value: str) -> int:
        est = None
        for d in range(self.depth):
            h = int(hashlib.md5(f"cms{d}:{value}".encode()).hexdigest()[:15], 16)
            c = self._t.get((d, h % self.width), 0)
            est = c if est is None else min(est, c)
        return est or 0


class BloomFilter:
    """Driver-side probe over a set of Bloom bit positions."""

    def __init__(self, m: int, k: int, positions):
        self.m = m
        self.k = k
        self._bits = set(positions)

    def might_contain(self, value: str) -> bool:
        for d in range(self.k):
            h = int(hashlib.md5(f"bf{d}:{value}".encode()).hexdigest()[:15], 16)
            if h % self.m not in self._bits:
                return False
        return True


def field_sketches(
    df: DataFrame, col: str, width: int = 2048, depth: int = 4, m: int = 1 << 16, k: int = 3
):
    """On-demand CountMinSketch / BloomFilter pair over ``df[col]``,
    built by the same bucket pipeline (plans/stats.sketch_bucket_rows)
    as the sketches an IceTable commit maintains."""
    cms_table, positions = sketch_bucket_rows(df, col, width, depth, m, k)
    return CountMinSketch(width, depth, cms_table), BloomFilter(m, k, positions)


# ------------------------------------------------------------ visibility


def unparse_visibility(node) -> str:
    """Render a plans/visibility AST as expression text. Operator
    children are ALWAYS parenthesized (OperatorNode.buildExpression:
    168-186 wraps any OperatorNode child in parens): without this,
    Or(a, And(b, c)) would print as ``a|b&c``, which the
    equal-precedence left-associative grammar re-parses as ``(a|b)&c``,
    different semantics. The parens make render→parse an exact round
    trip."""
    from geowave_spark.plans.visibility import _And, _Or, _Value

    if isinstance(node, _Value):
        return node.token
    if not isinstance(node, (_And, _Or)):
        return ""  # _NoAuth: the empty expression

    def child(n) -> str:
        text = unparse_visibility(n)
        return f"({text})" if isinstance(n, (_And, _Or)) else text

    op = "&" if isinstance(node, _And) else "|"
    return f"{child(node.left)}{op}{child(node.right)}"
