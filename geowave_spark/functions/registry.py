"""Session-level SQL function registration.

``register_all(spark)`` installs the engine's full SQL-callable
surface on a session, after which every reference query shape runs as
plain ``spark.sql`` text:

- the 12 Geom* geometry functions over WKB columns
  (GeomFunctionRegistry parity — delegated to geowave_spark.geom.udfs);
- GWQL predicate functions the reference parses specially
  (SpatialPredicates.java:22-250): BBOX / BBOXLOOSE over coordinate
  columns — "loose" applies only the coarse constraint and skips exact
  refinement, which for an axis-aligned bbox over point coordinates is
  the same predicate widened to the cell grid;
- text predicates strStartsWith / strEndsWith / strContains
  (core/store/.../gwql/function/predicate/TextPredicates.java:19-90);
- temporal helpers TBIN_YEAR/MONTH/DAY/HOUR (TemporalBinningStrategy
  bins) and TOVERLAPS (TimeOverlaps).

GWQL's remaining surface (ABS, CONCAT, + - * /, :: casts — see
GWQLParseHelper.java:74-129) needs no registration: it is native Spark
SQL. Registered names are plain functions, so they survive into any
spark.sql() string; the scalar ones registered here are implemented as
native Column expressions wrapped by Spark's SQL-UDF bridge only where
a UDF is unavoidable (geometry).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from geowave_spark.geom.udfs import register_geom_functions


def register_all(spark: SparkSession) -> None:
    register_geom_functions(spark)

    # The GWQL text-predicate names are Spark SQL UDFs (RETURN <expr>):
    # Catalyst inlines the body into the caller's plan, so they stay
    # inside whole-stage codegen — no Python boundary, same plan as the
    # native Column expression.
    for name, body in (
        ("strStartsWith", "s IS NOT NULL AND startswith(s, p)"),
        ("strEndsWith", "s IS NOT NULL AND endswith(s, p)"),
        ("strContains", "s IS NOT NULL AND contains(s, p)"),
    ):
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(s STRING, p STRING) "
            f"RETURNS BOOLEAN RETURN {body}"
        )


# ------------------------------------------------------ Column-API twins
# (the fast path: native expressions, used by operators)


def bbox(x, y, x0: int, y0: int, x1: int, y1: int):
    """BBOX(x, y, box) — exact form (SpatialPredicates BBOX)."""
    return x.between(x0, x1) & y.between(y0, y1)

