"""Interval overlap + periodic time binning.

Interval overlap (TimeOverlaps) of the reference's temporal expression
layer
(core/geotime/src/main/java/org/locationtech/geowave/core/geotime/store/query/filter/expression/temporal/;
its instant operators After, Before, During, BeforeOrDuring and
DuringOrAfter are GWQL's, plans/gwql.py) and its periodic index binning
(core/geotime/.../index/dimension/TemporalBinningStrategy.java:36-43 —
Unit HOUR/DAY/WEEK/MONTH/YEAR; the bin id becomes part of the partition
key so one year/month/day of data shares a key prefix).

Everything here is a native Column expression — temporal predicates are
plain timestamp comparisons, so the whole surface stays inside
whole-stage codegen and pushes down to parquet row-group min/max stats.
An interval is represented as a (start, end) column pair, end exclusive,
matching the reference's Interval fields.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------------ predicates


def time_overlaps(s1: Column, e1: Column, s2: Column, e2: Column) -> Column:
    """Half-open interval overlap (TimeOverlaps): s1 < e2 AND e1 > s2."""
    return (s1 < e2) & (e1 > s2)


# --------------------------------------------------------------- binning

_EPOCH = "1970-01-01"


def time_bin_col(ts: Column, unit: str) -> Column:
    """Periodic bin id as an integer (TemporalBinningStrategy analog):
    YEAR -> calendar year, MONTH -> months since epoch, DAY -> days since
    epoch, HOUR -> hours since epoch. Integer-exact in both Spark and the
    DuckDB oracle."""
    if unit == "YEAR":
        return F.year(ts)
    if unit == "MONTH":
        return F.year(ts) * 12 + F.month(ts) - 1
    if unit == "WEEK":
        # ISO weeks (Monday start) since epoch: 1970-01-01 is a
        # Thursday, so the Monday of epoch week is day −3; floor
        # division keeps pre-1970 instants exact. Completes the
        # TemporalBinningStrategy.java:36-43 unit set
        # (HOUR/DAY/WEEK/MONTH/YEAR).
        day = F.datediff(ts.cast("date"), F.lit(_EPOCH).cast("date"))
        return F.floor((day + F.lit(3)) / F.lit(7)).cast("int")
    if unit == "DAY":
        return F.datediff(ts.cast("date"), F.lit(_EPOCH).cast("date"))
    if unit == "HOUR":
        day = F.datediff(ts.cast("date"), F.lit(_EPOCH).cast("date"))
        return day * 24 + F.hour(ts)
    raise ValueError(f"unsupported bin unit {unit!r}")


def interval_end_col(ts: Column, seconds: Column) -> Column:
    """ts + integer seconds (microseconds preserved) — exact timestamp
    arithmetic in both engines; builds the (start, end) interval pair
    from an instant + duration. DuckDB twin: ``ts + to_seconds(n)``."""
    return ts + F.make_dt_interval(secs=seconds.cast("double"))
