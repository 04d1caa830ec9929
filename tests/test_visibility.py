"""Row/field visibility + query authorizations — plans/visibility.py.

Parity target: the reference's visibility subsystem
(core/store/.../data/visibility/VisibilityExpression.java grammar and
evaluate; the Global/JsonFieldLevel visibility handlers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geowave_spark.plans.visibility import (
    VisibilityParseError,
    evaluate_visibility,
    mask_fields_json,
    parse_visibility,
    satisfied_expressions,
    where_authorized,
)
from geowave_spark.sources.testgeo import events_visible

AUTHS = {"alpha", "gamma"}


# --- expression grammar ------------------------------------------------


def test_empty_and_null_visible_to_all():
    assert evaluate_visibility("", set())
    assert evaluate_visibility("", {"x"})
    assert evaluate_visibility(None, set())
    assert evaluate_visibility("   ", {"x"})  # whitespace-only == empty


def test_single_token_and_basic_ops():
    assert evaluate_visibility("a", {"a"})
    assert not evaluate_visibility("a", {"b"})
    assert evaluate_visibility("a&b", {"a", "b"})
    assert not evaluate_visibility("a&b", {"a"})
    assert evaluate_visibility("a|b", {"b"})
    assert not evaluate_visibility("a|b", {"c"})
    # whitespace stripped anywhere (reference replaceAll("\\s+",""))
    assert evaluate_visibility(" a & ( b | c ) ", {"a", "c"})


def test_left_associative_equal_precedence():
    """The reference folds & and | in token order with EQUAL
    precedence: a|b&c == (a|b)&c. Under conventional precedence
    (& binds tighter) a|(b&c) would be TRUE here — the distinguishing
    case the oracle also pins."""
    auths = {"a"}
    assert not evaluate_visibility("a|b&c", auths)  # (a|b)&c -> T&F -> F
    assert evaluate_visibility("a|(b&c)", auths)  # explicit grouping
    # the fixture's trap expression under the fixture auth set
    assert not evaluate_visibility("alpha|beta&omega", AUTHS)
    assert evaluate_visibility("(alpha&omega)|gamma", AUTHS)
    assert not evaluate_visibility("beta&(alpha|gamma)", AUTHS)


def test_nested_parens():
    assert evaluate_visibility("((a))", {"a"})
    assert evaluate_visibility("(a|(b&(c|d)))", {"b", "d"})
    assert not evaluate_visibility("(a|(b&(c|d)))", {"b"})


@pytest.mark.parametrize(
    "bad",
    ["&a", "a&", "a&&b", "(a", "a)", "(a|b", "a|b)", "()a", "a()"],
)
def test_parse_errors(bad):
    with pytest.raises(VisibilityParseError):
        parse_visibility(bad)


def test_empty_parens_alone_is_noauth():
    # the reference's parseTokens returns NoAuthNode for an empty run
    assert evaluate_visibility("()", set())


# --- read-side row filter ----------------------------------------------


def test_where_authorized_rows(spark, sf_dir):
    df = events_visible(spark, sf_dir)
    out = where_authorized(df, AUTHS)
    got = {r["event_id"] % 8 for r in out.select("event_id").collect()}
    # hand-evaluated: indices whose expression passes under {alpha,gamma}
    assert got == {0, 1, 4, 7}
    # and the satisfied set matches the analytic list exactly
    ok = set(satisfied_expressions(df, AUTHS))
    assert ok == {"", "alpha", "alpha|beta", "(alpha&omega)|gamma"}


def test_where_authorized_null_passes(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "omega"), (3, "")], "id long, visibility string"
    )
    got = {r["id"] for r in where_authorized(df, set()).collect()}
    assert got == {1, 3}


def test_where_authorized_pushes_in_filter(spark, tmp_path):
    """The whole point of the distinct-reduction: authorization lands
    in the parquet scan's PushedFilters as an In(visibility, ...)."""
    p = str(tmp_path / "vis.parquet")
    spark.createDataFrame(
        [(i, ["", "alpha", "omega"][i % 3]) for i in range(30)],
        "id long, visibility string",
    ).write.parquet(p)
    out = where_authorized(spark.read.parquet(p), AUTHS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("visibility" in ln and "In(" in ln for ln in pushed), pushed


def test_distinct_cardinality_cap(spark):
    df = spark.range(50).select(
        F.col("id"), F.concat(F.lit("auth"), F.col("id")).alias("visibility")
    )
    with pytest.raises(ValueError, match="policy-sized"):
        where_authorized(df, {"auth1"}, max_distinct=10)


# --- field-level masking -----------------------------------------------


def test_mask_fields_json(spark, sf_dir):
    df = events_visible(spark, sf_dir)
    out = mask_fields_json(
        df, AUTHS, vis_col="field_visibility", fields=["value"]
    )
    rows = out.select("event_id", "value").collect()
    assert len(rows) > 0
    for r in rows:
        # mod 0: {"value":"gamma"} satisfied; mod 1: omega fails;
        # mod 2: regex key "va.*" matches "value", beta&omega fails
        if r["event_id"] % 3 == 0:
            assert r["value"] is not None
        else:
            assert r["value"] is None


def test_mask_fields_json_unparseable_constrains_nothing(spark):
    df = spark.createDataFrame(
        [(1, 5.0, "not json"), (2, 6.0, None)],
        "id long, value double, field_visibility string",
    )
    rows = mask_fields_json(df, set(), fields=["value"]).collect()
    assert all(r["value"] is not None for r in rows)
