"""Property-based tests (hypothesis) for the round-5 pure-Python
kernels: the visibility-expression grammar (plans/visibility.py,
mirroring /root/reference/core/store/.../data/visibility/
VisibilityExpression.java) and the interval-index DAY-bin edge rule
(plans/store.py interval_query_bin_bounds, mirroring
TemporalBinningStrategy's half-open bin semantics).

These complement the example-based tests in test_visibility.py /
test_interval_index.py: examples pin the reference's documented
quirks, properties pin the algebraic invariants over the whole input
space (round-trip, parser totality, prune soundness).
"""

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from geowave_spark.plans.store import interval_query_bin_bounds
from geowave_spark.plans.visibility import (
    VisibilityParseError,
    _And,
    _Or,
    _Value,
    evaluate_visibility,
    parse_visibility,
)

# --- visibility grammar ----------------------------------------------

_TOKENS = ["a", "b", "c", "d", "secret", "x1"]

token = st.sampled_from(_TOKENS)
auth_set = st.frozensets(token, max_size=len(_TOKENS))

# Random ASTs: leaves are _Value tokens, interior nodes _And/_Or.
ast = st.recursive(
    token.map(_Value),
    lambda children: st.tuples(children, children).map(lambda p: _And(*p))
    | st.tuples(children, children).map(lambda p: _Or(*p)),
    max_leaves=12,
)


@given(ast)
def test_unparse_parse_round_trip_is_structural(node):
    """unparse parenthesizes operator children (the reference's
    OperatorNode.buildExpression), so parse(unparse(ast)) must
    reconstruct the EXACT tree — including right-nested operators the
    left-associative grammar could never produce bare."""
    assert parse_visibility(node.unparse()) == node


@given(st.text(alphabet="ab()&| ", max_size=24), auth_set)
def test_parser_is_total_over_grammar_alphabet(text, auths):
    """Arbitrary strings over the grammar alphabet either parse (and
    evaluate to a bool) or raise VisibilityParseError — never an
    unhandled exception (the reference throws only ParseException)."""
    try:
        result = evaluate_visibility(text, auths)
    except VisibilityParseError:
        return
    assert isinstance(result, bool)


# --- interval DAY-bin edge rule ---------------------------------------

_EPOCH = datetime(1970, 1, 1)

# Timestamps quantized to whole seconds plus explicit midnight-heavy
# values so the exclusive-end edge rule is exercised often.
ts = st.datetimes(
    min_value=datetime(1970, 1, 2), max_value=datetime(2100, 1, 1)
).map(lambda d: d.replace(microsecond=0))
midnight_ts = st.dates(
    min_value=datetime(1970, 1, 2).date(), max_value=datetime(2100, 1, 1).date()
).map(lambda d: datetime(d.year, d.month, d.day))
any_ts = ts | midnight_ts


def _brute_bins(lo: datetime, hi: datetime) -> tuple[int, int]:
    """Ground truth: the inclusive DAY-bin range touched by the
    half-open interval [lo, hi) is [day(lo), day(hi - 1 microsecond)]."""
    return (
        (lo - _EPOCH).days,
        (hi - timedelta(microseconds=1) - _EPOCH).days,
    )


@given(any_ts, any_ts)
@settings(max_examples=200)
def test_query_bin_bounds_match_half_open_ground_truth(a, b):
    if a == b:
        return
    lo, hi = min(a, b), max(a, b)
    assert interval_query_bin_bounds(lo.isoformat(), hi.isoformat()) == _brute_bins(
        lo, hi
    )


@given(any_ts, any_ts, any_ts, any_ts)
@settings(max_examples=200)
def test_bin_prune_is_sound_for_overlap_queries(a, b, c, d):
    """If a stored row's [s, e) interval OVERLAPS the query's
    [q_lo, q_hi), their DAY-bin ranges must intersect — i.e. the
    coarse bin constraint never prunes a true match. (Both sides are
    binned by the same rule; test_interval_index.py pins the Column
    twin in lockstep with this scalar rule.)"""
    s, e = min(a, b), max(a, b)
    q_lo, q_hi = min(c, d), max(c, d)
    if s == e or q_lo == q_hi:
        return
    overlaps = s < q_hi and q_lo < e
    row_bins = _brute_bins(s, e)
    query_bins = interval_query_bin_bounds(q_lo.isoformat(), q_hi.isoformat())
    bins_intersect = row_bins[0] <= query_bins[1] and query_bins[0] <= row_bins[1]
    if overlaps:
        assert bins_intersect


# --- GWQL numeric-literal tokenizer ------------------------------------

finite_nonneg = st.one_of(
    st.integers(min_value=0, max_value=10**15),
    st.floats(
        min_value=0, allow_nan=False, allow_infinity=False, width=64
    ),
)


@given(finite_nonneg)
def test_gwql_number_literal_round_trips(x):
    """Any non-negative finite numeric repr — including scientific
    notation like '1e-05' (the round-4 advisory fix: the exponent part
    must not require a preceding decimal point) — tokenizes as ONE
    number token whose float value is exactly the input."""
    from geowave_spark.plans.gwql import tokenize

    text = repr(x)
    toks = tokenize(text)
    nums = [t for t in toks if t.kind == "number"]
    assert len(nums) == 1 and nums[0].text == text
    assert float(nums[0].text) == float(x)
    assert all(t.kind in ("number", "eof") for t in toks)
