"""Temporal predicates/binning and text-search index strategies."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from geowave_spark.operators import temporal as T
from geowave_spark.operators.text_search import (
    contains_search,
    ngram_index,
    prefix_search,
    suffix_search,
)


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------- temporal


def test_time_overlaps_half_open(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 5)),
        (2, dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 8)),  # abuts: no overlap
        (3, dt.datetime(2024, 1, 4), dt.datetime(2024, 1, 6)),
    ]
    df = spark.createDataFrame(rows, "id int, s timestamp, e timestamp")
    lo, hi = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 5)
    got = {
        r.id
        for r in df.where(
            T.time_overlaps(F.col("s"), F.col("e"), F.lit(lo), F.lit(hi))
        ).collect()
    }
    assert got == {1, 3}


def test_time_bins_consistent(spark, sf_dir):
    df = _events(spark, sf_dir).select("ts")
    binned = df.select(
        T.time_bin_col(F.col("ts"), "YEAR").alias("y"),
        T.time_bin_col(F.col("ts"), "MONTH").alias("m"),
        T.time_bin_col(F.col("ts"), "DAY").alias("d"),
        T.time_bin_col(F.col("ts"), "HOUR").alias("h"),
        "ts",
    )
    for r in binned.limit(50).collect():
        assert r.y == r.ts.year
        assert r.m == r.ts.year * 12 + r.ts.month - 1
        assert r.d == (r.ts.date() - dt.date(1970, 1, 1)).days
        assert r.h == r.d * 24 + r.ts.hour


def test_interval_end_preserves_micros(spark):
    ts = dt.datetime(2024, 1, 1, 0, 0, 7, 179575)
    df = spark.createDataFrame([(ts, 90)], "ts timestamp, secs long")
    out = df.select(T.interval_end_col(F.col("ts"), F.col("secs")).alias("e")).first()
    assert out.e == ts + dt.timedelta(seconds=90)


# ------------------------------------------------------------- text search


def test_prefix_search_matches_like(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    got = {r.doc_id for r in prefix_search(docs, "text", "key").collect()}
    want = {r.doc_id for r in docs.where(F.col("text").like("key%")).collect()}
    assert got == want


def test_suffix_search_matches_like(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    got = {r.doc_id for r in suffix_search(docs, "text", "row").collect()}
    want = {r.doc_id for r in docs.where(F.col("text").like("%row")).collect()}
    assert got == want


def test_contains_search_matches_like(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    got = {r.doc_id for r in contains_search(docs, "text", "doc_id", "spark join").collect()}
    want = {
        r.doc_id for r in docs.where(F.col("text").contains("spark join")).collect()
    }
    assert got == want and len(want) > 0


def test_contains_with_prebuilt_index_and_short_needle(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    idx = ngram_index(docs, "text", "doc_id", n=3)
    got = {
        r.doc_id
        for r in contains_search(docs, "text", "doc_id", "agg", index=idx).collect()
    }
    want = {r.doc_id for r in docs.where(F.col("text").contains("agg")).collect()}
    assert got == want
    # needle shorter than the gram -> exact-scan fallback
    got2 = contains_search(docs, "text", "doc_id", "ag").count()
    want2 = docs.where(F.col("text").contains("ag")).count()
    assert got2 == want2


def test_case_insensitive_and_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    ci = prefix_search(docs, "text", "KEY", case_sensitive=False).count()
    cs = prefix_search(docs, "text", "KEY", case_sensitive=True).count()
    assert ci > 0 and cs == 0


def test_time_bin_week_iso_monday_boundary(spark):
    """WEEK bins: Monday-start ISO weeks since epoch. 1970-01-01 was a
    Thursday (week 0); Sunday 1970-01-04 still week 0; Monday
    1970-01-05 opens week 1. Pre-epoch floors correctly."""
    from geowave_spark.operators.temporal import time_bin_col
    from oracles import time_bin_sql

    import duckdb

    rows = [
        ("1970-01-01 12:00:00",),  # Thu  -> 0
        ("1970-01-04 23:59:59",),  # Sun  -> 0
        ("1970-01-05 00:00:00",),  # Mon  -> 1
        ("1969-12-29 00:00:00",),  # Mon  -> 0 (same ISO week as epoch)
        ("1969-12-28 12:00:00",),  # Sun  -> -1
        ("2024-01-10 08:30:00",),
    ]
    df = spark.createDataFrame(rows, "ts_s string").select(
        F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = [
        r.b for r in df.select(time_bin_col(F.col("ts"), "WEEK").alias("b")).collect()
    ]
    assert got[:5] == [0, 0, 1, 0, -1]
    # oracle-text twin agrees on every row
    con = duckdb.connect()
    exp = []
    for (s,) in rows:
        expr = time_bin_sql("TIMESTAMP '" + s + "'", "WEEK")
        exp.append(con.execute("SELECT " + expr).fetchone()[0])
    assert got == exp


def test_repetition_features_handcrafted(spark):
    """duplicate-token counts are exact and top_bigram_n counts the most
    frequent bigram, including overlapping repeats; a single-token doc
    yields top_bigram_n = 0."""
    from geowave_spark.operators.text import repetition_features

    rows = [
        (1, "a b a b a b"),      # 6 toks, 2 distinct, 'a b' ×3
        (2, "x y z w"),          # all distinct, every bigram ×1
        (3, "r r r r"),          # 'r r' ×3
        (4, "solo"),             # no bigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_distinct_tokens, r.top_bigram_n)
        for r in repetition_features(df).collect()
    }
    assert got == {
        1: (6, 2, 3),
        2: (4, 4, 1),
        3: (4, 1, 3),
        4: (1, 1, 0),
    }


def test_common_passages_handcrafted(spark):
    """An 8-gram passage shared by 3 docs surfaces with n_docs=3 and the
    smallest doc_id; passages in fewer docs are filtered; per-doc
    repeats of the same passage count once (array_distinct)."""
    from geowave_spark.operators.dedup import common_passages

    p = "a b c d e f g h"
    rows = [
        (1, f"x {p} y"),
        (2, f"{p} z z z z z z z"),
        (3, f"w w {p}"),
        (4, f"{p} {p}"),          # same passage twice in ONE doc
        (5, "unrelated words only here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.passage: (r.n_docs, r.first_doc)
           for r in common_passages(df, n=8, min_docs=4).collect()}
    assert got[p] == (4, 1)
    # min_docs high enough to exclude everything else incidental
    assert all(k == p or v[0] >= 4 for k, v in got.items())


# ------------------------------------------------------------ PII gates


def test_pii_scan_planted_exact(spark):
    from geowave_spark.operators.text import pii_scan
    from geowave_spark.sources.testgeo import pii_planted

    out = pii_scan(pii_planted(spark, 200)).toPandas().sort_values("doc_id")
    i = out["doc_id"].to_numpy()
    assert (out["n_email"].to_numpy() == i % 3).all()
    assert (out["n_phone"].to_numpy() == i % 2).all()
    assert (out["n_ipv4"].to_numpy() == (i % 5 == 0).astype(int)).all()
    assert (
        out["has_pii"].to_numpy()
        == ((i % 3 > 0) | (i % 2 > 0) | (i % 5 == 0))
    ).all()


def test_pii_redact_leaves_no_matches(spark):
    from pyspark.sql import functions as F

    from geowave_spark.operators.text import pii_redact, pii_scan
    from geowave_spark.sources.testgeo import pii_planted

    red = pii_redact(pii_planted(spark, 200))
    rescan = pii_scan(red)
    assert rescan.where(F.col("has_pii")).count() == 0
    # placeholders present exactly where the originals were
    row = red.where("doc_id = 1").first()["text"]
    assert "<EMAIL>" in row and "<PHONE>" in row


def test_pii_scan_is_shuffle_free(spark):
    from geowave_spark.operators.text import pii_scan
    from geowave_spark.sources.testgeo import pii_planted

    plan = pii_scan(pii_planted(spark, 50))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------ chunk_tokens


def test_chunk_tokens_covers_exactly(spark, sf_dir):
    """Every token is covered; chunks advance by stride; the last chunk
    ends exactly at n_tokens (no overrun, no gap)."""
    from geowave_spark.operators.text import chunk_tokens, token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    W, S = 40, 30
    out = chunk_tokens(docs, W, S).cache()
    n_tok = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    rows = out.collect()
    by_doc = {}
    for r in rows:
        assert r["tok_start"] == r["chunk_id"] * S
        assert 1 <= r["tok_len"] <= W
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_tok)
    for d, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        last = chunks[-1]
        assert last["tok_start"] + last["tok_len"] == n_tok[d]  # exact coverage
        # every non-final chunk is full-width
        assert all(c["tok_len"] == W for c in chunks[:-1])
    out.unpersist()


def test_chunk_tokens_short_doc_single_chunk(spark):
    from geowave_spark.operators.text import chunk_tokens

    df = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(["w"] * 40)), (3, " ".join(["w"] * 41))],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["tok_start"], r["tok_len"])
        for r in chunk_tokens(df, 40, 30).collect()
    }
    assert got == {
        (1, 0): (0, 3),
        (2, 0): (0, 40),
        (3, 0): (0, 40),
        (3, 1): (30, 11),
    }


def test_chunk_tokens_matches_duckdb_twin(spark, sf_dir):
    import duckdb

    from geowave_spark.operators.text import chunk_tokens, chunk_tokens_sql

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["doc_id"], r["chunk_id"], r["tok_start"], r["tok_len"])
        for r in chunk_tokens(docs, 25, 20).collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    exp = set(map(tuple, con.sql(chunk_tokens_sql("documents", 25, 20)).fetchall()))
    assert got == exp and len(got) > 500


def test_chunk_tokens_bad_args_raise(spark, sf_dir):
    import pytest

    from geowave_spark.operators.text import chunk_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        chunk_tokens(docs, 10, 20)  # stride > window
    with pytest.raises(ValueError):
        chunk_tokens(docs, 10, 0)


def test_chunk_tokens_exhaustive_invariants(spark):
    """Exhaustive sweep: every token count 1..120 under five (W, S)
    configs — chunk count matches the closed form, coverage is exact,
    overlap is W-S everywhere but the tail."""
    from geowave_spark.operators.text import chunk_tokens

    rows = [(n, " ".join(["w"] * n)) for n in range(1, 121)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for W, S in [(40, 30), (25, 20), (10, 10), (64, 1), (7, 3)]:
        got = {}
        for r in chunk_tokens(df, W, S).collect():
            got.setdefault(r["doc_id"], []).append(r)
        assert set(got) == set(range(1, 121))
        for n, chunks in got.items():
            chunks.sort(key=lambda r: r["chunk_id"])
            exp_cnt = 1 if n <= W else (n - W + S - 1) // S + 1
            assert len(chunks) == exp_cnt, (W, S, n)
            assert chunks[-1]["tok_start"] + chunks[-1]["tok_len"] == n
            for c in chunks[:-1]:
                assert c["tok_len"] == W
            for a, b in zip(chunks, chunks[1:]):
                assert b["tok_start"] - a["tok_start"] == S


def test_token_count_bpe_engine_parity_and_semantics(spark):
    """The BPE-ish pre-tokenizer counts identically under Spark's Java
    regex and DuckDB's RE2 on adversarial strings (contractions,
    multi-space runs, unicode letters, CJK, digit/letter boundaries),
    and matches hand-counted expectations."""
    import duckdb

    from geowave_spark.operators.text import BPE_SPLIT_PATTERN, token_count_bpe

    cases = [
        (0, "hello world", 2),
        (1, "it's 2024, ok?!", 6),
        (2, "a  b\t\nc", 5),
        (3, "don't stop-me now3x", 8),
        (4, "", 0),
        (5, "  lead", 2),
        (6, "trail  ", 2),
        (7, "café ñandú 北京 12ab", 5),
        (8, "we'll they're i'm you've he'd", 10),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_tokens_bpe"] for r in token_count_bpe(df).collect()}
    con = duckdb.connect()
    pat = BPE_SPLIT_PATTERN.replace("'", "''")
    for i, t, exp in cases:
        assert got[i] == exp, (t, got[i], exp)
        duck = con.execute(
            f"SELECT len(regexp_extract_all(?, '{pat}'))", [t]
        ).fetchone()[0]
        assert duck == exp, (t, duck, exp)


def test_quality_filter_matches_duckdb_and_flags(spark, sf_dir):
    """Verdicts are integer-exact across engines; every rule fires on
    at least one crafted document."""
    import duckdb

    from geowave_spark.operators.text import quality_filter

    crafted = spark.createDataFrame(
        [
            (9001, "too short"),
            (9002, " ".join(["supercalifragilistic"] * 30)),  # bad_tok_len (long)
            (9003, " ".join(["x"] * 30)),  # bad_tok_len (short tokens)
            (9004, " ".join(["zqxw"] * 10 + ["wvum"] * 20)),  # no stopwords
            (9005, "the quick brown fox is on the run and it jumps for " * 3),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["reason"] for r in quality_filter(crafted).collect()}
    assert got[9001] == "too_short"
    assert got[9002] == "bad_tok_len"
    assert got[9003] == "bad_tok_len"
    assert got[9004] == "low_stopword"
    assert got[9005] == "ok"

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got_real = {
        (r["doc_id"], r["reason"], r["ok"]) for r in quality_filter(docs).collect()
    }
    import __spark_entry__ as e

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    exp = set(con.sql(e.oracle_sql()["quality_filter"]).fetchall())
    assert got_real == exp and len(got_real) > 0


def test_reverse_stored_layout_prunes_and_matches(spark, sf_dir):
    """The stored REVERSE layout answers ENDS_WITH identically to the
    query-time suffix_search, with the reversed-prefix range in
    PushedFilters (the write-time key, not a post-filter)."""
    import contextlib
    from io import StringIO

    from geowave_spark.operators.text_search import suffix_search
    from geowave_spark.plans.store import reverse_text_store, suffix_stored_query

    stored = reverse_text_store(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = suffix_stored_query(stored, "text", "row").select("doc_id")
    want = suffix_search(docs, "text", "row").select("doc_id")
    g = {r["doc_id"] for r in got.collect()}
    assert g == {r["doc_id"] for r in want.collect()} and len(g) > 0

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "rtext" in pushed[0]
