"""Text search: BEGINS_WITH / ENDS_WITH / CONTAINS, index-shaped.

Parity with the reference's TextIndexStrategy
(core/index/src/main/java/org/locationtech/geowave/core/index/text/TextIndexStrategy.java:19,
TextSearchType.java:13-19), which keys text three ways:

  FORWARD  — the string itself; prefix search = sort-key range scan
  REVERSE  — the reversed string; suffix search = prefix scan on it
  NGRAM    — fixed-size n-grams; contains search = n-gram key lookup
             then exact verification

The Spark re-expression keeps the same two-phase shape as every other
operator in this engine: a *coarse* predicate that Catalyst can push
into the scan (string range compare → parquet row-group min/max
pruning when the table is sorted by the keyed column; n-gram equi-join
against an inverted index table), then an *exact* native refinement
(startswith/endswith/contains). Case-insensitive variants lower() both
sides (the reference's CaseSensitivity option).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# a code point above any printable text in the fixtures; closes the
# prefix range [p, p + MAX_CHAR) the way the reference closes a
# sort-key range scan after the prefix bytes
_MAX_CHAR = "￿"


def _norm(c: Column, case_sensitive: bool) -> Column:
    return c if case_sensitive else F.lower(c)


def prefix_search(
    df: DataFrame, col: str, prefix: str, case_sensitive: bool = True
) -> DataFrame:
    """BEGINS_WITH via the FORWARD strategy: a sargable string-range
    coarse predicate (pushes to the scan) + exact startswith refine."""
    p = prefix if case_sensitive else prefix.lower()
    c = _norm(F.col(col), case_sensitive)
    coarse = (c >= p) & (c < p + _MAX_CHAR)
    return df.where(coarse & c.startswith(p))


def suffix_search(
    df: DataFrame, col: str, suffix: str, case_sensitive: bool = True
) -> DataFrame:
    """ENDS_WITH via the REVERSE strategy: prefix-scan the reversed
    string (materialize ``reverse(col)`` as a sorted layout column to
    get scan pruning), then exact endswith refine."""
    s = suffix if case_sensitive else suffix.lower()
    rc = F.reverse(_norm(F.col(col), case_sensitive))
    rp = s[::-1]
    coarse = (rc >= rp) & (rc < rp + _MAX_CHAR)
    return df.where(coarse & _norm(F.col(col), case_sensitive).endswith(s))


def ngrams_col(c: Column, n: int) -> Column:
    """All distinct character n-grams of a string (native transform)."""
    k = F.length(c) - (n - 1)
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(c, i, n)))


def ngram_index(
    df: DataFrame, col: str, id_col: str, n: int = 3, case_sensitive: bool = True
) -> DataFrame:
    """Inverted index table (gram, id) — the NGRAM key family. At scale
    this is written once, bucketed by ``gram``, and reused per query."""
    grams = ngrams_col(_norm(F.col(col), case_sensitive), n)
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def contains_search(
    df: DataFrame,
    col: str,
    id_col: str,
    needle: str,
    n: int = 3,
    case_sensitive: bool = True,
    index: DataFrame | None = None,
) -> DataFrame:
    """CONTAINS via the NGRAM strategy: candidates = rows containing the
    needle's first n-gram (one equi-join key, like the reference's
    single-gram scan), verified with the exact contains predicate. Rows
    shorter than the gram fall back to the exact scan path.
    """
    needle_n = needle if case_sensitive else needle.lower()
    c = _norm(F.col(col), case_sensitive)
    if len(needle_n) < n:
        return df.where(c.contains(needle_n))
    idx = index if index is not None else ngram_index(df, col, id_col, n, case_sensitive)
    cand = idx.where(F.col("gram") == needle_n[:n]).select(id_col).distinct()
    return df.join(cand, id_col, "leftsemi").where(c.contains(needle_n))

