"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
DuckDB-equivalent SQL over the same tables. Spatial operators run on
deterministic integer micro-degree coordinates derived from stable keys
(geowave_spark/sources/testgeo.py) so both engines are bit-exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geowave_spark.geom.wkb import polygon
from geowave_spark.operators.binning import bbox_agg, bin_by_cell
from geowave_spark.operators.dedup import (
    exact_dup_groups,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from geowave_spark.operators.distance_join import point_distance_join
from geowave_spark.operators.knn import knn
from geowave_spark.operators.similarity import dot_col, topk_brute
from geowave_spark.operators.spatial_join import box_point_join
from geowave_spark.operators.spatial_query import bbox_query, polygon_query
from geowave_spark.operators.text import fingerprint, lang_id, quality_features, token_count
from geowave_spark.sources.media import audio_stats_sql, video_frame_sample_sql
from geowave_spark.sources.testgeo import (
    customer_boxes,
    customer_boxes_sql,
    events_intervals_sql,
    events_points,
    events_points_sql,
    events_visible,
    events_visible_sql,
    octagon_vertices_sql,
    supplier_octagons,
    supplier_octagons_sql,
    xy_sql,
)
from geowave_spark import WORLD_X_U
from geowave_spark.index.native import grid_coord_sql
from geowave_spark.index.zorder import grid_coord as _gcoord

# ---------------------------------------------------------------- fixtures

BBOX = (-60_000_000, -40_000_000, 70_000_000, 55_000_000)
# convex pentagon, CCW, micro-degrees
PENTA = [
    (-50_000_000, -30_000_000),
    (60_000_000, -40_000_000),
    (75_000_000, 20_000_000),
    (0, 60_000_000),
    (-65_000_000, 15_000_000),
]
T_LO, T_HI = "2024-01-05 00:00:00", "2024-01-20 00:00:00"
KNN_QUERIES = [(1, 0, 0), (2, -73_950_000, 40_700_000), (3, 150_000_000, -60_000_000)]
# geodesic fixture: query 2 at 70°N (planar vs great-circle ranks
# diverge), query 3 at lon 179° (antimeridian wrap)
KNN_GEO_QUERIES = [
    (1, 0, 0),
    (2, 20_000_000, 70_000_000),
    (3, 179_000_000, -50_000_000),
]
KNN_K = 10
DIST_RADIUS_U = 2_000_000
TILE_RES = 7
BIN_RES = 4
# oracle text for the incremental-stats occupancy grid (STATS_RES = 6)
_STATS_GX = grid_coord_sql("x_u", 6)
_STATS_GY = grid_coord_sql("y_u", 6)
JACCARD_T = 600
SIM_QUERY_MOD = 100  # vec_id % 100 == 0 are the query vectors
SIM_K = 5
SIM_PAIR_T = 450  # dot*1000 threshold for the all-pairs similarity query


def _penta_halfplane_sql(x: str, y: str, strict: bool = False) -> str:
    """CCW convex polygon containment as AND of integer cross products
    (``strict`` = interior only, the JTS within/contains boundary)."""
    conds = []
    n = len(PENTA)
    op = ">" if strict else ">="
    for i in range(n):
        x1, y1 = PENTA[i]
        x2, y2 = PENTA[(i + 1) % n]
        conds.append(
            f"(({x2 - x1}) * ({y} - {y1}) - ({y2 - y1}) * ({x} - {x1})) {op} 0"
        )
    return " AND ".join(conds)


EVENTS_PTS = "pts"  # CTE name used in oracle SQL


def _pts_cte() -> str:
    return f"WITH {EVENTS_PTS} AS {events_points_sql('')}"


def _boxes_cte() -> str:
    return f"boxes AS {customer_boxes_sql('')}"


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: polygon spatial query (coarse SFC constraint + exact
    vectorized refinement) on sf0.001."""
    pts = events_points(spark, "/root/testdata/sf0.001")
    poly = polygon([[x, y] for x, y in PENTA])
    return polygon_query(pts, poly).select("event_id", "x_u", "y_u")


# ---------------------------------------------------------------- queries


def _q_bbox(spark, sf):
    x0, y0, x1, y1 = BBOX
    return bbox_query(events_points(spark, sf), x0, y0, x1, y1).select("event_id")


def _q_polygon(spark, sf):
    poly = polygon([[x, y] for x, y in PENTA])
    return polygon_query(events_points(spark, sf), poly).select("event_id")


def _q_polygon_disjoint(spark, sf):
    """DISJOINT CompareOperation (SpatialQueryFilter.java:47-158):
    negative spatial predicate = complement of the refined polygon
    query over the same coarse+exact pipeline."""
    poly = polygon([[x, y] for x, y in PENTA])
    pts = events_points(spark, sf)
    hit = polygon_query(pts, poly).select("event_id")
    return pts.join(hit, "event_id", "leftanti").select("event_id")


def _q_bbox_time(spark, sf):
    x0, y0, x1, y1 = BBOX
    df = bbox_query(events_points(spark, sf), x0, y0, x1, y1)
    return df.where(
        F.expr(f"ts >= TIMESTAMP '{T_LO}' AND ts < TIMESTAMP '{T_HI}'")
    ).select("event_id")


CQL_DW = (0, 5_000_000, 70_000_000)  # DWITHIN center (µdeg) + radius
CQL_TEXT = (
    f"BBOX(geom, {BBOX[0]}, {BBOX[1]}, {BBOX[2]}, {BBOX[3]}) "
    f"AND DWITHIN(geom, POINT({CQL_DW[0]} {CQL_DW[1]}), {CQL_DW[2]}) "
    f"AND ts DURING {T_LO.replace(' ', 'T')}Z/{T_HI.replace(' ', 'T')} "
    "AND value BETWEEN 10 AND 90 AND event_type LIKE 'c%'"
)


def _q_cql_filter(spark, sf):
    """(E)CQL text filter compiled to the index path — the CQLQuery /
    OptimalCQLQuery surface (core/geotime/.../query/api/
    OptimalCQLQuery.java:86-210), previously pytest-only component
    #12: BBOX → coarse constraint + exact refine, DURING → temporal
    window, DWITHIN → bbox coarse + exact integer circle refine, the
    BETWEEN/LIKE conjuncts → residual Catalyst post-filter
    (plans/cql.py; the BETWEEN's inner AND exercises the masked
    BETWEEN-aware conjunct splitter end-to-end)."""
    from geowave_spark.plans.cql import cql_filter

    return cql_filter(events_points(spark, sf), CQL_TEXT).select("event_id")


# geodesic DWITHIN fixture: 2000 km around 20°E 70°N — high latitude,
# where the planar µdeg circle and the great-circle disc disagree
GEO_DW = (20_000_000, 70_000_000, 2_000_000)


def _q_cql_dwithin_geodesic(spark, sf):
    """ECQL DWITHIN with 'meters' units → GREAT-CIRCLE semantics
    (plans/cql.py dwithin_geo): haversine refine + a sargable coarse
    bbox whose longitude window is latitude-corrected
    (geodesic.geodesic_window — at 70°N the lon window is ~3× the lat
    band, which a naive planar circle would miss). The reference's
    geodesic distance contract (OrthodromicDistancePartitioner)
    surfaced through the ECQL text surface; oracle = the same
    closed-form haversine in DuckDB, unconstrained."""
    from geowave_spark.plans.cql import cql_filter

    px, py, r = GEO_DW
    return cql_filter(
        events_points(spark, sf),
        f"DWITHIN(geom, POINT({px} {py}), {r}, 'meters')",
    ).select("event_id")


VIS_AUTHS = frozenset({"alpha", "gamma"})


def _q_visibility_scan(spark, sf):
    """Row visibility + query authorizations + field-level masking —
    the reference's visibility subsystem (core/store/.../data/
    visibility/VisibilityExpression.java grammar;
    JsonFieldLevelVisibilityHandler field masking). Rows whose
    visibility expression the auth set {alpha, gamma} does not satisfy
    are dropped (distinct-expression reduction → a pushable
    In(visibility, ...) scan filter), and the `value` field is nulled
    per-row where the field_visibility JSON's (regex-keyed) expression
    fails. The fixture's 'alpha|beta&omega' pins the grammar's
    equal-precedence LEFT-ASSOCIATIVE fold: (alpha|beta)&omega is
    FALSE here, where conventional precedence would let those rows
    through — the oracle's hand-evaluated IN-list catches either
    mistake."""
    from geowave_spark.plans.visibility import mask_fields_json, where_authorized

    df = events_visible(spark, sf)
    out = mask_fields_json(
        where_authorized(df, VIS_AUTHS),
        VIS_AUTHS,
        vis_col="field_visibility",
        fields=["value"],
    )
    return out.select(
        "event_id", "visibility", F.col("value").alias("value_vis")
    )


SUBS_RES = 7  # fixed-resolution subsampling grid (2^7 per dimension)


def _q_subsample_px(spark, sf):
    """Fixed-resolution subsampling of a viewport query — the
    MAX_RESOLUTION_SUBSAMPLING_PER_DIMENSION scan hint + the WMS
    geowave:Subsample render transform (DataStoreUtils.java:106,
    SubsampleProcess.java): one representative feature per occupied
    grid cell inside the bbox, min-key deterministic."""
    from geowave_spark.operators.spatial_query import subsample_at_resolution

    x0, y0, x1, y1 = BBOX
    df = bbox_query(events_points(spark, sf), x0, y0, x1, y1)
    return subsample_at_resolution(df, SUBS_RES)


LOOSE_RES = 6


def _q_bbox_loose(spark, sf):
    """BBOXLOOSE: coarse cell constraint only, no exact refinement."""
    from geowave_spark.operators.spatial_query import bbox_query_loose

    x0, y0, x1, y1 = BBOX
    return bbox_query_loose(events_points(spark, sf), x0, y0, x1, y1, LOOSE_RES).select(
        "event_id"
    )


def _q_spatial_join(spark, sf):
    return box_point_join(events_points(spark, sf), customer_boxes(spark, sf))


def _q_spatial_join_semi(spark, sf):
    return box_point_join(
        events_points(spark, sf), customer_boxes(spark, sf), how="leftsemi"
    ).select("event_id")


def _q_spatial_join_anti(spark, sf):
    return box_point_join(
        events_points(spark, sf), customer_boxes(spark, sf), how="leftanti"
    ).select("event_id")


def _q_distance_join(spark, sf):
    pts = events_points(spark, sf)
    cust = customer_boxes(spark, sf).select(
        "c_custkey",
        ((F.col("x_lo") + F.col("x_hi")) / 2).cast("long").alias("x_u"),
        ((F.col("y_lo") + F.col("y_hi")) / 2).cast("long").alias("y_u"),
    )
    return point_distance_join(pts, cust, DIST_RADIUS_U)


def _q_knn(spark, sf):
    return knn(spark, events_points(spark, sf), KNN_QUERIES, KNN_K)


def _q_knn_geodesic(spark, sf):
    """Great-circle kNN (operators/geodesic.knn_geodesic): haversine
    meters on the mean sphere, ranked inside latitude-corrected bbox
    windows that wrap at ±180° — the OrthodromicDistancePartitioner
    semantics. Query 2 sits at 70°N where planar µdeg and geodesic
    ranks genuinely differ (pytest asserts the divergence); query 3
    hugs the antimeridian so the wrap path is exercised in the gate.
    Output is (query_id, event_id, rank) — integer-exact; the oracle
    re-derives the same closed-form haversine in DuckDB."""
    from geowave_spark.operators.geodesic import knn_geodesic

    return knn_geodesic(
        spark, events_points(spark, sf), KNN_GEO_QUERIES, KNN_K
    )


def _q_tile_assign(spark, sf):
    from geowave_spark.index.native import grid_coord_col
    from geowave_spark import LAT_OFF_U, LON_OFF_U

    pts = events_points(spark, sf)
    return pts.select(
        "event_id",
        grid_coord_col(F.col("x_u"), TILE_RES, LON_OFF_U).alias("tx"),
        grid_coord_col(F.col("y_u"), TILE_RES, LAT_OFF_U).alias("ty"),
    )


def _q_spatial_bin(spark, sf):
    return bin_by_cell(
        events_points(spark, sf),
        BIN_RES,
        [F.count("*").alias("n"), F.sum("user_id").alias("sum_user")],
    )


def _q_bbox_agg(spark, sf):
    return bbox_agg(events_points(spark, sf))


def _docs(spark, sf):
    return spark.read.parquet(f"{sf}/documents.parquet")


def _q_doc_tokens(spark, sf):
    return token_count(_docs(spark, sf)).select("doc_id", "n_tokens")


def _q_quality_filter(spark, sf):
    """Composite rule-based quality gate (operators/text.quality_filter
    — the C4/Gopher-style document filter): first-failing-rule verdict
    over exact integer features (token bounds, mean-token-length band,
    cross-multiplied stopword ratio). Tail entry: oracle-checked in the
    full local sweep; in-window siblings doc_repetition + pii_scan keep
    the document-quality family in the driver gate."""
    from geowave_spark.operators.text import quality_filter

    return quality_filter(spark.read.parquet(f"{sf}/documents.parquet"))


def _q_pii_redacted(spark, sf):
    """PII redaction proven end-to-end (operators/text.pii_redact):
    the chained regexp_replace pipeline runs over the planted corpus
    and the oracle CONSTRUCTS the expected redacted text analytically
    from id arithmetic — zero regex in the oracle, so a hash match
    proves every pattern matched exactly its planted span and nothing
    else. Tail entry (full-sweep checked); pii_scan keeps the PII
    family in the driver window."""
    from geowave_spark.operators.text import pii_redact
    from geowave_spark.sources.testgeo import PII_N, pii_planted

    return pii_redact(pii_planted(spark, PII_N)).select(
        "doc_id", F.col("text").alias("redacted")
    )


def _pii_redacted_oracle() -> str:
    from geowave_spark.sources.testgeo import PII_N

    return (
        f"WITH ids AS (SELECT unnest(generate_series(0, {PII_N - 1})) AS i) "
        "SELECT i AS doc_id, 'clean filler text segment' "
        "|| (CASE WHEN i % 3 > 0 THEN ' mail <EMAIL>' ELSE '' END) "
        "|| (CASE WHEN i % 3 > 1 THEN ' mail <EMAIL>' ELSE '' END) "
        "|| (CASE WHEN i % 2 = 1 THEN ' call <PHONE>' ELSE '' END) "
        "|| (CASE WHEN i % 5 = 0 THEN ' host <IPV4>' ELSE '' END) "
        "|| ' end' AS redacted FROM ids"
    )


def _q_doc_quality(spark, sf):
    return quality_features(_docs(spark, sf))


def _q_lang_id(spark, sf):
    return lang_id(_docs(spark, sf))


def _q_common_passages(spark, sf):
    """Corpus-level repeated-passage detection: 8-gram passages shared
    by >= 3 distinct documents (cross-document exact-substring dedup
    signal; one explode + one map-side-combined groupBy — no pair join)."""
    from geowave_spark.operators.dedup import common_passages

    return common_passages(_docs(spark, sf), n=8, min_docs=3)


def _q_pack_sequences(spark, sf):
    """Sequence packing (operators/packing.py): token-counted documents
    → fixed-capacity (256-token) training windows, greedy next-fit per
    hash bucket — deterministic bucket draw + id order, so the oracle
    replays the identical greedy fold as a recursive CTE. One shuffle
    (groupBy bucket), one Arrow batch per bucket."""
    from geowave_spark.operators.packing import pack_sequences
    from geowave_spark.operators.text import token_count

    docs = token_count(spark.read.parquet(f"{sf}/documents.parquet"))
    # n_buckets pinned to the oracle's CTE layout (default None derives
    # it from corpus size — see packing.pack_sequences)
    return pack_sequences(docs, 256, n_buckets=16)


def _q_source_quota(spark, sf):
    """Per-source quota sampling (operators/sampling.source_quota):
    the C4/RefinedWeb-style domain cap — rank rows within each source
    by salted portable hash (dedup._h64), keep the first 15; a
    deterministic uniform draw per domain, so re-running any shard
    reproduces the identical subset. One hash-partitioned window, rank
    pushed into the sort via WindowGroupLimit."""
    from geowave_spark.operators.sampling import source_quota

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return source_quota(docs, 15).select("doc_id", "source", "rk")


def _q_doc_tokens_bpe(spark, sf):
    """Token counting at BOTH granularities the brief names: the
    whitespace count and the BPE-ish pre-tokenizer regex count
    (operators/text.token_count_bpe — contractions split off,
    letter/digit/punctuation runs with optional leading space; the
    RE2∩Java-regex common subset so Spark and DuckDB count
    identically). One codegen projection, no shuffle."""
    from geowave_spark.operators.text import token_count, token_count_bpe

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return token_count_bpe(token_count(docs)).select(
        "doc_id", "n_tokens", "n_tokens_bpe"
    )


def _q_chunk_docs(spark, sf):
    """Token-window chunking (operators/text.chunk_tokens): every
    document split into overlapping fixed-size training windows
    (window=40, stride=30 — overlap 10) with exact end-of-doc
    coverage. One codegen projection + explode(sequence) — no shuffle,
    no Python, no token-array materialization (chunk counts are
    closed-form). The pre-tokenization chunking step of an LLM data
    pipeline; per-doc window layout matches the SQL oracle's integer
    arithmetic row-for-row."""
    from geowave_spark.operators.text import chunk_tokens

    return chunk_tokens(spark.read.parquet(f"{sf}/documents.parquet"), 40, 30)


def _q_dataset_split(spark, sf):
    """Deterministic train/val/test split (operators/sampling.
    dataset_split): 90/5/5 by salted portable id hash — a pure
    function of the row id, so shards, re-runs, and incremental
    appends all agree; one codegen projection, no shuffle. Returned
    as per-(source, split) counts so the gate row also checks the
    stratification shape, not just the labels."""
    from geowave_spark.operators.sampling import dataset_split

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return (
        dataset_split(docs)
        .groupBy("source", "split")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_doc"))
    )


def _q_contamination(spark, sf):
    """Train/eval decontamination (operators/dedup.contamination — the
    GPT-3 Appendix-C n-gram overlap procedure): docs from source
    'src0' act as the held-out benchmark; every other doc sharing a
    word 3-gram with it is flagged with its distinct-gram hit count.
    Benchmark gram set broadcasts (eval sets are tiny against a 100 TB
    training corpus); the training side is one linear shingle pass."""
    from geowave_spark.operators.dedup import contamination

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return contamination(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
    )


def _q_pii_scan(spark, sf):
    """PII detection gate (operators/text.pii_scan): email/phone/IPv4
    regexp_count over the planted corpus (testgeo.pii_planted) — the
    oracle re-derives every count by id arithmetic, so a hash match
    proves the regex pipeline (patterns, counting, has_pii flag)
    end-to-end with zero regex in the oracle. One codegen projection,
    no shuffle."""
    from geowave_spark.operators.text import pii_scan
    from geowave_spark.sources.testgeo import PII_N, pii_planted

    return pii_scan(pii_planted(spark, PII_N))


def _q_doc_repetition(spark, sf):
    """Repetition-based quality filter signals (duplicate-token ratio
    numerator/denominator + most-frequent-bigram count — the published
    top-n-gram coverage filters of web-scale LLM pipelines)."""
    from geowave_spark.operators.text import repetition_features

    return repetition_features(_docs(spark, sf))


def _q_dedup_exact(spark, sf):
    return exact_dup_groups(_docs(spark, sf))


def _q_doc_fingerprint(spark, sf):
    return fingerprint(_docs(spark, sf))


def _q_ngram_jaccard(spark, sf):
    return ngram_jaccard_pairs(_docs(spark, sf), threshold=JACCARD_T / 1000)


def _q_minhash(spark, sf):
    return minhash_signatures(_docs(spark, sf), num_hashes=4)


def _q_simhash(spark, sf):
    return simhash(_docs(spark, sf), bits=16)


def _q_sim_topk(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % SIM_QUERY_MOD == 0)
    return topk_brute(emb, queries, SIM_K)


def _q_sim_pairs(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score_x1000", F.floor(dot_col(F.col("va"), F.col("vb")) * 1000).cast("long")
        )
        .where(F.col("score_x1000") >= SIM_PAIR_T)
        .select("id_a", "id_b", "score_x1000")
    )


KDE_LEVEL = 6
HIST_BIN_W = 50.0
HIST_MAX_BIN = 9
TOVL_LO, TOVL_HI = "2024-01-10 00:00:00", "2024-01-10 06:00:00"
LSH_JACCARD_T = 500


def _q_time_bin(spark, sf):
    from geowave_spark.operators.temporal import time_bin_col

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.groupBy(time_bin_col(F.col("ts"), "DAY").alias("bin_day")).agg(
        F.count("*").alias("n"), F.sum("user_id").alias("sum_user")
    )


def _q_time_bin_hour(spark, sf):
    """HOUR periodic binning (TemporalBinningStrategy finest unit)."""
    from geowave_spark.operators.temporal import time_bin_col

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.groupBy(time_bin_col(F.col("ts"), "HOUR").alias("bin_hour")).agg(
        F.count("*").alias("n")
    )


def _q_time_bin_week(spark, sf):
    """WEEK periodic binning — ISO weeks (Monday start) since epoch,
    completing the TemporalBinningStrategy.java:36-43 unit set."""
    from geowave_spark.operators.temporal import time_bin_col

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.groupBy(time_bin_col(F.col("ts"), "WEEK").alias("bin_week")).agg(
        F.count("*").alias("n"), F.sum("user_id").alias("sum_user")
    )


def _q_temporal_overlaps(spark, sf):
    from geowave_spark.operators.temporal import interval_end_col, time_overlaps

    ev = spark.read.parquet(f"{sf}/events.parquet")
    end = interval_end_col(F.col("ts"), F.col("user_id"))
    return ev.where(
        time_overlaps(
            F.col("ts"),
            end,
            F.lit(TOVL_LO).cast("timestamp"),
            F.lit(TOVL_HI).cast("timestamp"),
        )
    ).select("event_id")


def _q_text_prefix(spark, sf):
    from geowave_spark.operators.text_search import prefix_search

    return prefix_search(_docs(spark, sf), "text", "key").select("doc_id")


def _q_text_suffix(spark, sf):
    from geowave_spark.operators.text_search import suffix_search

    return suffix_search(_docs(spark, sf), "text", "row").select("doc_id")


def _q_text_suffix_stored(spark, sf):
    """ENDS_WITH through the STORED reverse-text layout (write-time
    reverse(text) sort key, plans/store.reverse_text_store — the
    TextIndexStrategy REVERSE key family): reversed-prefix range in
    PushedFilters, exact endswith refine. The old text_suffix tail row
    computes reverse() at query time; this one reads the stored key."""
    from geowave_spark.plans.store import reverse_text_store, suffix_stored_query

    return suffix_stored_query(
        reverse_text_store(spark, sf), "text", "row"
    ).select("doc_id")


def _q_text_contains(spark, sf):
    """CONTAINS through the STORED ngram inverted index (write-time
    materialization, plans/store.ngram_store — the TextIndexStrategy
    NGRAM layout): single-gram candidate scan with gram in
    PushedFilters, leftsemi to the docs, exact contains refine."""
    from geowave_spark.operators.text_search import contains_search
    from geowave_spark.plans.store import ngram_store

    return contains_search(
        _docs(spark, sf), "text", "doc_id", "spark join",
        index=ngram_store(spark, sf),
    ).select("doc_id")


DL_X_LO, DL_X_HI = 150_000_000, -150_000_000  # antimeridian-crossing box
DL_Y_LO, DL_Y_HI = -60_000_000, 60_000_000


def _q_bbox_dateline(spark, sf):
    from geowave_spark.operators.spatial_query import bbox_query_dateline

    return bbox_query_dateline(
        events_points(spark, sf), DL_X_LO, DL_Y_LO, DL_X_HI, DL_Y_HI
    ).select("event_id")


def _q_poly_join(spark, sf):
    from geowave_spark.operators.poly_join import octagon_point_join

    return octagon_point_join(events_points(spark, sf), supplier_octagons(spark, sf))


def _q_kde(spark, sf):
    from geowave_spark.operators.kde import kde_level

    return kde_level(events_points(spark, sf), KDE_LEVEL)


KDE_PYR_LO, KDE_PYR_HI = 5, 7


def _q_kde_pyramid(spark, sf):
    from geowave_spark.operators.kde import kde_pyramid

    return kde_pyramid(events_points(spark, sf), KDE_PYR_LO, KDE_PYR_HI)


def _q_tile_cover(spark, sf):
    from geowave_spark.operators.tiling import box_tile_cover

    return box_tile_cover(customer_boxes(spark, sf), TILE_RES)


def _q_histogram(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    bin_c = F.least(
        F.floor(F.col("value") / F.lit(HIST_BIN_W)).cast("int"), F.lit(HIST_MAX_BIN)
    )
    return ev.groupBy(bin_c.alias("bin")).agg(F.count("*").alias("n"))


def _q_stats_summary(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_x100"),
    )


RASTER_N = 300  # synthetic images for the oracle-checked raster pipeline
RASTER_HALF = 600_000  # image half-span, µdeg
RASTER_TS = 32  # tile size (pixels) — also the fixture image size


def _q_raster_tiles(spark, sf):
    """Full raster ingest pipeline (generate → assign → cut → mosaic
    merge), exposed to the oracle gate via its deterministic metadata:
    tile IDs and per-tile contributor counts are pure functions of the
    image-id → coordinate derivation, so DuckDB can reproduce them
    row-for-row (pixel fidelity is covered by golden tests +
    PSNR assertions in tests/test_tiling.py / test_png.py)."""
    from geowave_spark.operators.tiling import tile_cut_and_merge
    from geowave_spark.sources.images import images_table

    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    tiles = tile_cut_and_merge(imgs, RASTER_HALF, tile_size=RASTER_TS)
    return tiles.select("level", "tx", "ty", "n_contrib")


def _q_raster_retile(spark, sf):
    """Re-tile (coarsen by one pyramid level) the mosaic produced by
    the raster pipeline — RasterTileResizeSparkRunner semantics. The
    oracle checks the re-keyed tile grid (distinct parent tiles of the
    covered children); pixel decimation is covered by golden tests."""
    from geowave_spark.operators.tiling import pick_level, retile, tile_cut_and_merge
    from geowave_spark.sources.images import images_table

    level = pick_level(2 * RASTER_HALF, RASTER_TS, RASTER_TS)
    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    tiles = tile_cut_and_merge(imgs, RASTER_HALF, tile_size=RASTER_TS, level=level)
    return retile(tiles.select("level", "tx", "ty", "tile"), level, level - 1, RASTER_TS).select(
        "level", "tx", "ty"
    )


HIST_BINS = 16  # equal-width uint8 buckets for the histogram statistic


def _q_raster_histogram(spark, sf):
    """Per-tile pixel histogram over the merged mosaic — the
    RasterHistogramStatistic analog (extensions/adapters/raster/.../
    stats/RasterHistogramStatistic.java), previously pytest-only
    component #41. decode → cut → no-data merge → np.bincount all in
    Arrow batches; the hist array is exploded to (tx, ty, bin, cnt)
    rows so the oracle hashes actual MOSAIC PIXEL VALUES — the first
    gate row that checks merged pixel content, not just tile keys
    (merge order is deterministic: image_id-ordered first-non-no-data
    wins, tiling.py phase-2 fold)."""
    from geowave_spark.operators.tiling import tile_cut_and_merge, tile_histograms
    from geowave_spark.sources.images import images_table

    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    tiles = tile_cut_and_merge(imgs, RASTER_HALF, tile_size=RASTER_TS)
    hist = tile_histograms(tiles, tile_size=RASTER_TS, bins=HIST_BINS)
    return (
        hist.select("tx", "ty", F.posexplode("hist").alias("bin", "cnt"))
        .where(F.col("cnt") > 0)
        .select("tx", "ty", F.col("bin").cast("int").alias("bin"), "cnt")
    )


def _raster_histogram_oracle() -> str:
    """Driver-side replay of the exact mosaic (same cut/merge kernels,
    image_id order) → VALUES — the image_thumbs/phash oracle pattern:
    the generator is deterministic, so the single-threaded composition
    is the ground truth the distributed two-phase merge must equal."""
    import numpy as np

    from geowave_spark import LON_OFF_U, LAT_OFF_U
    from geowave_spark.operators.tiling import cut_tile, merge_no_data, pick_level
    from geowave_spark.sources.images import render_pixels
    from geowave_spark.sources.testgeo import xy_numpy

    level = pick_level(2 * RASTER_HALF, RASTER_TS, RASTER_TS)
    n = 1 << level
    g = lambda v, off: min(max(((v + off) * n) // WORLD_X_U, 0), n - 1)
    xs, ys = xy_numpy(np.arange(RASTER_N))
    acc: dict[tuple[int, int], np.ndarray] = {}
    for i in range(RASTER_N):
        img = render_pixels(i, RASTER_TS, RASTER_TS)
        box = (int(xs[i]) - RASTER_HALF, int(ys[i]) - RASTER_HALF,
               int(xs[i]) + RASTER_HALF, int(ys[i]) + RASTER_HALF)
        for tx in range(g(box[0], LON_OFF_U), g(box[2], LON_OFF_U) + 1):
            for ty in range(g(box[1], LAT_OFF_U), g(box[3], LAT_OFF_U) + 1):
                piece = cut_tile(img, box, level, tx, ty, RASTER_TS)
                prev = acc.get((tx, ty))
                acc[(tx, ty)] = piece if prev is None else merge_no_data(prev, piece)
    width = 256 // HIST_BINS
    rows = []
    for (tx, ty), tile in acc.items():
        h = np.bincount(tile.reshape(-1) // width, minlength=HIST_BINS)[:HIST_BINS]
        rows.extend(
            f"({tx}, {ty}, {b}, {int(c)})" for b, c in enumerate(h) if c
        )
    return (
        "SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty, "
        "CAST(bin AS INT) AS bin, CAST(cnt AS BIGINT) AS cnt "
        f"FROM (VALUES {', '.join(rows)}) AS t(tx, ty, bin, cnt)"
    )


RASTER_MB_N = 240  # typed multi-band fixture size
RASTER_MB_BG = (-7777, 7777)  # per-band background / no-data values


def _q_raster_multiband(spark, sf):
    """Multi-band typed raster ingest (int16 x 2 bands, per-band
    background + per-band no-data first-wins merge — the DataBuffer
    generality of RasterDataAdapter.java:444-550). Oracle checks the
    tile grid + contributor counts (pure functions of the id →
    coordinate derivation); per-band pixel exactness vs a sequential
    driver-side merge is asserted in tests/test_tiling.py."""
    from geowave_spark.operators.tiling import tile_cut_and_merge
    from geowave_spark.sources.images import images_table_typed

    imgs = images_table_typed(
        spark, RASTER_MB_N, w=RASTER_TS, h=RASTER_TS, bands=2, dtype="int16",
        partitions=8,
    )
    tiles = tile_cut_and_merge(
        imgs, RASTER_HALF, tile_size=RASTER_TS, bands=2, dtype="int16",
        background=RASTER_MB_BG,
    )
    return tiles.select("level", "tx", "ty", "n_contrib")


def _q_wms_render(spark, sf):
    """WMS GetMap: bbox query over the mosaic tile table rendered to a
    bounded output canvas (rows-only driver check — single binary image
    row; exact pixel parity vs a numpy reference is asserted in
    tests/test_render.py)."""
    from geowave_spark.operators.tiling import (
        pick_level,
        render_mosaic,
        tile_cut_and_merge,
    )
    from geowave_spark.sources.images import images_table

    level = pick_level(2 * RASTER_HALF, RASTER_TS, RASTER_TS)
    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    tiles = tile_cut_and_merge(imgs, RASTER_HALF, tile_size=RASTER_TS, level=level)
    return render_mosaic(
        tiles, *BBOX[:2], *BBOX[2:], level, 128, 128, tile_size=RASTER_TS
    ).select("x_lo", "y_lo", "x_hi", "y_hi", "w", "h")


NN_MAX_D = 2_000_000
NN_K = 4
NN_LEFT_MOD = 20


def _q_nn_join(spark, sf):
    from geowave_spark.operators.nn_join import nn_self_join

    return nn_self_join(
        events_points(spark, sf),
        NN_MAX_D,
        NN_K,
        left_filter=F.col("event_id") % NN_LEFT_MOD == 0,
    )


def _q_minhash_lsh(spark, sf):
    from geowave_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf),
        num_hashes=4,
        bands=2,
        jaccard_threshold=LSH_JACCARD_T / 1000,
    )


def _q_dedup_groups(spark, sf):
    """Near-duplicate GROUPING end-to-end: LSH pairs (same params as
    minhash_lsh) → connected components (min-label propagation) → one
    canonical doc per cluster, singletons included. The oracle closes
    the same pair list transitively with a recursive CTE, so a green
    row proves signatures, banding, verification AND the component
    labeling in one hash."""
    from geowave_spark.operators.dedup import near_dup_groups

    return near_dup_groups(
        _docs(spark, sf),
        num_hashes=4,
        bands=2,
        jaccard_threshold=LSH_JACCARD_T / 1000,
    )


def _q_sim_topk_lsh(spark, sf):
    """Approximate ANN (LSH bucket + Hamming-1 multiprobe) — candidate
    set is data-dependent, so this is a rows-only driver check; recall
    vs brute force is asserted in tests/test_similarity_lsh.py."""
    from geowave_spark.operators.similarity import topk_lsh

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") % SIM_QUERY_MOD == 0)
    return topk_lsh(spark, emb, queries_df, SIM_K)


def _boxes_cached(spark, sf):
    """customer_boxes as a materialized fixture (production shape: a
    stored parquet extent table exposes plain columns). Deriving XZ keys
    over the *expression-defined* fixture instead re-inlines the box
    CASE tree at every grid-coord reference — the derived filter blew
    past the 64 KB codegen method limit and fell back to interpreted.
    The persist boundary makes downstream plans reference attributes."""
    return _fixture_cached("boxes", sf, lambda: customer_boxes(spark, sf))


def _q_xz_extent(spark, sf):
    """Extent bbox query through the XZ-order index (one key per
    extent, XZOrderSFC/XZHierarchicalIndexStrategy parity)."""
    from geowave_spark.index.xz import xz_extent_query

    x0, y0, x1, y1 = BBOX
    return xz_extent_query(_boxes_cached(spark, sf), x0, y0, x1, y1).select(
        "c_custkey"
    )


def _q_xz_join(spark, sf):
    """Point-in-extent join through the XZ index: extent side stays one
    row per extent; bounded 4x probe-side duplication."""
    from geowave_spark.index.xz import xz_box_point_join

    return xz_box_point_join(events_points(spark, sf), _boxes_cached(spark, sf))


SPLIT_RES, SPLIT_TARGET = 5, 200


def _q_split_plan(spark, sf):
    """Histogram-driven balanced scan splits (SplitsProvider parity)."""
    from geowave_spark.plans.stats import split_plan

    return split_plan(events_points(spark, sf), SPLIT_RES, SPLIT_TARGET)


def _q_field_stats(spark, sf):
    """Field statistics: count / nulls / min / max / sum per numeric
    field (FieldMin/Max/SumAggregation + NumericRangeStatistic parity,
    core/store/.../aggregate/FieldMinAggregation.java et al.)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.agg(
        F.count("*").alias("n_rows"),
        F.count("value").alias("n_value"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_value_null"),
        F.min(F.round(F.col("value") * 100).cast("long")).alias("min_value_x100"),
        F.max(F.round(F.col("value") * 100).cast("long")).alias("max_value_x100"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_x100"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )


N_AUDIO, N_VIDEO, FRAME_EVERY = 200, 120, 2


def _q_audio_stats(spark, sf):
    """Decoded-audio statistics over PCM16 binary payloads; the DuckDB
    oracle re-derives the stats from the generator formula without
    reading bytes — so a value match proves the decode path."""
    from geowave_spark.operators.multimodal import audio_stats
    from geowave_spark.sources.media import audio_table

    return audio_stats(audio_table(spark, N_AUDIO))


def _q_frame_sample(spark, sf):
    """Video frame sampling (1→N explode of binary frame stacks);
    oracle checks per-sampled-frame pixel sums."""
    from geowave_spark.operators.multimodal import frame_sample
    from geowave_spark.sources.media import video_table

    return frame_sample(video_table(spark, N_VIDEO), every=FRAME_EVERY).select(
        "media_id", "frame_idx", "sum_px"
    )


def _q_sim_topk_ivf(spark, sf):
    """IVF inverted-file ANN (rows-only driver check — centroid
    assignment is data-dependent; recall + exactness-at-full-probe are
    asserted in tests/test_similarity_lsh.py)."""
    from geowave_spark.operators.similarity import topk_ivf

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") % SIM_QUERY_MOD == 0)
    return topk_ivf(emb, queries_df, SIM_K)


def _q_cos_dedup(spark, sf):
    """Embedding-cosine near-duplicate pairs via LSH candidates +
    exact verification (rows-only driver check; the exact-threshold
    all-pairs twin `sim_pairs` is fully oracle-checked)."""
    from geowave_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return cosine_near_dup_pairs(emb, threshold_x1000=SIM_PAIR_T)


# ------------------------------------------- general-geometry surface
# Non-convex polygons (rectilinear L-shapes), linestrings (staircase
# tracks), geometry×geometry joins, and the full CompareOperation set
# as oracle-checked queries — the TieredSpatialJoin general path
# (TieredSpatialJoin.java:59-552; GeoWaveSparkSpatialJoinIT joins hail
# points × tornado-track lines).

GEOM_DWITHIN_U = 1_000_000
# rectilinear U: BBOX with a notch cut from the top edge
U_NX0, U_NX1, U_NY0 = -20_000_000, 20_000_000, 0


def _fixture_cached(tag, sf, build):
    """Stored geometry fixtures: the WKB-construction UDF runs ONCE per
    (fixture, sf) at materialization time and the result lives as a
    cached snapshot table (plans/store.cached_table) — the production
    shape, where geometry tables are stored and every query pays a real
    scan. Replaces the round-2 in-memory session persist, so geom-join
    bench entries now include genuine fixture IO."""
    from pyspark.sql import SparkSession

    from geowave_spark.plans.store import cached_table

    spark = SparkSession.getActiveSession()
    return cached_table(f"fix_{tag}", sf, [build], stats_cols=[]).read(spark)


def _lshapes(spark, sf):
    from geowave_spark.sources.testgeo import supplier_lshapes

    return _fixture_cached("lshapes", sf, lambda: supplier_lshapes(spark, sf))


def _tracks(spark, sf):
    from geowave_spark.sources.testgeo import part_tracks

    return _fixture_cached("tracks", sf, lambda: part_tracks(spark, sf))


def _snapped(spark, sf):
    from geowave_spark.sources.testgeo import customer_snapped_boxes

    return _fixture_cached("snapped", sf, lambda: customer_snapped_boxes(spark, sf))


def _q_geom_poly_join(spark, sf):
    """Points × non-convex (L-shaped) polygons through the general
    geometry join: WKB polyfill cells on the build side, per-res point
    re-key + grouped vectorized refinement on the probe side."""
    from geowave_spark.operators.geom_join import geom_point_join

    return geom_point_join(
        events_points(spark, sf), _lshapes(spark, sf), "intersects",
        geom_key="s_suppkey",
    )


def _q_geom_line_join(spark, sf):
    """Linestrings × non-convex polygons — true geometry×geometry join
    (both sides polyfilled and read by one bounded collect each, then
    one cross-resolution equi-join on a packed BIGINT key)."""
    from geowave_spark.operators.geom_join import geom_geom_join

    return geom_geom_join(
        _tracks(spark, sf), _lshapes(spark, sf), "intersects",
        left_key="p_partkey", right_key="s_suppkey",
    )


def _q_geom_crosses_join(spark, sf):
    """CROSSES CompareOperation as a join predicate: staircase tracks
    crossing box interiors (interior hit + exterior part)."""
    from geowave_spark.operators.geom_join import geom_geom_join

    return geom_geom_join(
        _tracks(spark, sf), _snapped(spark, sf), "crosses",
        left_key="p_partkey", right_key="c_custkey",
    )


def _q_geom_dwithin_join(spark, sf):
    """Within-distance join against lineal geometries: buffered cover
    cells + exact vectorized point→segment distance refinement
    (GeomWithinDistance semantics over general geometry)."""
    from geowave_spark.operators.geom_join import geom_point_join

    return geom_point_join(
        events_points(spark, sf), _tracks(spark, sf),
        distance_u=GEOM_DWITHIN_U, geom_key="p_partkey",
    )


def _snapped_pair_join(spark, sf, predicate, symmetric):
    from geowave_spark.operators.geom_join import geom_geom_join

    sb = _snapped(spark, sf)
    a = sb.select(F.col("c_custkey").alias("a_key"), "geom")
    b = sb.select(F.col("c_custkey").alias("b_key"), "geom")
    flt = (
        F.col("a_key") < F.col("b_key")
        if symmetric
        else F.col("a_key") != F.col("b_key")
    )
    return geom_geom_join(
        a, b, predicate, left_key="a_key", right_key="b_key", pair_filter=flt
    )


def _q_pred_equals(spark, sf):
    return _snapped_pair_join(spark, sf, "equals", True)


def _q_pred_touches(spark, sf):
    return _snapped_pair_join(spark, sf, "touches", True)


def _q_pred_overlaps(spark, sf):
    return _snapped_pair_join(spark, sf, "overlaps", True)


def _q_pred_contains(spark, sf):
    return _snapped_pair_join(spark, sf, "contains", False)


def _q_pred_within(spark, sf):
    """WITHIN CompareOperation: strictly-interior points (JTS within
    excludes the boundary; contrast the covers-semantics `polygon`
    query)."""
    poly = polygon([[x, y] for x, y in PENTA])
    return polygon_query(
        events_points(spark, sf), poly, predicate="within"
    ).select("event_id")


def _q_poly_nonconvex(spark, sf):
    """Range query with a concave (rectilinear U) constraint geometry
    through the same coarse+exact pipeline as `polygon`."""
    x0, y0, x1, y1 = BBOX
    u = polygon(
        [
            [x0, y0], [x1, y0], [x1, y1], [U_NX1, y1],
            [U_NX1, U_NY0], [U_NX0, U_NY0], [U_NX0, y1], [x0, y1],
        ]
    )
    return polygon_query(events_points(spark, sf), u).select("event_id")


# ------------------------------------------------- stored-key index paths
# Write-time key materialization + sorted layout (plans/store.py): the
# coarse constraint lands on STORED columns, so parquet row-group
# pruning applies — the reference's actual storage model, vs the
# derived-expression twins (xz_extent, bbox, bbox_time) which re-derive
# keys per query.


def _q_xz_extent_keyed(spark, sf):
    """xz_extent through the stored (res, ax, ay) table + sargable
    per-res range disjunction (keyed=True path of index/xz.py)."""
    from geowave_spark.index.xz import xz_extent_query
    from geowave_spark.plans.store import xz_extent_store

    x0, y0, x1, y1 = BBOX
    return xz_extent_query(
        xz_extent_store(spark, sf), x0, y0, x1, y1, keyed=True
    ).select("c_custkey")


def _q_st_bbox_time(spark, sf):
    """Spatial-temporal composite index in the query path: DAY bin +
    Morton cell both in the scan predicate (not a post-filter)."""
    from geowave_spark.plans.store import st_bbox_time_query, st_store

    x0, y0, x1, y1 = BBOX
    return st_bbox_time_query(
        st_store(spark, sf), x0, y0, x1, y1, T_LO, T_HI
    ).select("event_id")


def _q_st_interval_query(spark, sf):
    """Interval (ranged-time) index: events carry [ts_start, ts_end)
    derived from ts + a key-hashed 1h..49h duration; the stored layout
    duplicates each row into every DAY bin its interval spans
    (TemporalBinningStrategy bin-spanning insertion), the query scans
    bins overlapping [T_LO, T_HI) + Morton cell ranges, refines with
    the exact half-open overlap, and dedupes on read."""
    from geowave_spark.plans.store import st_interval_query, st_interval_store

    x0, y0, x1, y1 = BBOX
    return st_interval_query(
        st_interval_store(spark, sf), x0, y0, x1, y1, T_LO, T_HI
    ).select("event_id")


IVJ_MOD_A, IVJ_MOD_B = 11, 13  # interval_join side filters


def _q_interval_join(spark, sf):
    """Interval×interval OVERLAPS join — ranged-time fields on BOTH
    sides: each side's [ts_start, ts_end) explodes into the DAY bins
    it touches (TemporalBinningStrategy bin-spanning insertion,
    core/geotime/.../dimension/TemporalBinningStrategy.java:36-43),
    bins equi-join, and a pair is kept only in the FIRST bin the two
    ranges share — exactly-once with no dedupe shuffle (the engine's
    replacement for the reference's read-side DedupeFilter) — then
    refined with the exact half-open overlap. Output: the pair ids +
    overlap length in integer microseconds."""
    from geowave_spark.operators.interval_join import (
        interval_overlap_join,
        overlap_micros,
    )
    from geowave_spark.sources.testgeo import events_intervals

    iv = events_intervals(spark, sf)
    a = iv.where(F.col("event_id") % IVJ_MOD_A == 0).select(
        F.col("event_id").alias("a_id"),
        F.col("ts_start").alias("a_start"),
        F.col("ts_end").alias("a_end"),
    )
    b = iv.where(F.col("event_id") % IVJ_MOD_B == 0).select(
        F.col("event_id").alias("b_id"),
        F.col("ts_start").alias("b_start"),
        F.col("ts_end").alias("b_end"),
    )
    return interval_overlap_join(a, b).select(
        "a_id",
        "b_id",
        overlap_micros("a_start", "a_end", "b_start", "b_end").alias("ov_us"),
    )


NN_GEO_RADIUS_M = 300_000.0  # 300 km
NN_GEO_MOD = 50  # event_id % 50 == 0 are the query rows
NN_GEO_K = 5


def _q_nn_join_geodesic(spark, sf):
    """All-pairs NN self-join with a 300 km GREAT-CIRCLE radius
    (operators/geodesic.nn_self_join_geodesic): latitude-corrected
    per-row candidate rings (wider in lon-cells at high latitude),
    antimeridian wrap, haversine refine, per-query top-k. Query side
    restricted to event_id % 50 == 0 so the DuckDB brute oracle stays
    tractable; outputs integer ranks only."""
    from geowave_spark.operators.geodesic import nn_self_join_geodesic

    return nn_self_join_geodesic(
        events_points(spark, sf),
        NN_GEO_RADIUS_M,
        NN_GEO_K,
        left_filter=F.col("event_id") % NN_GEO_MOD == 0,
    )


def _q_crs_transform(spark, sf):
    """Closed-form WGS84↔Web-Mercator reprojection (geom/transform.py —
    the sandbox stand-in for the reference's GeoTools crsTransform):
    events reprojected to integer-mm 3857 and back, both legs native
    codegen (ln/tan/atan/exp), outputs the forward coordinates AND the
    round-trip micro-degrees so the oracle pins both directions."""
    from geowave_spark.geom.transform import (
        merc_x_mm,
        merc_y_mm,
        wgs_x_u,
        wgs_y_u,
    )

    pts = events_points(spark, sf)
    fwd = pts.select(
        "event_id",
        merc_x_mm(F.col("x_u")).alias("x_mm"),
        merc_y_mm(F.col("y_u")).alias("y_mm"),
    )
    return fwd.select(
        "event_id",
        "x_mm",
        "y_mm",
        wgs_x_u(F.col("x_mm")).alias("rt_x_u"),
        wgs_y_u(F.col("y_mm")).alias("rt_y_u"),
    )


def _q_utm_transform(spark, sf):
    """WGS84 → UTM (ellipsoidal transverse Mercator, Krüger n⁴ series,
    per-row zone) → WGS84 over every event (geom/transform.utm_stages):
    17 chained selectExpr stages Catalyst collapses into ONE
    whole-stage-codegen projection; the inverse is fixed-point
    inversion of the exact forward map. The oracle runs the SAME stage
    strings as a DuckDB CTE chain, so both engines execute textually
    identical math (e_m/n_m integer meters; rt_* exact µdeg)."""
    from geowave_spark.geom.transform import utm_roundtrip

    pts = events_points(spark, sf).select("event_id", "x_u", "y_u")
    return utm_roundtrip(pts).select(
        "event_id", "zone", "e_m", "n_m", "rt_x_u", "rt_y_u"
    )


def _q_hilbert_bbox(spark, sf):
    """bbox range scan over the stored Hilbert point index — the
    reference's default point curve as a live index option."""
    from geowave_spark.plans.store import hilbert_bbox_query, hilbert_store

    x0, y0, x1, y1 = BBOX
    return hilbert_bbox_query(hilbert_store(spark, sf), x0, y0, x1, y1).select(
        "event_id"
    )


def _q_ice_bbox(spark, sf):
    """bbox scan over the snapshot-table (Iceberg-style) store: manifest
    file pruning on the stored cell stats, then row-group pruning, then
    exact refinement (sources/icetable.py)."""
    from geowave_spark.plans.store import ice_bbox_query, ice_events_store

    x0, y0, x1, y1 = BBOX
    return ice_bbox_query(spark, ice_events_store(spark, sf), x0, y0, x1, y1).select(
        "event_id"
    )


def _q_ice_delete(spark, sf):
    """Row-level DELETE on the snapshot table (IceTable.delete_where —
    copy-on-write: only stat-overlapping files rewritten, untouched
    files carried forward; Iceberg v1 semantics for the reference's
    BaseDataStore.deleteEntries). The store commits the cell-sorted
    events, deletes `value < 50` INSIDE the query bbox (idempotent:
    the delete is applied once, detected via the snapshot log), then
    runs the SAME three-level-pruned bbox scan as the old ice_bbox row
    over the post-delete manifest — so this row checks commit, delete
    row-accounting, NULL-never-matches semantics, snapshot isolation
    AND the manifest-pruned read in one oracle comparison."""
    from geowave_spark.plans.store import ice_bbox_query, ice_events_store

    x0, y0, x1, y1 = BBOX
    t = ice_events_store(spark, sf, "ice_del")
    if t.snapshots()[-1]["operation"] != "delete":
        t.delete_where(
            spark,
            predicate=(
                f"x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
                "AND value < 50"
            ),
        )
    return ice_bbox_query(spark, t, x0, y0, x1, y1).select("event_id")


def _q_ice_delete_mor(spark, sf):
    """Merge-on-read row DELETE on the snapshot table
    (IceTable.delete_keys(mode='mor') — Iceberg v2 equality deletes):
    the matched key set is committed as a delete FILE and ZERO data
    files are rewritten; the same three-level-pruned bbox scan as
    ice_delete then applies the delete at read time via a seq-gated
    anti-join (_read_with_deletes), so the oracle sees rows identical
    to a copy-on-write delete — MoR is purely a write-amplification
    choice, which is exactly the contract (the reference's
    BaseDataStore.delete rides the KV backend's tombstone markers the
    compaction later folds — core/store/.../base/BaseDataStore.java).
    The keys come from query-then-delete on the store itself (bbox
    scan + value < 40), matching BaseDataStore.delete(query)'s
    resolve-ids-then-delete shape. Idempotent via the snapshot log."""
    from geowave_spark.plans.store import ice_bbox_query, ice_events_store

    x0, y0, x1, y1 = BBOX
    t = ice_events_store(spark, sf, "ice_mor", ("cell", "event_id"))
    if t.snapshots()[-1]["operation"] != "delete":
        keys = (
            ice_bbox_query(spark, t, x0, y0, x1, y1)
            .where(F.col("value") < 40)
            .select("event_id")
        )
        t.delete_keys(keys, "event_id", mode="mor")
    return ice_bbox_query(spark, t, x0, y0, x1, y1).select("event_id")


def _q_ice_stream_ingest(spark, sf):
    """Structured-Streaming ingest into the snapshot table
    (streaming/ingest.stream_ingest_icetable): the events corpus is
    staged as 4 parquet files, consumed as a file-source stream with
    maxFilesPerTrigger=1 — four micro-batches, each indexed with the
    SAME native cell expression as batch and committed as ONE atomic
    append snapshot tagged with its Structured Streaming batch id
    (exactly-once: a replayed id is skipped against the snapshot log).
    The returned scan is the standard three-level-pruned bbox read over
    the streamed table — so this row checks the stream→snapshot-store
    write path end-to-end against the batch oracle (the reference's
    Kafka ingest rides the same adapter/index write path as files —
    BasicKafkaIT; core/ingest framework)."""
    import os as _os

    import pyarrow.dataset as pads

    from geowave_spark.plans.store import cache_path, ice_bbox_query
    from geowave_spark.sources.formats import build_dir_once
    from geowave_spark.sources.icetable import IceTable
    from geowave_spark.streaming.ingest import stream_ingest_icetable

    x0, y0, x1, y1 = BBOX
    root = cache_path("ice_stream", f"{sf}:16")
    src = _os.path.join(root, "src")
    t = IceTable(_os.path.join(root, "tbl"))
    # drain until the table holds every staged row: a run killed between
    # micro-batch commits resumes from its checkpoint, and the sink's
    # batch-id skip keeps a replayed batch exactly-once
    if not _os.path.exists(src) or (
        t.merged_column_stats()["n_rows"] < pads.dataset(src).count_rows()
    ):
        pts = events_points(spark, sf)
        build_dir_once(src, lambda tmp: pts.repartition(4).write.mode("overwrite").parquet(tmp))
        q = stream_ingest_icetable(
            spark,
            {
                "format": "file",
                "path": src,
                "options": {"maxFilesPerTrigger": "1"},
            },
            t,
            _os.path.join(root, "ckpt"),
            schema=pts.schema,
            res=16,
            stats_cols=["cell"],
        )
        # a timed-out availableNow drain would leave a half-ingested
        # store for the next call to finish — fail loudly here instead
        assert q.awaitTermination(600), "stream ingest did not drain"
    return ice_bbox_query(spark, t, x0, y0, x1, y1).select("event_id")


def _q_ice_incremental(spark, sf):
    """Incremental append scan (IceTable.scan_appends — the Iceberg
    incremental-read contract): the two-append store (even event_ids,
    then odd), read FROM the batch-0 snapshot — exactly the second
    commit's rows come back, no full-table rescan (at 100 TB: a
    downstream incremental consumer reads one commit's files, not the
    table). The oracle recomputes the second batch's membership from
    the raw events."""
    from geowave_spark.plans.store import ice_events_appends_store

    t = ice_events_appends_store(spark, sf)
    first_sid = next(s["id"] for s in t.snapshots() if s["summary"].get("batch") == 0)
    df, _report = t.scan_appends(spark, first_sid)
    return df.select("event_id")


def _q_stats_sketch_commit(spark, sf):
    """Commit-maintained field sketches read from METADATA ONLY: the
    3-append statistics store (shared with stats_incremental) records
    CMS cell counts, Bloom bit positions and HLL register maxima per
    commit (sketch_cols on icetable.commit_write);
    merged_field_sketches folds them along the lineage with each
    sketch's merge operator (sum / or / max). The oracle recomputes all
    three tables from the raw events — equality proves the per-commit
    deltas and the metadata fold are together exactly the full-table
    sketch (StatisticsStore's transactional field statistics)."""
    from geowave_spark.plans.store import ice_events_stats_store
    from geowave_spark.sources.icetable import CMS_WIDTH

    t = ice_events_stats_store(spark, sf)
    m = t.merged_field_sketches("user_id")
    # every commit in this store writes sketches; a partial fold here
    # means missing snapshots — fail loudly, never present undercounts
    assert m["complete"], "sketch fold is missing snapshots"
    rows = (
        [("hll", int(reg), int(rho)) for reg, rho in m["hll"].items()]
        + [
            ("cms", int(d) * CMS_WIDTH + int(b), int(n))
            for (d, b), n in m["cms"].items()
        ]
        + [("bloom", int(p), 1) for p in m["bloom"]]
    )
    return spark.createDataFrame(rows, "kind string, k long, n long")


def _q_gwql_delete(spark, sf):
    """GWQL DELETE statement routed through the snapshot store's
    copy-on-write delete (DeleteStatement.java → BaseDataStore.delete):
    `DELETE FROM ev WHERE BBOX(...) AND value < 30` compiles to the
    store's (ranges, predicate) form, delete_where rewrites only the
    stat-overlapping files, and the registered view refreshes to the
    post-delete snapshot. The returned scan is the same three-level-
    pruned bbox read as ice_delete, over a DIFFERENT store + predicate
    — so this row checks the statement grammar → durable-delete
    routing end-to-end, idempotent via the snapshot log."""
    from geowave_spark.api import DataStore
    from geowave_spark.plans.store import ice_bbox_query, ice_events_store

    x0, y0, x1, y1 = BBOX
    t = ice_events_store(spark, sf, "gwql_del", ("cell", "x_u", "y_u"))
    if t.snapshots()[-1]["operation"] != "delete":
        ds = DataStore(spark)
        ds.add_snapshot_type("ev", t)
        ds.gwql(
            f"DELETE FROM ev WHERE BBOX(geom, {x0}, {y0}, {x1}, {y1}) "
            "AND value < 30"
        )
    return ice_bbox_query(spark, t, x0, y0, x1, y1).select("event_id")


def _q_stats_incremental(spark, sf):
    """Write-path incremental statistics: events committed as a 3-append
    snapshot sequence; count + bbox come from the manifest's footer
    stats, per-cell occupancy from folding the per-snapshot deltas —
    the result is read from METADATA ONLY (no data scan) and must match
    the oracle's on-demand computation over the raw table (the
    reference's transactionally-maintained StatisticsStore contract)."""
    from geowave_spark.plans.store import STATS_RES, ice_events_stats_store

    t = ice_events_stats_store(spark, sf)
    occ = t.merged_occupancy()
    cs = t.merged_column_stats(["x_u", "y_u"])
    assert occ["res"] == STATS_RES
    # every commit in this store writes occupancy; a False here means a
    # partial fold (some snapshot's rows missing) — fail loudly rather
    # than return undercounted stats that happen to look plausible
    assert occ["complete"], "occupancy fold is missing snapshots"
    x_mn, x_mx = cs["cols"]["x_u"]
    y_mn, y_mx = cs["cols"]["y_u"]
    rows = [
        (gx, gy, n, cs["n_rows"], int(x_mn), int(x_mx), int(y_mn), int(y_mx))
        for (gx, gy), n in sorted(occ["cells"].items())
    ]
    return spark.createDataFrame(
        rows,
        "gx bigint, gy bigint, n bigint, n_rows bigint, "
        "x_min bigint, x_max bigint, y_min bigint, y_max bigint",
    )


DBSCAN_EPS_U = 10_000
DBSCAN_MIN_PTS = 4


def _q_dbscan_labels(spark, sf):
    """DBSCAN over the planted-cluster fixture (testgeo.dbscan_planted)
    — the DBScanIterationsJobRunner semantics (analytics/mapreduce/.../
    dbscan/): core = ≥ min_pts neighbors incl. self within eps, border
    adopts the smallest core-neighbor label, else noise (NULL). The
    fixture's geometry is id-arithmetic, so the oracle re-derives every
    expected label exactly: blob members are one fully-connected
    component each (cluster = min member id), the per-blob satellite's
    core/border status is an exact neighbor count, noise is isolated."""
    from geowave_spark.operators.dbscan import dbscan
    from geowave_spark.sources.testgeo import dbscan_planted

    pts = dbscan_planted(spark, sf)
    return dbscan(pts, DBSCAN_EPS_U, DBSCAN_MIN_PTS, key="pid").select(
        "pid", "cluster", "is_core"
    )


def _q_gwql_scalars(spark, sf):
    """The GWQL scalar + text-predicate surface as ONE plain spark.sql
    query over the registered session functions: ABS / CONCAT /
    arithmetic / casts (GWQLParseHelper.java:74-129 — native Spark SQL,
    no registration needed) and the registered strStartsWith /
    strContains SQL UDFs (TextPredicates.java:19-90; RETURN-expression
    functions, so Catalyst inlines them into whole-stage codegen). The
    oracle runs the equivalent DuckDB expressions — a value match
    proves operator semantics end-to-end, not just registration."""
    from geowave_spark.functions.registry import register_all

    register_all(spark)
    spark.read.parquet(f"{sf}/documents.parquet").createOrReplaceTempView("gwql_docs")
    return spark.sql(
        """
        SELECT doc_id,
               CONCAT(lang, ':', source) AS tag,
               ABS(n_chars - 500) AS dev,
               CAST(n_chars AS DOUBLE) / 7 AS per7,
               (n_chars * 3 + doc_id) % 97 AS mix,
               CAST(doc_id AS STRING) AS id_str
        FROM gwql_docs
        WHERE strStartsWith(text, 'the') OR strContains(lang, 'e')
        """
    )


GWQL_DW = (0, 5_000_000, 70_000_000)     # DWITHIN center + radius (µdeg)
GWQL_OR_BOX = (-5_000_000, -5_000_000, 5_000_000, 5_000_000)
GWQL_OR_DW = (100_000_000, 0, 30_000_000)


def _gwql_store(spark, sf):
    """DataStore with the events point type registered for the GWQL
    statement queries. ``value_x100`` is the exact integer twin of the
    double ``value`` field so the statement's SUM aggregate is
    order-independent (the field_stats stance)."""
    from geowave_spark.api import DataStore

    ds = DataStore(spark)
    ds.add_type(
        "events_gwql",
        events_points(spark, sf).withColumn(
            "value_x100", F.round(F.col("value") * 100).cast("long")
        ),
    )
    return ds


def _q_gwql_select(spark, sf):
    """GWQL SELECT statement end-to-end (GWQLParser.parseStatement →
    SelectStatement, core/store/.../query/gwql/parse/GWQL.g4 +
    statement/SelectStatement.java): column selectors with AS, BBOX +
    DWITHIN predicate functions compiled to the coarse-constraint index
    path, a temporal operator predicate (TemporalOperators.java AFTER),
    BETWEEN and a text predicate function as residual Catalyst filters
    (plans/gwql.py)."""
    x0, y0, x1, y1 = BBOX
    px, py, d = GWQL_DW
    return _gwql_store(spark, sf).gwql(
        f"SELECT event_id, value_x100 AS v FROM events_gwql "
        f"WHERE BBOX(geom, {x0}, {y0}, {x1}, {y1}) "
        f"AND DWITHIN(geom, POINT({px} {py}), {d}) "
        f"AND ts AFTER '2024-01-05' "
        f"AND value BETWEEN 10 AND 90 "
        f"AND strContains(event_type, 'i')"
    )


def _q_gwql_agg(spark, sf):
    """GWQL aggregate selectors (AggregationSelector →
    CountFunction/SumFunction/MinFunction/MaxFunction,
    core/store/.../gwql/function/aggregation/*.java) over an OR filter
    — the OR disqualifies constraint extraction, so the whole filter
    runs as ONE residual Catalyst predicate (the OptimalCQLQuery
    degradation), including the residually-rendered BBOX and DWITHIN
    forms (plans/gwql.py _predfn_sql)."""
    bx0, by0, bx1, by1 = GWQL_OR_BOX
    px, py, d = GWQL_OR_DW
    return _gwql_store(spark, sf).gwql(
        f"SELECT COUNT(*) AS n, COUNT(value_x100) AS nv, "
        f"SUM(value_x100) AS sum_v, MIN(value_x100) AS min_v, "
        f"MAX(value_x100) AS max_v FROM events_gwql "
        f"WHERE BBOX(geom, {bx0}, {by0}, {bx1}, {by1}) "
        f"OR DWITHIN(geom, POINT({px} {py}), {d})"
    )


def _q_gwql_stats_agg(spark, sf):
    """Statistics-answered GWQL aggregation (BaseDataStore consulting
    the statistics store before scanning — CountStatistic /
    FieldMinMax / BoundingBoxStatistic): an unfiltered COUNT/MIN/MAX/
    BBOX SELECT on a snapshot-backed type is answered from the
    manifest's folded footer stats, NO data scan (plans/gwql.py
    _stats_select; asserted taken — a silent fallback to the scan
    path would make this row meaningless). The oracle recomputes all
    five values from the raw events, so equality proves the
    metadata fold IS the table aggregate. At 100 TB this is COUNT(*)
    as a metadata read."""
    from geowave_spark.api import DataStore
    from geowave_spark.plans.gwql import _stats_select, parse_statement
    from geowave_spark.plans.store import ice_events_appends_store

    # two appends: the metadata answer must fold across snapshots
    ds = DataStore(spark)
    ds.add_snapshot_type("ev_stats", ice_events_appends_store(spark, sf))
    q = (
        "SELECT COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v, "
        "BBOX(*) AS env FROM ev_stats"
    )
    out = _stats_select(ds, parse_statement(q))
    assert out is not None, "stats-answered path not taken"
    return out.select(
        "n",
        "min_v",
        "max_v",
        F.col("env.minx").alias("minx"),
        F.col("env.miny").alias("miny"),
        F.col("env.maxx").alias("maxx"),
        F.col("env.maxy").alias("maxy"),
    )


def _q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup —
    argmax-centroid assignment, exact pairwise cosine within each
    cluster only (O(N²/k)), connected components → min-id canonical
    representative per semantic group (operators/similarity.semdedup).
    Runs on the planted fixture (testgeo.semdedup_planted) with pinned
    basis centroids, whose duplicate structure is a provable function
    of the id arithmetic — the oracle re-derives (cluster, rep_id)
    without any float similarity, so a hash match proves the whole
    float pipeline (assignment, normalized cosine, grouping)
    end-to-end."""
    import numpy as np

    from geowave_spark.operators.similarity import semdedup
    from geowave_spark.sources.testgeo import (
        SEMDEDUP_DIM,
        SEMDEDUP_K,
        SEMDEDUP_N,
        semdedup_planted,
    )

    cents = np.eye(SEMDEDUP_K, SEMDEDUP_DIM)
    return semdedup(semdedup_planted(spark, SEMDEDUP_N), centroids=cents)


def _q_kmeans_hulls(spark, sf):
    """KMeans centroids + per-cluster convex hulls over the planted-blob
    fixture (testgeo.kmeans_planted) — KMeansRunner.java:201-210 +
    KMeansHullGenerator semantics with a deterministic farthest-point
    init so the converged fixed point is provable (clustering.kmeans_lloyd
    docstring). The oracle re-derives each blob's exact integer-mean
    centroid and its four hull corners from the id arithmetic; clusters
    are canonicalized by centroid rank. Output: one row per (cluster,
    hull vertex) — 4 rows per cluster, 64 total."""
    from pyspark.sql.window import Window

    from geowave_spark.operators.clustering import cluster_hulls, kmeans_lloyd
    from geowave_spark.sources.testgeo import KMEANS_K, kmeans_planted

    assigned, _ = kmeans_lloyd(kmeans_planted(spark, sf), KMEANS_K)
    cents = assigned.groupBy("cluster").agg(
        F.count("*").alias("n_points"),
        (F.sum("x_u") / F.count("*")).alias("cx"),
        (F.sum("y_u") / F.count("*")).alias("cy"),
    )
    # k rows — the single-partition window is driver-bounded by design
    ranked = cents.withColumn(
        "cid", F.row_number().over(Window.orderBy("cx", "cy")).cast("long")
    )
    return (
        ranked.join(cluster_hulls(assigned).select("cluster", "hull"), "cluster")
        .select("cid", "n_points", "cx", "cy", F.explode("hull").alias("v"))
        .select(
            F.col("cid").alias("cluster"),
            "n_points",
            "cx",
            "cy",
            F.col("v")[0].cast("long").alias("vx"),
            F.col("v")[1].cast("long").alias("vy"),
        )
    )


def _kmeans_oracle_sql() -> str:
    """Expected KMeans fixed point from kmeans_planted's id arithmetic:
    per-blob exact integer-mean centroids (sums < 2^53, so the double
    division is correctly rounded and identical in both engines) and
    the four ±2000 hull corners (every blob holds all 25 offset
    classes, so the convex hull of the filled square grid is its
    corner set)."""
    return """
WITH pts AS (
  SELECT event_id % 16 AS blob,
         (-120000000 + ((event_id % 16) % 8) * 30000000
            + ((event_id % 5) * 1000 - 2000)) AS x_u,
         (20000000 + ((event_id % 16) // 8) * 30000000
            + (((event_id // 5) % 5) * 1000 - 2000)) AS y_u
  FROM events),
agg AS (
  SELECT blob, count(*) AS n_points,
         CAST(sum(x_u) AS DOUBLE) / count(*) AS cx,
         CAST(sum(y_u) AS DOUBLE) / count(*) AS cy,
         -120000000 + (blob % 8) * 30000000 AS bx,
         20000000 + (blob // 8) * 30000000 AS by
  FROM pts GROUP BY blob),
ranked AS (
  SELECT row_number() OVER (ORDER BY cx, cy) AS cluster,
         n_points, cx, cy, bx, by
  FROM agg)
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(n_points AS BIGINT) AS n_points,
       cx, cy,
       CAST(bx + c.dx AS BIGINT) AS vx,
       CAST(by + c.dy AS BIGINT) AS vy
FROM ranked,
     (VALUES (-2000, -2000), (2000, -2000), (2000, 2000), (-2000, 2000)) AS c(dx, dy)
"""


def _dbscan_oracle_sql() -> str:
    """Exact expected DBSCAN labels from the fixture's id arithmetic.

    Satellite at (cx+9000, cy): a blob member at offset (dx, dy) is
    within eps iff (9000−dx)² + dy² ≤ eps² — classes dx ∈ {0,1000,2000}
    (any dy) plus (−1000, 0). qn = count of such members; satellite is
    core iff qn ≥ min_pts−1, border (cluster, not core) iff
    1 ≤ qn < min_pts−1, noise iff qn = 0. Blob members: n−1 same-blob
    neighbors (+1 if the blob's satellite reaches them, same
    condition) — core at every sf since n ≥ min_pts. Component label =
    min CORE pid = min member pid (member ids < 96 ≤ satellite ids)."""
    mp = DBSCAN_MIN_PTS
    eps2 = DBSCAN_EPS_U * DBSCAN_EPS_U
    return f"""
WITH f AS (
  SELECT event_id AS pid,
         event_id % 32 AS blob,
         CASE WHEN event_id % 17 = 0 THEN 'noise'
              WHEN event_id // 32 = 3 THEN 'sat'
              ELSE 'blob' END AS role,
         (event_id % 5) * 1000 - 2000 AS dx,
         ((event_id // 5) % 5) * 1000 - 2000 AS dy
  FROM events),
b AS (SELECT * FROM f WHERE role = 'blob'),
bm AS (SELECT blob, min(pid) AS mn, count(*) AS n,
              count(*) FILTER (WHERE (9000 - dx)*(9000 - dx) + dy*dy <= {eps2}) AS qn
       FROM b GROUP BY blob),
sat AS (SELECT blob, count(*) AS n_sat FROM f WHERE role = 'sat' GROUP BY blob)
SELECT f.pid,
  CASE
    WHEN f.role = 'noise' THEN NULL
    WHEN f.role = 'sat' THEN CASE WHEN bm.qn >= 1 THEN bm.mn END
    ELSE bm.mn
  END AS cluster,
  CASE
    WHEN f.role = 'noise' THEN FALSE
    WHEN f.role = 'sat' THEN bm.qn >= {mp} - 1
    ELSE (bm.n - 1
          + CASE WHEN coalesce(sat.n_sat, 0) >= 1
                  AND (9000 - f.dx)*(9000 - f.dx) + f.dy*f.dy <= {eps2}
                 THEN 1 ELSE 0 END) >= {mp} - 1
  END AS is_core
FROM f
LEFT JOIN bm ON f.blob = bm.blob
LEFT JOIN sat ON f.blob = sat.blob
"""


PHASH_HAM_T = 7


def _q_phash_dedup(spark, sf):
    """Perceptual-hash image dedup: banded Hamming LSH over the phash
    column of the synthetic image table (planted near-duplicates),
    exact popcount verify. The oracle re-derives every phash from the
    deterministic generator without reading bytes — a value match
    proves the hash/decode path end-to-end (same pattern as
    audio_stats)."""
    from geowave_spark.operators.dedup import phash_hamming_pairs
    from geowave_spark.sources.images import images_table

    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    return phash_hamming_pairs(imgs, max_hamming=PHASH_HAM_T)


PYR_LEVELS = 4  # coarsen the base mosaic this many levels


def _q_raster_pyramid(spark, sf):
    """buildPyramid (RasterDataAdapter.java:174-226): every coarser
    level derived from the base mosaic by 4→1 retile coarsening; the
    oracle checks the full multi-level tile grid (pixel decimation is
    golden-tested via the retile tests)."""
    from geowave_spark.operators.tiling import (
        build_pyramid,
        pick_level,
        tile_cut_and_merge,
    )
    from geowave_spark.sources.images import images_table

    level = pick_level(2 * RASTER_HALF, RASTER_TS, RASTER_TS)
    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    tiles = tile_cut_and_merge(imgs, RASTER_HALF, tile_size=RASTER_TS, level=level)
    return build_pyramid(tiles, level, level - PYR_LEVELS, RASTER_TS).select(
        "level", "tx", "ty"
    )


def _q_raster_overview(spark, sf):
    """Overview / bounding-box statistics over the pyramid — the
    RasterOverviewStatistic / RasterBoundingBoxStatistic analogs
    (extensions/adapters/raster/.../stats/RasterOverviewStatistic.java,
    RasterBoundingBoxStatistic.java): per-level tile count, tile-grid
    bbox, and ground resolution (µdeg/pixel), all native aggregation
    over the pyramid metadata (map-side combine, no Python)."""
    from geowave_spark.operators.tiling import (
        build_pyramid,
        pick_level,
        tile_cut_and_merge,
    )
    from geowave_spark.sources.images import images_table

    level = pick_level(2 * RASTER_HALF, RASTER_TS, RASTER_TS)
    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    tiles = tile_cut_and_merge(imgs, RASTER_HALF, tile_size=RASTER_TS, level=level)
    pyr = build_pyramid(tiles, level, level - PYR_LEVELS, RASTER_TS)
    return pyr.groupBy("level").agg(
        F.count("*").alias("n_tiles"),
        F.min("tx").alias("tx_min"),
        F.max("tx").alias("tx_max"),
        F.min("ty").alias("ty_min"),
        F.max("ty").alias("ty_max"),
        F.first(
            F.expr(f"{WORLD_X_U}L div (shiftleft(1L, level) * {RASTER_TS})")
        ).alias("res_u_per_px"),
    )


def _q_ice_image_tiles(spark, sf):
    """The north rule's pipeline shape stated directly: the
    image+caption corpus STORED in the snapshot-table format (sorted by
    tile cell, manifest stats on cell + image_id) → scanned back →
    tile cut + mosaic merge. Same oracle as raster_tiles — the storage
    round trip must not change a single tile id or contributor count.
    The cell-sorted read loses image-id contiguity, so the pipeline's
    validated ensure_contiguous path restores it explicitly."""
    from geowave_spark.operators.tiling import tile_cut_and_merge
    from geowave_spark.plans.store import ice_images_store

    t, level = ice_images_store(spark, RASTER_N, RASTER_TS, RASTER_TS, RASTER_HALF)
    imgs = t.read(spark)
    tiles = tile_cut_and_merge(
        imgs, RASTER_HALF, tile_size=RASTER_TS, level=level, ensure_contiguous=True
    )
    return tiles.select("level", "tx", "ty", "n_contrib")


THUMB_W = THUMB_H = 16


def _q_image_thumbs(spark, sf):
    """Thumbnail pipeline (decode → bilinear resample → re-encode in
    one mapInPandas pass): the oracle re-derives each thumbnail's
    difference hash from the deterministic generator driver-side, so a
    value match proves decode + resample + hash end-to-end without the
    oracle reading a single byte column."""
    from geowave_spark.operators.multimodal import image_thumbnails
    from geowave_spark.sources.images import images_table

    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    return image_thumbnails(imgs, THUMB_W, THUMB_H).select(
        "image_id", "w", "h", "thumb_hash"
    )


EMB_GRID = 4


def _q_image_validate(spark, sf):
    """Corpus validation gate (operators/multimodal.validate_images):
    real decode attempt per row, classified as decode_error /
    dims_mismatch / too_small / bad_aspect / ok with fixed precedence.
    Corruption is PLANTED deterministically on the variable-size
    table — bytes truncated to 8 bytes for id%23==0 (kills both the
    RAW header read and the PNG chunk stream), metadata width skewed
    +16 for id%29==0 — so the oracle re-derives every verdict from id
    arithmetic alone and a hash match proves the decode attempt, the
    dims cross-check, and the size/aspect rules end-to-end."""
    from geowave_spark.operators.multimodal import validate_images
    from geowave_spark.sources.images import images_table_var

    imgs = images_table_var(spark, RASTER_N, partitions=8)
    i = F.substring("image_id", 4, 12).cast("long")
    planted = imgs.select(
        "image_id",
        F.when(i % 23 == 0, F.expr("substring(bytes, 1, 8)"))
        .otherwise(F.col("bytes"))
        .alias("bytes"),
        "fmt",
        F.when((i % 23 != 0) & (i % 29 == 0), F.col("w") + 16)
        .otherwise(F.col("w"))
        .alias("w"),
        "h",
    )
    return validate_images(planted, min_pixels=1024, max_aspect=4)


def _image_validate_oracle() -> str:
    return (
        f"WITH ids AS (SELECT unnest(generate_series(0, {RASTER_N - 1})) AS i), "
        "d AS (SELECT printf('img%012d', i) AS image_id, i, "
        "16 * (1 + (i * 7) % 9) AS w, 16 * (1 + (i * 13) % 7) AS h FROM ids) "
        "SELECT image_id, reason = 'ok' AS ok, reason FROM ("
        "SELECT image_id, CASE "
        "WHEN i % 23 = 0 THEN 'decode_error' "
        "WHEN i % 29 = 0 THEN 'dims_mismatch' "
        "WHEN w * h < 1024 THEN 'too_small' "
        "WHEN w > 4 * h OR h > 4 * w THEN 'bad_aspect' "
        "ELSE 'ok' END AS reason FROM d)"
    )


def _q_aspect_batches(spark, sf):
    """Aspect-ratio bucketed batch assembly (operators/batching.py):
    snap every variable-size image to the nearest-aspect bucket
    (exact integer scoring — no log-space drift), then pack each
    (bucket, shard) into complete fixed-size batches ordered by the
    salted portable hash. Runs over the REAL generated variable-size
    table (dims read from the data); the oracle re-derives dims from
    the id arithmetic and replays the same argmin + draw + remainder
    drop, so a hash match proves the whole batch layout."""
    from geowave_spark.operators.batching import aspect_bucket_assign, pack_batches
    from geowave_spark.sources.images import images_table_var

    imgs = images_table_var(spark, RASTER_N, partitions=8).select("image_id", "w", "h")
    return pack_batches(aspect_bucket_assign(imgs), batch_size=8, shards=2)


def _q_caption_align(spark, sf):
    """CLIP-score-style image↔caption pair-quality ranking
    (operators/multimodal.caption_alignment): ONE dual-tower
    mapInPandas pass (decode → image vector; caption → text vector —
    no tower-join shuffle), native sequential-fold dot per pair, full
    corpus ranked ascending (worst-aligned first — the rows a
    production filter would drop). The oracle re-derives BOTH towers
    driver-side from the generator and re-ranks with
    list_dot_product, so a hash match proves decode, both embedding
    kernels, the cosine, and the total order end-to-end."""
    from geowave_spark.operators.multimodal import caption_alignment
    from geowave_spark.sources.images import images_table

    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    ali = caption_alignment(imgs, kernel="blockmean", grid=EMB_GRID)
    w = Window.orderBy(F.asc("align"), F.asc("image_id"))
    return ali.select(
        "image_id", F.row_number().over(w).cast("int").alias("align_rank")
    )


def _caption_align_oracle() -> str:
    """Both towers re-derived driver-side (xmodal_topk's oracle
    pattern); cosine = plain dot since both vectors are L2-normalized."""
    from geowave_spark.operators.multimodal import (
        caption_embed_vector,
        image_embed_vector,
    )
    from geowave_spark.sources.images import caption_for, render_pixels

    def lit_vec(vec):
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    rows = ", ".join(
        f"('img{i:012d}', "
        f"{lit_vec(image_embed_vector(render_pixels(i, RASTER_TS, RASTER_TS), 'blockmean', EMB_GRID))}, "
        f"{lit_vec(caption_embed_vector(caption_for(i), EMB_GRID * EMB_GRID))})"
        for i in range(RASTER_N)
    )
    return (
        f"WITH t(image_id, iv, cv) AS (VALUES {rows}) "
        "SELECT image_id, CAST(row_number() OVER (ORDER BY "
        "list_dot_product(CAST(iv AS DOUBLE[]), CAST(cv AS DOUBLE[])) ASC, "
        "image_id ASC) AS INT) AS align_rank FROM t"
    )


def _q_image_embed(spark, sf):
    """Image embedding extraction (decode → block-mean kernel →
    L2-normalize), emitted as integer-scaled (image_id, dim, val)
    rows so the oracle — the same kernel re-run driver-side over the
    generator — compares hash-exact."""
    from geowave_spark.operators.multimodal import image_embed
    from geowave_spark.sources.images import images_table

    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    emb = image_embed(imgs, kernel="blockmean", grid=EMB_GRID)
    return emb.select(
        "image_id", F.posexplode("embedding").alias("dim", "_v")
    ).select(
        "image_id", "dim", F.floor(F.col("_v") * 1_000_000).cast("long").alias("val_x1e6")
    )


XMODAL_MOD = 25  # every 25th image's caption is a retrieval query (12 at N=300)
XMODAL_K = 5


def _q_xmodal_topk(spark, sf):
    """Cross-modal retrieval: caption text → top-k images by cosine.
    The text tower is a deterministic hashed-3-gram encoder
    (caption_embed) and the image tower the block-mean kernel
    (image_embed) — stand-ins for a CLIP-style dual encoder; the
    engine's contribution is the plumbing, which is real: two
    mapInPandas embedding passes (one Arrow boundary each), broadcast
    query side, per-query top-k window — the same exactness-baseline
    plan as sim_topk (similarity.py:topk_brute). Mirrors the
    reference's vector-data → analytic-query flow
    (analytics/api/.../AnalyticItemWrapper + kNN runners) re-expressed
    over embedding columns."""
    from geowave_spark.operators.multimodal import caption_embed, image_embed
    from geowave_spark.operators.similarity import topk_brute
    from geowave_spark.sources.images import images_table

    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    corpus = image_embed(imgs, kernel="blockmean", grid=EMB_GRID)
    caps = imgs.where(
        F.substring("image_id", 4, 12).cast("long") % XMODAL_MOD == 0
    ).select(
        F.concat(F.lit("cap:"), F.col("image_id")).alias("image_id"), "caption"
    )
    queries = caption_embed(caps, dim=EMB_GRID * EMB_GRID)
    return topk_brute(corpus, queries, XMODAL_K, id_col="image_id", vec_col="embedding")


def _xmodal_topk_oracle() -> str:
    """Both towers re-derived driver-side from the generator (the
    image_embed/phash oracle pattern), top-k re-ranked in DuckDB via
    list_dot_product over literal DOUBLE lists."""
    from geowave_spark.operators.multimodal import (
        caption_embed_vector,
        image_embed_vector,
    )
    from geowave_spark.sources.images import caption_for, render_pixels

    def lit_vec(vec):
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    corpus = ", ".join(
        f"('img{i:012d}', {lit_vec(image_embed_vector(render_pixels(i, RASTER_TS, RASTER_TS), 'blockmean', EMB_GRID))})"
        for i in range(RASTER_N)
    )
    queries = ", ".join(
        f"('cap:img{i:012d}', {lit_vec(caption_embed_vector(caption_for(i), EMB_GRID * EMB_GRID))})"
        for i in range(0, RASTER_N, XMODAL_MOD)
    )
    return (
        f"WITH c(neighbor_id, cv) AS (VALUES {corpus}), "
        f"q(query_id, qv) AS (VALUES {queries}) "
        "SELECT query_id, neighbor_id, rank FROM ("
        "SELECT q.query_id, c.neighbor_id, "
        "CAST(row_number() OVER (PARTITION BY q.query_id "
        "ORDER BY list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, "
        "c.neighbor_id) AS INT) AS rank FROM c, q) "
        f"WHERE rank <= {XMODAL_K}"
    )


KNN_BULK_MOD = 97


def _q_knn_bulk(spark, sf):
    """Distributed kNN over a LARGE query set (no per-query driver
    state): the resolution-ladder knn_join, the documented cutover
    target for knn()'s driver-ring loop. Queries are a deterministic
    subset of the event points themselves (event_id % 97 == 0)."""
    from geowave_spark.operators.knn import knn_join

    pts = events_points(spark, sf)
    qdf = pts.where(F.col("event_id") % KNN_BULK_MOD == 0).select(
        F.col("event_id").alias("query_id"),
        F.col("x_u").alias("qx"),
        F.col("y_u").alias("qy"),
    )
    return knn_join(pts, qdf, KNN_K)


def _q_sql_spatial(spark, sf):
    """SqlQueryRunner-analog routing in the driver contract: a plain
    spark.sql spatial predicate (GeomIntersects between two registered
    geometry views) is detected from the analyzed logical plan and
    rerouted through the indexed general-geometry join
    (plans/sql_rewrite.py). Raises if the plan degraded to a cartesian
    product, so a silent fallback can never masquerade as a pass —
    matches SqlQueryRunner.java:91-246."""
    from geowave_spark.api import DataStore

    ds = DataStore(spark)
    _lshapes(spark, sf).createOrReplaceTempView("gw_sql_lsh")
    _snapped(spark, sf).createOrReplaceTempView("gw_sql_snb")
    df = ds.sql(
        "SELECT o.s_suppkey, b.c_custkey FROM gw_sql_lsh o, gw_sql_snb b "
        "WHERE GeomIntersects(o.geom, b.geom)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        raise RuntimeError("spatial SQL predicate was not routed to the indexed join")
    return df


ATTR_LO, ATTR_HI = 100, 160


def _q_attr_range(spark, sf):
    """Range scan on a NON-spatial attribute through the stored
    attribute-sorted secondary index (AttributeIndex.java; selection
    rule ChooseBestMatchIndexQueryStrategy.java): the BETWEEN lands in
    PushedFilters over the user_id-sorted layout, pruning parquet row
    groups — the reference's any-field-can-back-an-index contract."""
    from geowave_spark.plans.store import attr_range_query, attr_store

    return attr_range_query(
        attr_store(spark, sf, "user_id"), "user_id", ATTR_LO, ATTR_HI
    ).select("event_id")


def _q_sql_spatial_mixed(spark, sf):
    """Multi-conjunct spatial SQL (OptimalCQLQuery.java:102-236 residual
    split): `GeomIntersects(...) AND <attribute predicates>` routes the
    spatial conjunct through the indexed join and reattaches the
    attribute residual natively — previously this shape fell back to
    the cartesian plan. Same no-cartesian assertion as sql_spatial."""
    from geowave_spark.api import DataStore

    ds = DataStore(spark)
    _lshapes(spark, sf).createOrReplaceTempView("gw_sql_lsh")
    _snapped(spark, sf).createOrReplaceTempView("gw_sql_snb")
    df = ds.sql(
        "SELECT o.s_suppkey, b.c_custkey FROM gw_sql_lsh o, gw_sql_snb b "
        "WHERE GeomIntersects(o.geom, b.geom) "
        "AND b.c_custkey % 3 = 0 AND o.s_suppkey % 2 = 0"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        raise RuntimeError("mixed spatial SQL was not routed to the indexed join")
    return df


def _q_raster_retile_bilinear(spark, sf):
    """Re-tile with the bilinear Interpolation option
    (RasterDataAdapter.java:444-550 configurable Interpolation vs the
    nearest default). The oracle checks the re-keyed tile grid (the
    kernel choice cannot change tile keys); bilinear pixel fidelity is
    golden-tested in tests/test_tiling.py (linear ramps reproduce
    exactly)."""
    from geowave_spark.operators.tiling import pick_level, retile, tile_cut_and_merge
    from geowave_spark.sources.images import images_table

    level = pick_level(2 * RASTER_HALF, RASTER_TS, RASTER_TS)
    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    tiles = tile_cut_and_merge(imgs, RASTER_HALF, tile_size=RASTER_TS, level=level)
    return retile(
        tiles.select("level", "tx", "ty", "tile"),
        level,
        level - 1,
        RASTER_TS,
        interpolation="bilinear",
    ).select("level", "tx", "ty")


from geowave_spark.sources.testgeo import K1 as _K1_TG, K2 as _K2_TG

def _q_raster_pyramid_ingest(spark, sf):
    """Resumable write-path pyramid (ingest_pyramid): every level ONE
    atomic snapshot commit with per-level lineage; the read-back grid
    must equal the in-memory build_pyramid oracle (RasterDataAdapter
    buildPyramid + GeoWaveOutputFormat per-task commit)."""
    from geowave_spark.operators.tiling import (
        ingest_pyramid,
        pick_level,
        tile_cut_and_merge,
    )
    from geowave_spark.plans.store import cache_path
    from geowave_spark.sources.images import images_table

    level = pick_level(2 * RASTER_HALF, RASTER_TS, RASTER_TS)
    # every raster parameter is in the cache key AND the fingerprint:
    # the store root is persistent, so a constant bump must invalidate
    # the cached pyramid (key misses → fresh root) and, even on the
    # same root, the fingerprint scopes which snapshots the read returns
    params = f"{sf}:{RASTER_N}:{RASTER_TS}:{RASTER_HALF}:{level}:{PYR_LEVELS}"
    root = cache_path("pyr_ingest", params)
    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    base = tile_cut_and_merge(imgs, RASTER_HALF, tile_size=RASTER_TS, level=level)
    out = ingest_pyramid(
        spark, base.select("level", "tx", "ty", "tile"), level, root,
        to_level=level - PYR_LEVELS, tile_size=RASTER_TS,
        fingerprint=f"base:{params}",
    )
    return out.select("level", "tx", "ty")


from geowave_spark.sources.testgeo import MERC_MM  # one constant, three uses
CRS_BBOX = (-5_000_000_000, -2_000_000_000, 3_000_000_000, 6_000_000_000)


def _q_crs_bbox(spark, sf):
    """bbox range-scan over a CUSTOM CRS (web-mercator, integer mm) —
    the SpatialDimensionalityTypeProvider `crs` option: the SFC index
    spans the CRS's own axis bounds instead of EPSG:4326 micro-degrees
    (SpatialDimensionalityTypeProvider.java; CustomCRS ITs under
    test/.../basic/). This is the LIVE path (exact refinement, no
    stored layout — same stance as the 4326 bbox_query); the sibling
    `crs_bbox_stored` exercises the cell-sorted stored index. Fixture
    coordinates derive from event_id by pure integer arithmetic, so the
    oracle is an exact BETWEEN filter."""
    from geowave_spark.index.crs import WEB_MERCATOR_MM, crs_bbox_query
    from geowave_spark.sources.testgeo import mercator_mm_points

    ev = mercator_mm_points(spark, sf)
    return crs_bbox_query(ev, WEB_MERCATOR_MM, *CRS_BBOX).select("event_id")


def _q_crs_bbox_stored(spark, sf):
    """The same custom-CRS bbox through the STORED layout (plans/store
    crs_store): write-time Morton keys over the CRS's own axis bounds,
    cell-sorted parquet, so the range constraint lands in PushedFilters
    — the non-4326 analog of the reference's stored insertion-id scan
    (SpatialDimensionalityTypeProvider.java crs option; CustomCRS ITs)."""
    from geowave_spark.index.crs import WEB_MERCATOR_MM, crs_bbox_stored_query
    from geowave_spark.index.crs import CRS_RES
    from geowave_spark.plans.store import crs_store

    stored = crs_store(spark, sf, CRS_RES)
    return crs_bbox_stored_query(
        stored, WEB_MERCATOR_MM, *CRS_BBOX, res=CRS_RES
    ).select("event_id")


def _q_raster_retile_bicubic(spark, sf):
    """Re-tile with the bicubic (Keys a=−0.5) Interpolation option —
    the third member of RasterDataAdapter.java:444-550's configurable
    ladder. The oracle checks the re-keyed tile grid (kernel choice
    cannot change tile keys); bicubic pixel fidelity is golden-tested
    in tests/test_tiling.py (exact on linear/quadratic interiors)."""
    from geowave_spark.operators.tiling import pick_level, retile, tile_cut_and_merge
    from geowave_spark.sources.images import images_table

    level = pick_level(2 * RASTER_HALF, RASTER_TS, RASTER_TS)
    imgs = images_table(spark, RASTER_N, w=RASTER_TS, h=RASTER_TS, partitions=8)
    tiles = tile_cut_and_merge(imgs, RASTER_HALF, tile_size=RASTER_TS, level=level)
    return retile(
        tiles.select("level", "tx", "ty", "tile"),
        level,
        level - 1,
        RASTER_TS,
        interpolation="bicubic",
    ).select("level", "tx", "ty")


# ------------------------------------------------------------------
# Ingest-format plugins (extensions/formats/* — sources/formats.py).
# Raw GDELT/T-Drive/GeoLife/GPX/Twitter files are generated
# deterministically from `events` (same micro-degree scatter as every
# spatial operator), parsed back through the Spark-native readers, and
# the oracle reconstructs the expected parse output from `events` with
# pure SQL arithmetic — so a wrong skip rule, column index, window
# order, or timestamp format shows up as a hash mismatch. DuckDB
# independently re-parses the raw CSV files in tests/test_formats.py.


def _formats_root(sf):
    from geowave_spark.sources.formats import formats_fixture_dir

    return formats_fixture_dir(sf)


def _conus_box(df):
    """Conic service-area filter (CONUS-ish): lon -130..-60, lat 15..60."""
    return df.where(
        "x_u BETWEEN -130000000 AND -60000000 "
        "AND y_u BETWEEN 15000000 AND 60000000"
    )


_CONUS_WHERE = (
    "x_u BETWEEN -130000000 AND -60000000 "
    "AND y_u BETWEEN 15000000 AND 60000000"
)


def _q_lcc_transform(spark, sf):
    """WGS84 → Lambert Conformal Conic 2SP (CONUS 33/45 set) → WGS84
    over the service-area events (geom/transform.lcc_stages): chained
    selectExpr stages collapsed into one codegen projection; inverse =
    fixed-point inversion of the exact forward t (Snyder 15-9/7-9).
    The oracle runs the SAME stage strings as a DuckDB CTE chain."""
    from geowave_spark.geom.transform import conic_roundtrip, lcc_stages

    pts = _conus_box(events_points(spark, sf).select("event_id", "x_u", "y_u"))
    return conic_roundtrip(pts, stages_fn=lcc_stages).select(
        "event_id", "e_m", "n_m", "rt_x_u", "rt_y_u"
    )


def _q_albers_transform(spark, sf):
    """WGS84 → Albers Equal-Area 2SP (CONUS 29.5/45.5 set) → WGS84
    (geom/transform.albers_stages; inverse latitude via Snyder 3-16
    iteration on the exact forward q)."""
    from geowave_spark.geom.transform import albers_stages, conic_roundtrip

    pts = _conus_box(events_points(spark, sf).select("event_id", "x_u", "y_u"))
    return conic_roundtrip(pts, stages_fn=albers_stages).select(
        "event_id", "e_m", "n_m", "rt_x_u", "rt_y_u"
    )


def _q_gdelt_ingest(spark, sf):
    """GDELT 57/58-column TSV parse (GDELTIngestPlugin.java:161-300):
    every skip rule (geoType 0, empty lat/lon, 57-column no-URL lines)
    and empty→null text-field semantics, hash-checked per row."""
    from geowave_spark.sources.formats import read_gdelt

    df = read_gdelt(spark, _formats_root(sf) + "/gdelt")
    return df.select(
        F.col("eventid").alias("eventid"),
        F.unix_timestamp("Timestamp").alias("ts_day"),
        F.col("Latitude").alias("lat"),
        F.col("Longitude").alias("lon"),
        F.col("actor1Name").alias("actor1"),
        F.col("countryCode").alias("cc"),
        F.col("sourceUrl").alias("url"),
        F.col("numMentions").alias("mentions"),
        F.col("avgTone").alias("tone"),
    )


def _q_tdrive_points(spark, sf):
    """T-Drive trajectory CSV parse (TdriveIngestPlugin.java:90-115):
    per-taxi 0-based pointinstance via a trajectory-partitioned
    window — the per-file sequential counter, distributed."""
    from geowave_spark.sources.formats import read_tdrive

    df = read_tdrive(spark, _formats_root(sf) + "/tdrive")
    return df.select(
        "taxiid",
        "pointinstance",
        F.unix_timestamp("Timestamp").alias("ts_s"),
        F.col("Latitude").alias("lat"),
        F.col("Longitude").alias("lon"),
    )


def _q_geolife_points(spark, sf):
    """GeoLife PLT parse (GeoLifeIngestPlugin.java:147-196): header
    rejection, file-name trackid, date+time timestamp assembly, raw
    feet elevation, per-track 0-based pointinstance."""
    from geowave_spark.sources.formats import read_geolife_points

    df = read_geolife_points(spark, _formats_root(sf) + "/geolife")
    return df.select(
        "trackid",
        "pointinstance",
        F.col("Latitude").alias("lat"),
        F.col("Longitude").alias("lon"),
        F.col("Elevation").alias("elev"),
        F.unix_timestamp("Timestamp").alias("ts_s"),
    )


def _q_geolife_tracks(spark, sf):
    """GeoLife per-file track feature (GeoLifeIngestPlugin.java:198-211):
    Start/End/Duration(ms)/NumberPoints aggregated from the point
    parse (geometry LineString checked in tests/test_formats.py)."""
    from geowave_spark.sources.formats import read_geolife_tracks

    df = read_geolife_tracks(spark, _formats_root(sf) + "/geolife")
    return df.select(
        F.col("TrackId").alias("track_id"),
        F.unix_timestamp("StartTimeStamp").alias("start_s"),
        F.unix_timestamp("EndTimeStamp").alias("end_s"),
        F.col("Duration").alias("duration_ms"),
        F.col("NumberPoints").alias("n"),
    )


def _q_gpx_waypoints(spark, sf):
    """GPX <wpt> parse (GPXConsumer wpt handling, GpxUtils waypoint
    type): lat/lon attributes, optional ele/name/cmt/sym children."""
    from geowave_spark.sources.formats import read_gpx_waypoints

    df = read_gpx_waypoints(spark, _formats_root(sf) + "/gpx")
    return df.select(
        "file",
        F.col("Name").alias("name"),
        F.col("Latitude").alias("lat"),
        F.col("Longitude").alias("lon"),
        F.col("Elevation").alias("elev"),
        F.col("Comment").alias("cmt"),
        F.col("Symbol").alias("sym"),
    )


def _q_gpx_tracks(spark, sf):
    """GPX <trk> aggregate features (GPXConsumer.java:548-600):
    NumberPoints counts all trkpts; Start/End/Duration fold only the
    timed ones and stay null on untimed tracks — the whole XML parse
    runs in one Arrow-batched mapInPandas per file."""
    from geowave_spark.sources.formats import read_gpx_tracks

    df = read_gpx_tracks(spark, _formats_root(sf) + "/gpx")
    return df.select(
        "file",
        F.col("Name").alias("name"),
        F.unix_timestamp("StartTimeStamp").alias("start_s"),
        F.unix_timestamp("EndTimeStamp").alias("end_s"),
        F.col("Duration").alias("duration_ms"),
        F.col("NumberPoints").alias("n"),
    )


def _q_twitter_points(spark, sf):
    """Twitter JSON-per-line parse (TwitterIngestPlugin.java:150-250):
    coordinate/date-required skips, SimpleDateFormat-style created_at
    (weekday+offset), null→empty-string reply/lang defaults."""
    from geowave_spark.sources.formats import read_twitter

    df = read_twitter(spark, _formats_root(sf) + "/twitter")
    return df.select(
        "tweet_id",
        "user_id",
        "user_name",
        "text",
        F.col("in_reply_to_user_id").alias("in_reply"),
        "retweet_count",
        "lang",
        F.unix_timestamp("dtg").alias("dtg_s"),
        F.col("Latitude").alias("lat"),
        F.col("Longitude").alias("lon"),
    )


def _q_geotiff_scan(spark, sf):
    """GeoTIFF ingest (geotools-raster/GDAL analog): the from-scratch
    TIFF 6.0 + GeoTIFF 1.1 strip decoder (raster/geotiff.py) over a
    mixed deflate/uncompressed fixture — geo transform, CRS geokey,
    compression tag, and the FULL pixel content (px_sum) hash-checked;
    the oracle regenerates every pixel with generate_series."""
    from geowave_spark.sources.formats import read_geotiff

    df = read_geotiff(spark, _formats_root(sf) + "/geotiff")
    return df.select(
        "file", "w", "h", "bands", "x0", "y0", "sx", "sy",
        "crs", "compression", "px_sum",
    )


def _q_shapefile_scan(spark, sf):
    """ESRI Shapefile ingest (half the geotools-vector analog): the
    from-scratch .shp/.dbf codec (sources/shapefile.py) over 8 point
    shapefiles each led by a Null-shape record — fid sequence,
    shape types, and the POSITIONAL shp↔dbf attribute join all
    hash-checked (the DBF carries the micro-degree coords, so a
    misaligned join shows up as a value mismatch)."""
    from geowave_spark.sources.shapefile import read_shapefile

    df = read_shapefile(spark, _formats_root(sf) + "/shape")
    a = lambda k: F.element_at("attrs", k)  # noqa: E731
    return df.select(
        "file",
        "fid",
        "shape_type",
        a("EID").try_cast("long").alias("eid"),
        a("TAG").alias("tag"),
        a("XU").try_cast("long").alias("xu"),
        a("YU").try_cast("long").alias("yu"),
    )


def _q_geojson_scan(spark, sf):
    """GeoJSON FeatureCollection ingest (the geotools-vector analog's
    other carrier): whole-file parse in Arrow-batched mapInPandas,
    mixed Point + Polygon features, schema-on-read properties."""
    from geowave_spark.sources.formats import read_geojson

    df = read_geojson(spark, _formats_root(sf) + "/geojson")
    return df.select(
        "file",
        "fid",
        "gtype",
        F.element_at("props", "eid").try_cast("long").alias("eid"),
        F.element_at("props", "tag").alias("tag"),
    )


def _q_avro_scan(spark, sf):
    """Avro container ingest (GeoWaveAvroIngestPlugin analog): the
    from-scratch Object Container File codec (sources/avro.py) over
    mixed deflate/null-codec files — zigzag longs, IEEE doubles,
    union-with-null, blocked arrays, schema-driven Spark mapping."""
    from geowave_spark.sources.avro import read_avro

    df = read_avro(spark, _formats_root(sf) + "/avro")
    return df.select(
        "event_id",
        "lon",
        "lat",
        "name",
        F.array_join("tags", ",").alias("tag_s"),
        "weight",
    )


def _q_stanag_points(spark, sf):
    """STANAG 4676 TrackMessage XML parse (Stanag4676IngestPlugin +
    NATO4676Decoder.java:204-400): per-track metadata, xsi:type item
    dispatch incl. the untyped fallback, skipped non-TrackPoint items,
    and both speed-null decoder paths (missing element, unparseable
    number)."""
    from geowave_spark.sources.formats import read_stanag4676

    df = read_stanag4676(spark, _formats_root(sf) + "/stanag")
    return df.select(
        "file", "track_uuid", "track_number", "status", "mission",
        "point_uuid",
        F.unix_timestamp("Timestamp").alias("ts_s"),
        F.col("Latitude").alias("lat"),
        F.col("Longitude").alias("lon"),
        F.col("Elevation").alias("elev"),
        "speed", "course",
    )


def _q_stanag_tracks(spark, sf):
    """STANAG per-track aggregate features (track line + start/end/
    duration/NumberPoints — the ingest plugin's second feature type)."""
    from geowave_spark.sources.formats import read_stanag4676_tracks

    df = read_stanag4676_tracks(spark, _formats_root(sf) + "/stanag")
    return df.select(
        "track_uuid",
        "track_number",
        "mission",
        F.unix_timestamp("StartTimeStamp").alias("start_s"),
        F.unix_timestamp("EndTimeStamp").alias("end_s"),
        F.col("Duration").alias("duration_ms"),
        F.col("NumberPoints").alias("n"),
    )


def _q_gdelt_gwql(spark, sf):
    """Composition: a format-plugin table flows through the SAME engine
    surfaces as native data — read_gdelt rows registered as a DataStore
    type (cell materialization via add_type) and queried with a GWQL
    BBOX + attribute statement. The oracle reconstructs the parse AND
    the predicate from events arithmetic, so a break anywhere in
    format→index→GWQL shows up as a mismatch."""
    from geowave_spark.api import DataStore
    from geowave_spark.sources.formats import read_gdelt

    ds = DataStore(spark)
    ds.add_type("gdelt_fmt", read_gdelt(spark, _formats_root(sf) + "/gdelt"))
    return ds.gwql(
        "SELECT eventid, numMentions FROM gdelt_fmt "
        "WHERE BBOX(geom, -60000000, -30000000, 60000000, 30000000) "
        "AND numMentions BETWEEN 20 AND 80"
    )


def _q_ingest_plugins(spark, sf):
    """Directory-walk plugin routing (core/ingest LocalFileIngestDriver
    + per-plugin validate()): every file in the mixed fixture tree must
    reach exactly its own format's reader — per-format parsed row
    counts, including T-Drive's first-line content sniff. All ten
    readers union into ONE aggregation job (parallel subtrees, no
    driver-side per-format counting)."""
    from functools import reduce

    from geowave_spark.sources.formats import ingest_directory

    ing = ingest_directory(spark, _formats_root(sf))
    tagged = [
        df.select(F.lit(name).alias("fmt")) for name, df in sorted(ing.items())
    ]
    return (
        reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("fmt")
        .agg(F.count("*").alias("n"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registered driver queries, ordered for the correctness gate.

    The driver's DuckDB-oracle gate records the first 50 entries of this
    dict, so ordering is load-bearing: the first 50 are chosen to give
    every SURVEY.md §2 component and every LLM-pipeline operator at least
    one oracle-checked row this round, with priority to queries that have
    NEVER had a driver gate row. Round-4 rotation IN (two waves): first
    `image_thumbs`, `image_embed`, `raster_pyramid` (oracle-defined in
    round 3 but never inside the window) plus the new `dbscan_labels`,
    `stats_incremental`, `time_bin_week`; then the late round-4 additions
    `crs_bbox`, `crs_bbox_stored` (custom-CRS live + stored layouts),
    `raster_retile_bicubic`, `raster_pyramid_ingest` (resumable
    write-path pyramid), `doc_repetition`, `common_passages`,
    `kmeans_hulls` (the first KMeans+hull gate row — deterministic
    farthest-point Lloyd over a planted-blob fixture), and
    `gwql_scalars` (the registered GWQL scalar + text-predicate SQL
    surface — previously pytest-only component #35). Wave 3 closes the
    last two oracle-expressible pytest-only components: `cql_filter`
    (ECQL text → constraint/residual split, component #12) and
    `raster_histogram` (RasterHistogramStatistic over merged mosaic
    pixels, component #41 — the first gate row hashing merged PIXEL
    VALUES, not just tile keys) plus `raster_overview` (the
    RasterOverviewStatistic/RasterBoundingBoxStatistic half of #41 —
    per-level tile count/bbox/resolution, native aggs over the
    pyramid) and `subsample_px` (fixed-resolution subsampling — the
    MAX_RESOLUTION_SUBSAMPLING scan hint + WMS SubsampleProcess, one
    min-key representative per occupied viewport grid cell); OUT for
    wave 3 = `pred_within`
    (pred_contains + poly_nonconvex stay on the same refine path),
    `distance_join` (geom_dwithin_join stays on the same component
    row #19), `tile_assign` (green r1+r2+r3; raster_tiles /
    ice_image_tiles run the same grid-assignment math inside
    cut-and-merge), and `stats_summary` (green r1+r2+r3; the native-agg
    family keeps field_stats, split_plan, stats_incremental
    in-window). Rotation
    OUT to the tail, all hash-green in rounds 1+2+3 and each leaving an
    in-window sibling on the same code path: `pred_equals`,
    `pred_touches`, `pred_overlaps`, `raster_retile`, `bbox_time`,
    `minhash`, `bbox_agg` (binning.py — spatial_bin stays),
    `temporal_overlaps` (temporal.py — time_bin_week stays),
    `frame_sample` (multimodal.py — audio_stats/image_thumbs stay),
    `dedup_exact`, `simhash` (dedup.py — minhash_lsh/ngram_jaccard/
    phash_dedup stay),
    `text_prefix` (text_search.py — stored-NGRAM text_contains stays),
    `doc_tokens` (text.py — doc_repetition/common_passages stay),
    `knn` (knn.py — knn_geodesic runs the same window ladder).
    Wave 4: IN = `xmodal_topk` (cross-modal caption→image retrieval —
    the CLIP-style dual-tower plumbing's first gate row; both towers
    re-derived driver-side in the oracle); OUT = `sim_topk` (green
    r1+r2+r3; xmodal_topk runs the same topk_brute exactness plan, so
    the brute-force top-k operator keeps an in-window row).
    Also wave 4: IN = `dedup_groups` (LSH pairs → connected components
    → canonical id per near-dup cluster; its oracle recomputes the
    SAME pair list and closes it with a recursive CTE, so it subsumes
    the pair query); OUT = `minhash_lsh` (green r1+r2+r3; the pair
    list is re-verified inside dedup_groups' oracle every round).
    Wave 5: IN = `gwql_select` + `gwql_agg` (the GWQL statement
    grammar end-to-end — GWQLParser/SelectStatement analog,
    plans/gwql.py: predicate-function constraint extraction, temporal
    operator predicates, aggregate selectors, OR-degraded residual
    rendering); OUT = `polygon` (green r1+r2+r3; `poly_nonconvex` +
    `pred_contains` keep the same vectorized polygon-refine path
    in-window) and `audio_stats` (green r1+r2+r3; `image_thumbs` /
    `image_embed` keep the mapInPandas decode path in-window).
    Also wave 5: IN = `semdedup` (cluster-scoped semantic dedup over a
    planted-embedding fixture — argmax assignment + within-cluster
    cosine + connected components, analytic oracle); OUT =
    `geom_poly_join` (green r1+r2+r3; geom_line_join /
    geom_crosses_join / geom_dwithin_join keep the general-geometry
    join operator in-window on three distinct kernels)); and IN =
    `source_quota` (per-domain quota sampling — deterministic
    hash-ranked draw, operators/sampling.py) for OUT = `raster_tiles`
    (green r1+r2+r3; ice_image_tiles, raster_multiband and
    raster_histogram keep the cut-and-merge mosaic pipeline
    in-window)); and IN = `pack_sequences`
    (greedy next-fit sequence packing into fixed-capacity training
    windows, recursive-CTE oracle) for OUT = `hilbert_bbox` (green
    r1+r2+r3; xz_extent_keyed, st_bbox_time and crs_bbox_stored keep
    the stored-key scan paths in-window)); IN = `contamination`
    (train/eval n-gram-overlap decontamination, broadcast benchmark
    grams) for OUT = `ngram_jaccard` (green r1+r2+r3; dedup_groups'
    oracle re-verifies Jaccard pair semantics in-window every round);
    IN = `pii_scan` (email/phone/IPv4 detection over the planted PII
    corpus, analytic oracle) for OUT = `field_stats` (green r1+r2+r3;
    `gwql_agg` keeps the COUNT/SUM/MIN/MAX aggregate family
    in-window); and IN = `ice_delete`
    (copy-on-write row-level DELETE + the same manifest-pruned bbox
    scan) REPLACING `ice_bbox` (green r1+r2+r3), which it subsumes —
    same three-level-pruned read, now over a post-delete manifest.
    Wave 6: IN = `chunk_docs` (token-window training chunking,
    operators/text.chunk_tokens — explode(sequence) over closed-form
    chunk counts) for OUT = `sql_spatial` (green r2+r3;
    `sql_spatial_mixed` keeps the SqlQueryRunner routing + residual
    split in-window and runs the identical GeomIntersects rewrite
    plus a residual conjunct); and IN = `dataset_split`
    (deterministic 90/5/5 train/val/test by salted id hash, counts
    stratified per source) for OUT = `raster_retile_bilinear` (green
    r3; `raster_retile_bicubic` keeps the SAME retile operator and
    RESAMPLERS surface in-window — bilinear vs bicubic differ only in
    the kernel row of raster/codec.RESAMPLERS — and `raster_pyramid`
    exercises the bilinear kernel itself in-window); and IN =
    `caption_align` (CLIP-score-style image↔caption pair-quality
    ranking — single dual-tower mapInPandas pass, native dot, full
    total-order rank; oracle re-derives both towers from the
    generator) for OUT = `xz_extent_keyed` (green r2+r3; `bbox` keeps
    the live z-order scan, `crs_bbox_stored` + `st_bbox_time` keep
    write-time cell-keyed stored scans, and the XZ extent math itself
    stays pytest-covered in tests/test_xz.py); and IN =
    `aspect_batches` (aspect-ratio bucketed batch assembly over the
    variable-size image fixture — exact integer bucket argmin, hash
    draw order, per-(bucket, shard) packing with ragged remainders
    dropped; oracle re-derives dims from the id arithmetic) for OUT =
    `poly_nonconvex` (green r1+r2+r3; `pred_contains` keeps the same
    vectorized non-convex polygon refine kernel in-window — both run
    geom/predicates.py's winding-number path — and `cql_filter`'s
    polygon constraint keeps range decomposition + refine in-window);
    and IN = `image_validate` (corpus validation gate — real decode
    attempt + dims cross-check + size/aspect rules over planted
    corruption, verdicts re-derived by id arithmetic in the oracle)
    for OUT = `spatial_bin` (green r1+r2+r3; `kde` keeps the spatial
    binning/grid-agg family in-window on the same cell-keying math,
    and `raster_histogram` keeps binned pixel aggregation in-window);
    and IN = `doc_tokens_bpe` (token counting at both granularities
    the brief names — whitespace + the BPE-ish pre-tokenizer regex,
    RE2∩Java common subset so both engines count identically) for
    OUT = `geom_line_join` (green r3; `geom_crosses_join` keeps the
    general-geometry join's segment kernels and `geom_dwithin_join`
    the distance form in-window — three kernels of the same operator,
    two stay).
    Wave 7 (round 5): IN = the five round-5 capabilities —
    `st_interval_query` (ranged-time interval fields as an index
    dimension: bin-spanning insertion + dedupe-on-read, the round-4
    verdict's top ask), `knn_geodesic` (great-circle kNN — haversine
    meters, wrap-aware rings, latitude-corrected gate), `gwql_delete`
    (GWQL DELETE routed through the snapshot store's copy-on-write
    delete_where), `stats_sketch_commit` (commit-maintained CMS/Bloom/
    HLL field sketches read metadata-only), and `text_suffix_stored`
    (the stored REVERSE text layout with the reversed-prefix range in
    PushedFilters). OUT to the tail, all green r4 (and most r1-r3)
    with in-window siblings on the same code path: `crs_bbox`
    (crs_bbox_stored keeps component #48's cell_col_crs math and the
    stored scan in-window; the live decomposition stays pytest-covered
    in test_crs.py), `raster_overview` (raster_histogram +
    raster_pyramid keep the pyramid/statistic family; overview re-runs
    the benched pyramid for a metadata agg), `time_bin_week`
    (st_bbox_time keeps time_bin_col's DAY bin in a stored key and
    st_interval_query now exercises bin arithmetic harder —
    bin-spanning + exclusive edges; WEEK itself stays pytest-covered
    in test_temporal_text.py), `phash_dedup` (dedup_groups keeps
    banded-LSH pair generation in-window; the Hamming band kernel
    stays pytest-covered), and `common_passages` (contamination keeps
    the shingle-explode + broadcast/groupBy passage path in-window).
    The tail (entries 51+) holds derived-path twins of in-window
    queries that have at least one prior-round green gate row, the
    by-design `no_oracle` ANN checks, and the binary-image WMS render —
    all of which remain pytest-covered and stay in the full
    tools/check_oracle.py sweep.
    Round-5 wave 8: IN = `crs_transform` + `utm_transform` (the
    closed-form reprojection engine — WGS84↔Web-Mercator and
    WGS84↔UTM Krüger-series, both round-trip-pinned; never had a gate
    row) and `interval_join` (interval×interval OVERLAPS join with
    first-shared-bin exactly-once emission; never had a gate row).
    OUT, each multi-round green with the named in-window sibling:
    `st_bbox_time` (green r1-r4; st_interval_query keeps the
    spatial-temporal composite store path in-window, crs_bbox_stored
    keeps stored cell-keyed scans), `raster_pyramid_ingest` (green r4;
    raster_pyramid keeps buildPyramid/coarsen in-window, the resumable
    write path stays pytest-covered in tests/test_tiling.py), and
    `image_embed` (green r4; image_thumbs keeps the mapInPandas decode
    path and xmodal_topk/caption_align re-derive the same embedding
    tower inside their oracles).
    Round-5 wave 9: IN = `visibility_scan` (row visibility expressions
    + query authorizations + JSON field-level masking — the reference's
    visibility subsystem, new this round, never had a gate row; the
    oracle's IN-list is hand-evaluated and pins the grammar's
    left-associative equal precedence). OUT = `text_contains` (green
    r1-r4; text_suffix_stored keeps component #16's stored text-index
    layouts in-window, and the NGRAM store path stays pytest-covered
    in tests/test_text_search.py).
    Round-5 wave 10: IN = `ice_delete_mor` (merge-on-read equality
    deletes — delete_keys(mode='mor') commits a delete FILE with zero
    data files rewritten and the scan applies it via a seq-gated
    anti-join; new capability, never had a gate row). OUT = `nn_join`
    (green r1-r4; `nn_join_geodesic` keeps component #24's all-pairs
    NNMapReduce self-join in-window on the geodesic kernel, and the
    planar kernel stays pytest-covered in tests/test_nn_join.py).
    Round-5 wave 11: IN = `ice_stream_ingest` (Structured-Streaming
    micro-batches committed as atomic append snapshots with batch-id
    exactly-once — the FIRST streaming gate row; component #4 was
    pytest-only through round 4). OUT = `gwql_agg` (green r2-r4; the
    GWQL grammar keeps THREE in-window rows — gwql_select for
    SELECT/constraint split, gwql_scalars for the scalar surface,
    gwql_delete for DELETE routing — and the aggregate selectors stay
    pytest-covered in tests/test_gwql.py + in the full sweep).
    Round-5 wave 12 (closing): IN = the three late round-5 additions
    that had no gate row yet — `gwql_stats_agg` (GWQL aggregations
    answered METADATA-ONLY from commit-maintained statistics, asserted
    scan-free), `ice_incremental` (scan_appends changelog read between
    two snapshot ids), and `cql_dwithin_geodesic` (ECQL DWITHIN with
    meters units → latitude-corrected coarse bbox + haversine refine).
    OUT, each green r4 with in-window siblings: `stats_incremental`
    (stats_sketch_commit keeps commit-maintained statistics in-window
    and gwql_stats_agg reads the same count/minmax/bbox fold through
    the GWQL surface), `image_validate` (image_thumbs keeps the
    mapInPandas decode path; the validation rules stay pytest-covered
    in tests/test_multimodal.py), and `xmodal_topk` (caption_align
    keeps the dual-tower embedding plumbing + exact ranking in-window;
    the per-query top-k window form stays in the full sweep).
    Round-5 wave 13: IN = the six ingest-format plugin rows — the
    extensions/formats/* surface (GDELT / T-Drive / GeoLife / GPX /
    Twitter raw-file parsers, sources/formats.py) had NO engine
    equivalent before this wave: `gdelt_ingest` (58-column TSV with
    every reference skip rule), `tdrive_points` (trajectory CSV,
    windowed per-taxi pointinstance), `geolife_points` (PLT header
    rejection + date/time assembly), `gpx_tracks` (XML track
    aggregates via Arrow-batched mapInPandas), `twitter_points`
    (schema'd JSON scan with SimpleDateFormat created_at + empty-string
    defaults), and `ingest_plugins` (directory walk + per-plugin
    validate routing — LocalFileIngestDriver). Each oracle reconstructs
    the expected parse output from `events` arithmetic (the raw files
    are a deterministic function of the same rows), and DuckDB
    independently re-parses the raw CSVs in tests/test_formats.py.
    OUT, each green r4 (knn_bulk green r1-r4) with in-window siblings:
    `knn_bulk` (knn_geodesic keeps the window-ladder kNN core),
    `subsample_px` (raster_histogram/raster_multiband/raster_pyramid/
    ice_image_tiles keep the raster family on four rows),
    `image_thumbs` (caption_align keeps the mapInPandas image decode +
    embed path), `pii_scan` (doc_tokens_bpe + dataset_split keep the
    native text/codegen projection family), `source_quota`
    (dataset_split keeps operators/sampling.py in-window), and
    `chunk_docs` (doc_tokens_bpe + pack_sequences keep the token
    pipeline in-window); `gpx_waypoints` + `geolife_tracks` land in
    the tail with full-sweep oracles. Also wave 13: IN =
    `geotiff_scan` (the geotools-raster/GDAL ingest analog — a
    from-scratch TIFF 6.0 + GeoTIFF 1.1 strip codec, raster/geotiff.py;
    geo transform + CRS geokey + full pixel content hash-checked, the
    oracle regenerates every pixel via generate_series) for OUT =
    `kde` (green r1-r4; raster_histogram keeps binned pixel
    aggregation in-window, and the KDE cell-keying path stays in the
    full sweep via kde + kde_pyramid). And IN = `shapefile_scan` +
    `geojson_scan` (the geotools-vector ingest analog — a from-scratch
    ESRI .shp/.dbf codec with positional attribute join pinned by
    in-DBF coordinates, and whole-file GeoJSON FeatureCollection
    parse) for OUT = `pack_sequences` (green r4; doc_tokens_bpe +
    dataset_split keep the token/sampling pipeline in-window, the
    packing fold's recursive-CTE oracle stays in the full sweep) and
    `contamination` (green r4; dedup_groups keeps the shingle-explode
    + broadcast/groupBy passage path in-window).
    """
    return {
        # --- range-scan queries across every live index path
        "bbox": _q_bbox,
        "cql_filter": _q_cql_filter,
        "gwql_select": _q_gwql_select,
        "st_interval_query": _q_st_interval_query,
        "ice_delete": _q_ice_delete,
        "ice_delete_mor": _q_ice_delete_mor,
        "gwql_delete": _q_gwql_delete,
        "attr_range": _q_attr_range,
        "crs_bbox_stored": _q_crs_bbox_stored,
        "crs_transform": _q_crs_transform,
        "utm_transform": _q_utm_transform,
        # --- ingest-format plugins (extensions/formats/* — round-5 wave 2)
        "gdelt_ingest": _q_gdelt_ingest,
        "tdrive_points": _q_tdrive_points,
        "geolife_points": _q_geolife_points,
        "gpx_tracks": _q_gpx_tracks,
        "twitter_points": _q_twitter_points,
        "ingest_plugins": _q_ingest_plugins,
        "geotiff_scan": _q_geotiff_scan,
        "shapefile_scan": _q_shapefile_scan,
        "geojson_scan": _q_geojson_scan,
        # --- joins (tiered, distance, general-geometry, SQL-routed)
        "spatial_join": _q_spatial_join,
        "geom_crosses_join": _q_geom_crosses_join,
        "geom_dwithin_join": _q_geom_dwithin_join,
        "sql_spatial_mixed": _q_sql_spatial_mixed,
        "interval_join": _q_interval_join,
        # --- the 8-CompareOperation exact-refinement surface
        "pred_contains": _q_pred_contains,
        # --- kNN family + clustering
        "knn_geodesic": _q_knn_geodesic,
        "dbscan_labels": _q_dbscan_labels,
        "kmeans_hulls": _q_kmeans_hulls,
        # --- raster / tiling / binning
        "raster_histogram": _q_raster_histogram,
        "raster_retile_bicubic": _q_raster_retile_bicubic,
        "raster_pyramid": _q_raster_pyramid,
        "raster_multiband": _q_raster_multiband,
        "ice_image_tiles": _q_ice_image_tiles,
        # --- aggregations / statistics
        "split_plan": _q_split_plan,
        "gwql_stats_agg": _q_gwql_stats_agg,
        "stats_sketch_commit": _q_stats_sketch_commit,
        # --- visibility / authorizations + text predicates + GWQL scalars
        "visibility_scan": _q_visibility_scan,
        "text_suffix_stored": _q_text_suffix_stored,
        "gwql_scalars": _q_gwql_scalars,
        "ice_stream_ingest": _q_ice_stream_ingest,
        "ice_incremental": _q_ice_incremental,
        "cql_dwithin_geodesic": _q_cql_dwithin_geodesic,
        # --- LLM-pipeline dedup / similarity / docs / multimodal
        "dedup_groups": _q_dedup_groups,
        "semdedup": _q_semdedup,
        "dataset_split": _q_dataset_split,
        "doc_tokens_bpe": _q_doc_tokens_bpe,
        "nn_join_geodesic": _q_nn_join_geodesic,
        "caption_align": _q_caption_align,
        "aspect_batches": _q_aspect_batches,
        # ---- entries below are OUTSIDE the driver gate's 50-query window:
        # derived-path twins (green rounds 1+2), no-oracle ANN checks, and
        # the binary render — all pytest-covered (see docstring).
        "knn_bulk": _q_knn_bulk,
        "subsample_px": _q_subsample_px,
        "source_quota": _q_source_quota,
        "chunk_docs": _q_chunk_docs,
        "pii_scan": _q_pii_scan,
        "image_thumbs": _q_image_thumbs,
        "kde": _q_kde,
        "pack_sequences": _q_pack_sequences,
        "contamination": _q_contamination,
        "lcc_transform": _q_lcc_transform,
        "albers_transform": _q_albers_transform,
        "avro_scan": _q_avro_scan,
        "stanag_points": _q_stanag_points,
        "gdelt_gwql": _q_gdelt_gwql,
        "stanag_tracks": _q_stanag_tracks,
        "gpx_waypoints": _q_gpx_waypoints,
        "geolife_tracks": _q_geolife_tracks,
        "crs_bbox": _q_crs_bbox,
        "nn_join": _q_nn_join,
        "gwql_agg": _q_gwql_agg,
        "stats_incremental": _q_stats_incremental,
        "image_validate": _q_image_validate,
        "xmodal_topk": _q_xmodal_topk,
        "text_contains": _q_text_contains,
        "st_bbox_time": _q_st_bbox_time,
        "raster_pyramid_ingest": _q_raster_pyramid_ingest,
        "image_embed": _q_image_embed,
        "doc_repetition": _q_doc_repetition,
        "raster_overview": _q_raster_overview,
        "time_bin_week": _q_time_bin_week,
        "phash_dedup": _q_phash_dedup,
        "common_passages": _q_common_passages,
        "polygon": _q_polygon,
        "sql_spatial": _q_sql_spatial,
        "raster_retile_bilinear": _q_raster_retile_bilinear,
        "xz_extent_keyed": _q_xz_extent_keyed,
        "poly_nonconvex": _q_poly_nonconvex,
        "spatial_bin": _q_spatial_bin,
        "geom_line_join": _q_geom_line_join,
        "audio_stats": _q_audio_stats,
        "geom_poly_join": _q_geom_poly_join,
        "raster_tiles": _q_raster_tiles,
        "hilbert_bbox": _q_hilbert_bbox,
        "ice_bbox": _q_ice_bbox,
        "ngram_jaccard": _q_ngram_jaccard,
        "field_stats": _q_field_stats,
        "bbox_loose": _q_bbox_loose,
        "tile_assign": _q_tile_assign,
        "pred_within": _q_pred_within,
        "distance_join": _q_distance_join,
        "stats_summary": _q_stats_summary,
        "polygon_disjoint": _q_polygon_disjoint,
        "bbox_dateline": _q_bbox_dateline,
        "spatial_join_semi": _q_spatial_join_semi,
        "spatial_join_anti": _q_spatial_join_anti,
        "knn": _q_knn,
        "poly_join": _q_poly_join,
        "xz_extent": _q_xz_extent,
        "xz_join": _q_xz_join,
        "kde_pyramid": _q_kde_pyramid,
        "tile_cover": _q_tile_cover,
        "histogram": _q_histogram,
        "time_bin": _q_time_bin,
        "time_bin_hour": _q_time_bin_hour,
        "bbox_time": _q_bbox_time,
        "bbox_agg": _q_bbox_agg,
        "temporal_overlaps": _q_temporal_overlaps,
        "text_prefix": _q_text_prefix,
        "text_suffix": _q_text_suffix,
        "doc_quality": _q_doc_quality,
        "quality_filter": _q_quality_filter,
        "pii_redacted": _q_pii_redacted,
        "doc_tokens": _q_doc_tokens,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_doc_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "simhash": _q_simhash,
        "sim_pairs": _q_sim_pairs,
        "sim_topk": _q_sim_topk,
        "minhash": _q_minhash,
        "minhash_lsh": _q_minhash_lsh,
        "pred_equals": _q_pred_equals,
        "pred_touches": _q_pred_touches,
        "pred_overlaps": _q_pred_overlaps,
        "raster_retile": _q_raster_retile,
        "frame_sample": _q_frame_sample,
        "sim_topk_lsh": _q_sim_topk_lsh,
        "sim_topk_ivf": _q_sim_topk_ivf,
        "cos_dedup": _q_cos_dedup,
        "wms_render": _q_wms_render,
    }


# ---------------------------------------------------------------- oracles


def _stop_list_sql(words):
    return ", ".join(f"'{w}'" for w in words)


def _conic_oracle(stages_fn, prefix: str) -> str:
    from geowave_spark.geom.transform import conic_roundtrip_sql

    return (
        f"{_pts_cte()}, _conus AS (SELECT event_id, x_u, y_u FROM "
        f"{EVENTS_PTS} WHERE {_CONUS_WHERE}), "
        + conic_roundtrip_sql(
            "_conus",
            stages_fn=stages_fn,
            prefix=prefix,
            cols="event_id, e_m, n_m, rt_x_u, rt_y_u",
        )
    )


def _lcc_oracle() -> str:
    from geowave_spark.geom.transform import lcc_stages

    return _conic_oracle(lcc_stages, "_lcc")


def _albers_oracle() -> str:
    from geowave_spark.geom.transform import albers_stages

    return _conic_oracle(albers_stages, "_aea")


def _utm_transform_oracle() -> str:
    from geowave_spark.geom.transform import utm_roundtrip_sql

    return f"{_pts_cte()}, " + utm_roundtrip_sql(
        EVENTS_PTS, cols="event_id, zone, e_m, n_m, rt_x_u, rt_y_u"
    )


def _crs_transform_oracle() -> str:
    from geowave_spark.geom.transform import (
        merc_x_mm_sql,
        merc_y_mm_sql,
        wgs_x_u_sql,
        wgs_y_u_sql,
    )

    return (
        f"{_pts_cte()}, f AS (SELECT event_id, "
        f"{merc_x_mm_sql('x_u')} AS x_mm, {merc_y_mm_sql('y_u')} AS y_mm "
        f"FROM {EVENTS_PTS}) "
        f"SELECT event_id, x_mm, y_mm, {wgs_x_u_sql('x_mm')} AS rt_x_u, "
        f"{wgs_y_u_sql('y_mm')} AS rt_y_u FROM f"
    )


def oracle_sql() -> dict[str, str]:
    x0, y0, x1, y1 = BBOX
    pts = _pts_cte()
    boxes = _boxes_cte()
    contains = (
        "p.x_u BETWEEN b.x_lo AND b.x_hi AND p.y_u BETWEEN b.y_lo AND b.y_hi"
    )
    knn_vals = ", ".join(f"({q}, {qx}, {qy})" for q, qx, qy in KNN_QUERIES)
    from geowave_spark.operators.geodesic import haversine_m_sql

    knn_geo_vals = ", ".join(
        f"({q}, {qx}, {qy})" for q, qx, qy in KNN_GEO_QUERIES
    )
    h64 = lambda e, s: (
        f"CAST(concat('0x', substr(md5(concat('s{s}:', {e})), 1, 15)) AS BIGINT)"
    )
    shingles = (
        "list_transform(generate_series(1, greatest(len(string_split(text,' '))-2, 1)),"
        " i -> concat_ws(' ', string_split(text,' ')[i], string_split(text,' ')[i+1],"
        " string_split(text,' ')[i+2]))"
    )
    from geowave_spark.operators.text import LANGS

    lang_hits = {
        code: f"len(list_filter(string_split(text,' '), x -> x IN ({_stop_list_sql(words)})))"
        for code, words in LANGS
    }
    lang_best = f"greatest({', '.join(lang_hits.values())})"
    lang_case = f"CASE WHEN {lang_best} = 0 THEN 'und'"
    for code, _ in LANGS:
        lang_case += f" WHEN {lang_hits[code]} = {lang_best} THEN '{code}'"
    lang_case += " END"

    simhash_bits = []
    toks_d = "list_distinct(string_split(text,' '))"
    for b in range(16):
        ones = (
            f"list_sum(list_transform({toks_d}, t -> ({h64('t', 999)} >> {b}) & 1))"
        )
        simhash_bits.append(
            f"(CASE WHEN {ones} * 2 >= len({toks_d}) THEN {1 << b} ELSE 0 END)"
        )
    simhash_expr = " + ".join(simhash_bits)

    mh_cols = ", ".join(
        f"list_min(list_transform(sh, s -> {h64('s', i)})) AS mh_{i}" for i in range(4)
    )

    return {
        "bbox": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1}",
        "bbox_loose": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE {grid_coord_sql('x_u', LOOSE_RES)} BETWEEN "
        f"{int(_gcoord(BBOX[0], LOOSE_RES))} AND {int(_gcoord(BBOX[2], LOOSE_RES))} "
        f"AND {grid_coord_sql('y_u', LOOSE_RES)} BETWEEN "
        f"{int(_gcoord(BBOX[1], LOOSE_RES))} AND {int(_gcoord(BBOX[3], LOOSE_RES))}",
        "subsample_px": f"{pts} SELECT {grid_coord_sql('x_u', SUBS_RES)} AS gx, "
        f"{grid_coord_sql('y_u', SUBS_RES)} AS gy, min(event_id) AS event_id "
        f"FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        "GROUP BY 1, 2",
        "polygon": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE {_penta_halfplane_sql('x_u', 'y_u')}",
        "polygon_disjoint": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE NOT ({_penta_halfplane_sql('x_u', 'y_u')})",
        "bbox_time": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        f"AND ts >= TIMESTAMP '{T_LO}' AND ts < TIMESTAMP '{T_HI}'",
        "spatial_join": f"{pts}, {boxes} SELECT p.event_id, b.c_custkey "
        f"FROM {EVENTS_PTS} p, boxes b WHERE {contains}",
        "spatial_join_semi": f"{pts}, {boxes} SELECT event_id FROM {EVENTS_PTS} p "
        f"WHERE EXISTS (SELECT 1 FROM boxes b WHERE {contains})",
        "spatial_join_anti": f"{pts}, {boxes} SELECT event_id FROM {EVENTS_PTS} p "
        f"WHERE NOT EXISTS (SELECT 1 FROM boxes b WHERE {contains})",
        "distance_join": f"{pts}, {boxes} SELECT p.event_id, b.c_custkey, "
        f"(p.x_u - (b.x_lo + b.x_hi)//2) * (p.x_u - (b.x_lo + b.x_hi)//2) + "
        f"(p.y_u - (b.y_lo + b.y_hi)//2) * (p.y_u - (b.y_lo + b.y_hi)//2) AS dist2 "
        f"FROM {EVENTS_PTS} p, boxes b WHERE "
        f"(p.x_u - (b.x_lo + b.x_hi)//2) * (p.x_u - (b.x_lo + b.x_hi)//2) + "
        f"(p.y_u - (b.y_lo + b.y_hi)//2) * (p.y_u - (b.y_lo + b.y_hi)//2) "
        f"<= {DIST_RADIUS_U}::BIGINT * {DIST_RADIUS_U}::BIGINT",
        "knn": f"{pts}, q(query_id, qx, qy) AS (VALUES {knn_vals}), "
        f"d AS (SELECT q.query_id, p.event_id, "
        f"(p.x_u - q.qx)*(p.x_u - q.qx) + (p.y_u - q.qy)*(p.y_u - q.qy) AS dist2, "
        f"row_number() OVER (PARTITION BY q.query_id ORDER BY "
        f"(p.x_u - q.qx)*(p.x_u - q.qx) + (p.y_u - q.qy)*(p.y_u - q.qy), p.event_id) AS rank "
        f"FROM {EVENTS_PTS} p, q) "
        f"SELECT query_id, event_id, dist2, CAST(rank AS INT) AS rank FROM d WHERE rank <= {KNN_K}",
        "nn_join_geodesic": f"{pts}, "
        f"q AS (SELECT event_id AS a_id, x_u AS ax, y_u AS ay FROM {EVENTS_PTS} "
        f"WHERE event_id % {NN_GEO_MOD} = 0), "
        f"d AS (SELECT q.a_id, p.event_id AS b_id, "
        f"row_number() OVER (PARTITION BY q.a_id ORDER BY "
        f"{haversine_m_sql('q.ax', 'q.ay', 'p.x_u', 'p.y_u')}, p.event_id) AS rank "
        f"FROM {EVENTS_PTS} p, q WHERE p.event_id <> q.a_id "
        f"AND {haversine_m_sql('q.ax', 'q.ay', 'p.x_u', 'p.y_u')} <= {NN_GEO_RADIUS_M}) "
        f"SELECT a_id, b_id, CAST(rank AS INT) AS rank FROM d WHERE rank <= {NN_GEO_K}",
        "knn_geodesic": f"{pts}, q(query_id, qx, qy) AS (VALUES {knn_geo_vals}), "
        f"d AS (SELECT q.query_id, p.event_id, "
        f"row_number() OVER (PARTITION BY q.query_id ORDER BY "
        f"{haversine_m_sql('q.qx', 'q.qy', 'p.x_u', 'p.y_u')}, p.event_id) AS rank "
        f"FROM {EVENTS_PTS} p, q) "
        f"SELECT query_id, event_id, CAST(rank AS INT) AS rank FROM d "
        f"WHERE rank <= {KNN_K}",
        "knn_bulk": f"{pts}, "
        f"q AS (SELECT event_id AS query_id, x_u AS qx, y_u AS qy FROM {EVENTS_PTS} "
        f"WHERE event_id % {KNN_BULK_MOD} = 0), "
        f"d AS (SELECT q.query_id, p.event_id, "
        f"(p.x_u - q.qx)*(p.x_u - q.qx) + (p.y_u - q.qy)*(p.y_u - q.qy) AS dist2, "
        f"row_number() OVER (PARTITION BY q.query_id ORDER BY "
        f"(p.x_u - q.qx)*(p.x_u - q.qx) + (p.y_u - q.qy)*(p.y_u - q.qy), p.event_id) AS rank "
        f"FROM {EVENTS_PTS} p, q) "
        f"SELECT query_id, event_id, dist2, CAST(rank AS INT) AS rank FROM d WHERE rank <= {KNN_K}",
        "tile_assign": f"{pts} SELECT event_id, "
        f"{grid_coord_sql('x_u', TILE_RES)} AS tx, "
        f"{grid_coord_sql('y_u', TILE_RES)} AS ty FROM {EVENTS_PTS}",
        "spatial_bin": f"{pts} SELECT {grid_coord_sql('x_u', BIN_RES)} AS gx, "
        f"{grid_coord_sql('y_u', BIN_RES)} AS gy, count(*) AS n, "
        f"CAST(sum(user_id) AS BIGINT) AS sum_user FROM {EVENTS_PTS} GROUP BY 1, 2",
        "bbox_agg": f"{pts} SELECT min(x_u) AS x_min, max(x_u) AS x_max, "
        f"min(y_u) AS y_min, max(y_u) AS y_max FROM {EVENTS_PTS}",
        # on-demand twin of the metadata-only incremental stats read
        "stats_incremental": f"{pts} SELECT c.gx, c.gy, c.n, s.n_rows, "
        "s.x_min, s.x_max, s.y_min, s.y_max FROM "
        f"(SELECT {_STATS_GX} AS gx, {_STATS_GY} AS gy, count(*) AS n "
        f"FROM {EVENTS_PTS} GROUP BY 1, 2) c CROSS JOIN "
        "(SELECT count(*) AS n_rows, min(x_u) AS x_min, max(x_u) AS x_max, "
        f"min(y_u) AS y_min, max(y_u) AS y_max FROM {EVENTS_PTS}) s",
        # commit-maintained field sketches: the oracle recomputes the
        # full CMS / Bloom / HLL tables from the raw events with the
        # SAME md5-prefix hash family; the engine answers from snapshot
        # metadata alone (merged_field_sketches)
        "stats_sketch_commit": (
            "WITH v AS (SELECT CAST(user_id AS VARCHAR) AS s FROM events), "
            "hl AS (SELECT CAST(concat('0x', substr(md5(concat('hll:', s)), 1, 15)) "
            "AS BIGINT) AS h FROM v) "
            "SELECT 'hll' AS kind, h % 256 AS k, "
            "max(CASE WHEN h // 256 > 0 THEN 53 - length(bin(h // 256)) "
            "ELSE 53 END) AS n FROM hl GROUP BY h % 256 "
            "UNION ALL SELECT 'cms' AS kind, d * 2048 + b AS k, n FROM ("
            "SELECT d, CAST(concat('0x', substr(md5(concat('cms', d, ':', s)), 1, 15)) "
            "AS BIGINT) % 2048 AS b, count(*) AS n "
            "FROM v, (SELECT unnest(range(4)) AS d) GROUP BY 1, 2) "
            "UNION ALL SELECT 'bloom' AS kind, p AS k, CAST(1 AS BIGINT) AS n FROM ("
            "SELECT DISTINCT CAST(concat('0x', substr(md5(concat('bf', d, ':', s)), 1, 15)) "
            "AS BIGINT) % 65536 AS p "
            "FROM v, (SELECT unnest(range(3)) AS d))"
        ),
        "doc_tokens": "SELECT doc_id, CAST(len(string_split(text,' ')) AS INT) AS n_tokens "
        "FROM documents",
        "pii_redacted": _pii_redacted_oracle(),
        "quality_filter": (
            "WITH f AS (SELECT doc_id, len(string_split(text,' ')) AS n_tokens, "
            "(length(text) - len(string_split(text,' ')) + 1) * 100 // "
            "greatest(len(string_split(text,' ')), 1) AS mtl, "
            f"len(list_filter(string_split(text,' '), x -> x IN ({_stop_list_sql(['the','and','of','to','a','in','is','it','for','on'])}))) AS n_stop "
            "FROM documents), r AS (SELECT doc_id, CASE "
            "WHEN n_tokens < 20 THEN 'too_short' "
            "WHEN n_tokens > 100000 THEN 'too_long' "
            "WHEN mtl < 250 OR mtl > 1200 THEN 'bad_tok_len' "
            "WHEN n_stop * 1000 < 30 * n_tokens THEN 'low_stopword' "
            "ELSE 'ok' END AS reason FROM f) "
            "SELECT doc_id, reason, reason = 'ok' AS ok FROM r"
        ),
        "doc_quality": "SELECT doc_id, CAST(length(text) AS INT) AS n_chars_q, "
        "CAST(len(string_split(text,' ')) AS INT) AS n_tokens, "
        f"CAST(len(list_filter(string_split(text,' '), x -> x IN ({_stop_list_sql(['the','and','of','to','a','in','is','it','for','on'])}))) AS INT) AS n_stop_en, "
        "(length(text) - len(string_split(text,' ')) + 1) * 100 // greatest(len(string_split(text,' ')), 1) AS mean_tok_len_x100 "
        "FROM documents",
        "lang_id": f"SELECT doc_id, {lang_case} AS pred_lang FROM documents",
        "common_passages": (
            "WITH e AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "generate_series(1, greatest(len(string_split(text,' ')) - 7, 1)), "
            "i -> concat_ws(' ', "
            + ", ".join(f"string_split(text,' ')[i+{j}]" for j in range(8))
            + ")))) AS passage FROM documents) "
            "SELECT passage, count(*) AS n_docs, min(doc_id) AS first_doc "
            "FROM e GROUP BY passage HAVING count(*) >= 3"
        ),
        "doc_repetition": (
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
            "bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg "
            "FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)), "
            "bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg), "
            "m AS (SELECT doc_id, max(c) AS tb FROM bc GROUP BY doc_id) "
            "SELECT t.doc_id, CAST(len(t.w) AS INT) AS n_tokens, "
            "CAST(len(list_distinct(t.w)) AS INT) AS n_distinct_tokens, "
            "CAST(coalesce(m.tb, 0) AS BIGINT) AS top_bigram_n "
            "FROM toks t LEFT JOIN m ON m.doc_id = t.doc_id"
        ),
        "dedup_exact": "SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS keep_id "
        "FROM documents GROUP BY 1",
        "doc_fingerprint": "SELECT doc_id, md5(text) AS fp, "
        "md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp_norm FROM documents",
        "ngram_jaccard": f"WITH sh AS (SELECT doc_id, list_distinct({shingles}) AS sh FROM documents), "
        "e AS (SELECT doc_id, unnest(sh) AS s FROM sh), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter "
        "FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "sz AS (SELECT doc_id, len(sh) AS sz FROM sh) "
        "SELECT doc_a, doc_b, n_inter * 1000 // (sa.sz + sb.sz - n_inter) AS jaccard_x1000 "
        "FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b "
        f"WHERE n_inter * 1000 // (sa.sz + sb.sz - n_inter) >= {JACCARD_T}",
        "minhash": f"WITH s AS (SELECT doc_id, {shingles} AS sh FROM documents) "
        f"SELECT doc_id, {mh_cols} FROM s",
        "simhash": f"SELECT doc_id, CAST({simhash_expr} AS BIGINT) AS simhash FROM documents",
        "sim_topk": f"WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings "
        f"WHERE vec_id % {SIM_QUERY_MOD} = 0), "
        "d AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS score, "
        "row_number() OVER (PARTITION BY q.query_id ORDER BY "
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id) AS rank "
        "FROM embeddings e, q WHERE e.vec_id <> q.query_id) "
        f"SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM d WHERE rank <= {SIM_K}",
        "sim_pairs": "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "CAST(floor(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) * 1000) AS BIGINT) AS score_x1000 "
        "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id "
        f"AND floor(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) * 1000) >= {SIM_PAIR_T}",
        **_oracle_sql_round2(),
        **_oracle_sql_geom(),
    }


def _oracle_sql_geom() -> dict[str, str]:
    fmt_ev = (
        "WITH ev AS (SELECT event_id AS e, user_id AS u, "
        "date_trunc('second', ts) AS ts, x_u, y_u FROM "
        + events_points_sql("") + ") "
    )
    from geowave_spark.operators.geodesic import haversine_m_sql
    from geowave_spark.operators.packing import pack_sequences_sql
    from geowave_spark.operators.sampling import dataset_split_sql, source_quota_sql
    from geowave_spark.operators.text import BPE_SPLIT_PATTERN, chunk_tokens_sql

    BPE_SPLIT_PATTERN_SQL = BPE_SPLIT_PATTERN.replace("'", "''")
    from geowave_spark.operators.batching import aspect_batches_sql

    """Oracles for the general-geometry join / predicate surface. The
    fixture families are chosen so every exact predicate is pure
    integer SQL: L-shapes = union of two closed rectangles, tracks =
    three axis-aligned segments, predicate pairs = snapped boxes."""
    from geowave_spark.sources.testgeo import (
        customer_snapped_boxes_sql,
        lshape_covers_sql,
        lshape_sql_parts,
        part_tracks_sql,
        seg_box_interior_sql,
        seg_box_intersects_sql,
        seg_outside_box_sql,
        seg_point_dist2_sql,
        supplier_lshapes_sql,
        track_segments_sql,
    )

    pts = _pts_cte()
    lsh = f"lsh AS {supplier_lshapes_sql('')}"
    trk = f"trk AS {part_tracks_sql('')}"
    snb = f"snb AS {customer_snapped_boxes_sql('')}"

    segs = track_segments_sql()
    r1, r2 = lshape_sql_parts("o.cx", "o.cy", "o.r")
    line_lsh = " OR ".join(
        seg_box_intersects_sql(s, *r) for s in segs for r in (r1, r2)
    )
    bx = ("b.x_lo", "b.y_lo", "b.x_hi", "b.y_hi")
    interior_hit = " OR ".join(seg_box_interior_sql(s, *bx) for s in segs)
    outside_hit = " OR ".join(seg_outside_box_sql(s, *bx) for s in segs)
    d2 = "least(" + ", ".join(
        seg_point_dist2_sql(s, "p.x_u", "p.y_u") for s in segs
    ) + ")"

    inter = "a.x_lo<=c.x_hi AND c.x_lo<=a.x_hi AND a.y_lo<=c.y_hi AND c.y_lo<=a.y_hi"
    openov = "a.x_lo<c.x_hi AND c.x_lo<a.x_hi AND a.y_lo<c.y_hi AND c.y_lo<a.y_hi"
    a_cov_c = "c.x_lo>=a.x_lo AND c.x_hi<=a.x_hi AND c.y_lo>=a.y_lo AND c.y_hi<=a.y_hi"
    c_cov_a = "a.x_lo>=c.x_lo AND a.x_hi<=c.x_hi AND a.y_lo>=c.y_lo AND a.y_hi<=c.y_hi"
    pair = "SELECT a.c_custkey AS a_key, c.c_custkey AS b_key FROM snb a, snb c"
    x0, y0, x1, y1 = BBOX

    return {
        "geom_poly_join": f"{pts}, {lsh} SELECT p.event_id, o.s_suppkey "
        f"FROM {EVENTS_PTS} p, lsh o "
        f"WHERE {lshape_covers_sql('o.cx', 'o.cy', 'o.r', 'p.x_u', 'p.y_u')}",
        "geom_line_join": f"WITH {trk}, {lsh} "
        f"SELECT t.p_partkey, o.s_suppkey FROM trk t, lsh o WHERE {line_lsh}",
        "geom_crosses_join": f"WITH {trk}, {snb} "
        "SELECT t.p_partkey, b.c_custkey FROM trk t, snb b "
        f"WHERE ({interior_hit}) AND ({outside_hit})",
        "geom_dwithin_join": f"{pts}, {trk} "
        f"SELECT p.event_id, t.p_partkey FROM {EVENTS_PTS} p, trk t "
        f"WHERE {d2} <= {GEOM_DWITHIN_U}::BIGINT * {GEOM_DWITHIN_U}::BIGINT",
        "pred_equals": f"WITH {snb} {pair} WHERE a.c_custkey < c.c_custkey "
        "AND a.x_lo=c.x_lo AND a.x_hi=c.x_hi AND a.y_lo=c.y_lo AND a.y_hi=c.y_hi",
        "pred_touches": f"WITH {snb} {pair} WHERE a.c_custkey < c.c_custkey "
        f"AND {inter} AND NOT ({openov})",
        "pred_overlaps": f"WITH {snb} {pair} WHERE a.c_custkey < c.c_custkey "
        f"AND ({openov}) AND NOT ({a_cov_c}) AND NOT ({c_cov_a})",
        "pred_contains": f"WITH {snb} {pair} WHERE a.c_custkey <> c.c_custkey "
        f"AND {a_cov_c}",
        "pred_within": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE {_penta_halfplane_sql('x_u', 'y_u', strict=True)}",
        "xz_extent_keyed": f"WITH {_boxes_cte()} SELECT c_custkey FROM boxes "
        f"WHERE x_lo <= {BBOX[2]} AND x_hi >= {BBOX[0]} "
        f"AND y_lo <= {BBOX[3]} AND y_hi >= {BBOX[1]}",
        "st_bbox_time": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        f"AND ts >= TIMESTAMP '{T_LO}' AND ts < TIMESTAMP '{T_HI}'",
        # interval OVERLAPS on the raw interval table — the engine's
        # bin-spanning stored layout + dedupe must be invisible here
        "st_interval_query": f"WITH ivs AS {events_intervals_sql('')} "
        f"SELECT event_id FROM ivs "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        f"AND ts_start < TIMESTAMP '{T_HI}' AND ts_end > TIMESTAMP '{T_LO}'",
        "hilbert_bbox": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1}",
        "ice_delete": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        "AND NOT coalesce(value < 50, FALSE)",
        # MoR equality delete: keys resolved by query-then-delete
        # (bbox AND value<40) on unique event_id, so survivors inside
        # the bbox are exactly NOT(value<40) with NULL-never-matches
        "ice_delete_mor": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        "AND NOT coalesce(value < 40, FALSE)",
        # stream→snapshot-table ingest: exactly-once micro-batch commits
        # must reproduce the batch table bit-for-bit; same pruned bbox
        # read as ice_bbox
        "ice_stream_ingest": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1}",
        # incremental append scan: exactly the second commit's rows
        "ice_incremental": "SELECT event_id FROM events "
        "WHERE event_id % 2 = 1",
        # statistics-answered aggregation: the metadata fold must equal
        # the full-table aggregate recomputed from raw events
        "gwql_stats_agg": f"{pts} SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "MIN(value) AS min_v, MAX(value) AS max_v, "
        "MIN(x_u) AS minx, MIN(y_u) AS miny, "
        f"MAX(x_u) AS maxx, MAX(y_u) AS maxy FROM {EVENTS_PTS}",
        # geodesic DWITHIN: same closed-form haversine, unconstrained —
        # the engine's coarse bbox must never cut a true neighbor
        "cql_dwithin_geodesic": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE {haversine_m_sql(str(GEO_DW[0]), str(GEO_DW[1]), 'x_u', 'y_u')}"
        f" <= {GEO_DW[2]}",
        "gwql_delete": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        "AND NOT coalesce(value < 30, FALSE)",
        "ice_bbox": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1}",
        "cql_filter": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        f"AND (x_u - {CQL_DW[0]}) * (x_u - {CQL_DW[0]}) + "
        f"(y_u - {CQL_DW[1]}) * (y_u - {CQL_DW[1]}) <= {CQL_DW[2] ** 2} "
        f"AND ts >= TIMESTAMP '{T_LO}' AND ts < TIMESTAMP '{T_HI}' "
        "AND value BETWEEN 10 AND 90 AND event_type LIKE 'c%'",
        "gwql_select": f"{pts} SELECT event_id, "
        f"CAST(round(value * 100) AS BIGINT) AS v FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        f"AND (x_u - {GWQL_DW[0]}) * (x_u - {GWQL_DW[0]}) + "
        f"(y_u - {GWQL_DW[1]}) * (y_u - {GWQL_DW[1]}) <= {GWQL_DW[2] ** 2} "
        "AND ts > TIMESTAMP '2024-01-05' "
        "AND value BETWEEN 10 AND 90 AND contains(event_type, 'i')",
        "gwql_agg": f"{pts} SELECT COUNT(*) AS n, COUNT(value) AS nv, "
        "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v, "
        "MIN(CAST(round(value * 100) AS BIGINT)) AS min_v, "
        "MAX(CAST(round(value * 100) AS BIGINT)) AS max_v "
        f"FROM {EVENTS_PTS} WHERE "
        f"(x_u BETWEEN {GWQL_OR_BOX[0]} AND {GWQL_OR_BOX[2]} "
        f"AND y_u BETWEEN {GWQL_OR_BOX[1]} AND {GWQL_OR_BOX[3]}) "
        f"OR (x_u - {GWQL_OR_DW[0]}) * (x_u - {GWQL_OR_DW[0]}) + "
        f"(y_u - {GWQL_OR_DW[1]}) * (y_u - {GWQL_OR_DW[1]}) "
        f"<= {GWQL_OR_DW[2] ** 2}",
        "source_quota": source_quota_sql(
            "documents", 15, select_cols="doc_id, source"
        ),
        "pack_sequences": pack_sequences_sql("documents", 256),
        "chunk_docs": chunk_tokens_sql("documents", 40, 30),
        "doc_tokens_bpe": (
            "SELECT doc_id, CAST(len(string_split(text,' ')) AS INT) AS n_tokens, "
            f"CAST(len(regexp_extract_all(text, '{BPE_SPLIT_PATTERN_SQL}')) AS INT) "
            "AS n_tokens_bpe FROM documents"
        ),
        "dataset_split": (
            "SELECT source, split, count(*) AS n, min(doc_id) AS min_doc FROM ("
            + dataset_split_sql("documents", select_cols="doc_id, source")
            + ") GROUP BY source, split"
        ),
        # --- ingest-format plugins: expected parse output reconstructed
        # from `events` with pure SQL arithmetic (the raw files are a
        # deterministic function of the same rows — sources/formats.py)
        "gdelt_ingest": fmt_ev
        + "SELECT CAST(e AS INT) AS eventid, "
        "CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS ts_day, "
        "CAST(y_u AS DOUBLE)/1000000 AS lat, CAST(x_u AS DOUBLE)/1000000 AS lon, "
        "CASE WHEN e % 7 = 0 THEN NULL ELSE 'ACTOR' || CAST(u % 50 AS VARCHAR) END AS actor1, "
        "CASE WHEN e % 13 = 0 THEN NULL ELSE 'C' || CAST(u % 26 AS VARCHAR) END AS cc, "
        "CASE WHEN e % 5 = 0 THEN NULL ELSE 'http://example.com/' || CAST(e AS VARCHAR) END AS url, "
        "CAST(e % 100 AS INT) AS mentions, CAST(e % 200 AS DOUBLE) + 0.5 AS tone "
        "FROM ev WHERE e % 97 <> 0 AND e % 89 <> 0",
        "tdrive_points": fmt_ev
        + ", t AS (SELECT CAST(u % 200 AS DOUBLE) AS taxiid, ts, "
        "CAST(x_u AS DOUBLE)/1000000 AS lon, CAST(y_u AS DOUBLE)/1000000 AS lat FROM ev) "
        "SELECT taxiid, CAST(row_number() OVER (PARTITION BY taxiid "
        "ORDER BY ts, lon, lat) - 1 AS DOUBLE) AS pointinstance, "
        "CAST(epoch(ts) AS BIGINT) AS ts_s, lat, lon FROM t",
        "geolife_points": fmt_ev
        + ", g AS (SELECT 'trk' || CAST((u*8+e) % 64 AS VARCHAR) || '.plt' AS trackid, "
        "ts, CAST(y_u AS DOUBLE)/1000000 AS lat, CAST(x_u AS DOUBLE)/1000000 AS lon, "
        "CAST(e % 5000 AS DOUBLE) AS elev FROM ev WHERE e % 3 = 0) "
        "SELECT trackid, CAST(row_number() OVER (PARTITION BY trackid "
        "ORDER BY ts, lat, lon, elev) - 1 AS INT) AS pointinstance, "
        "lat, lon, elev, CAST(epoch(ts) AS BIGINT) AS ts_s FROM g",
        "geolife_tracks": fmt_ev
        + ", g AS (SELECT 'trk' || CAST((u*8+e) % 64 AS VARCHAR) || '.plt' AS trackid, ts "
        "FROM ev WHERE e % 3 = 0) "
        "SELECT trackid AS track_id, CAST(epoch(min(ts)) AS BIGINT) AS start_s, "
        "CAST(epoch(max(ts)) AS BIGINT) AS end_s, "
        "CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms, "
        "count(*) AS n FROM g GROUP BY trackid",
        "gpx_waypoints": fmt_ev
        + "SELECT 'route' || CAST(e % 16 AS VARCHAR) || '.gpx' AS file, "
        "'WP' || CAST(e AS VARCHAR) AS name, CAST(y_u AS DOUBLE)/1000000 AS lat, CAST(x_u AS DOUBLE)/1000000 AS lon, "
        "CASE WHEN e % 20 = 1 THEN CAST(e % 900 AS DOUBLE) END AS elev, "
        "'c' || CAST(e % 9 AS VARCHAR) AS cmt, 'S' || CAST(e % 4 AS VARCHAR) AS sym "
        "FROM ev WHERE e % 10 = 1",
        "gpx_tracks": fmt_ev
        + ", g5 AS (SELECT e, ts, e % 16 AS g FROM ev WHERE e % 5 = 1), "
        "pts AS (SELECT g, ts, (e % 15 <> 2) AS timed FROM g5 WHERE e % 10 <> 1), "
        "agg AS (SELECT g, count(*) AS n, min(ts) FILTER (WHERE timed) AS tmin, "
        "max(ts) FILTER (WHERE timed) AS tmax FROM pts GROUP BY g), "
        "files AS (SELECT DISTINCT g FROM g5) "
        "SELECT 'route' || CAST(f.g AS VARCHAR) || '.gpx' AS file, "
        "'TRK' || CAST(f.g AS VARCHAR) AS name, "
        "CAST(epoch(a.tmin) AS BIGINT) AS start_s, "
        "CAST(epoch(a.tmax) AS BIGINT) AS end_s, "
        "CAST(epoch_ms(a.tmax) - epoch_ms(a.tmin) AS BIGINT) AS duration_ms, "
        "CAST(COALESCE(a.n, 0) AS BIGINT) AS n "
        "FROM files f LEFT JOIN agg a ON f.g = a.g",
        "twitter_points": fmt_ev
        + ", tw AS (SELECT e, u, ts, x_u, y_u FROM ev "
        "WHERE e % 2 = 1 AND e % 23 <> 0 AND e % 29 <> 0) "
        "SELECT CAST(e AS VARCHAR) AS tweet_id, CAST(u AS VARCHAR) AS user_id, "
        "'user' || CAST(u AS VARCHAR) AS user_name, "
        "'tweet ' || CAST(e AS VARCHAR) || ' \"quoted\" #tag' || CAST(e % 50 AS VARCHAR) AS text, "
        "CASE WHEN e % 3 = 0 THEN CAST(u + 1 AS VARCHAR) ELSE '' END AS in_reply, "
        "CAST(e % 1000 AS INT) AS retweet_count, "
        "CASE WHEN e % 19 = 0 THEN '' ELSE CASE u % 5 WHEN 0 THEN 'en' "
        "WHEN 1 THEN 'es' WHEN 2 THEN 'fr' WHEN 3 THEN 'de' ELSE 'ja' END END AS lang, "
        "CAST(epoch(ts) AS BIGINT) AS dtg_s, CAST(y_u AS DOUBLE)/1000000 AS lat, CAST(x_u AS DOUBLE)/1000000 AS lon FROM tw",
        "geotiff_scan": fmt_ev
        + ", gt AS (SELECT e, x_u, y_u, 16 + e % 17 AS w, 16 + e % 13 AS h "
        "FROM ev WHERE e % 19 = 0), "
        "rws AS (SELECT e, w, unnest(generate_series(0, h - 1)) AS r FROM gt), "
        "cls AS (SELECT e, r, unnest(generate_series(0, w - 1)) AS c FROM rws), "
        "sums AS (SELECT e, SUM((e*7 + r*13 + c*31) % 256) AS px_sum "
        "FROM cls GROUP BY e) "
        "SELECT 'img' || CAST(g.e AS VARCHAR) || '.tif' AS file, "
        "CAST(g.w AS BIGINT) AS w, CAST(g.h AS BIGINT) AS h, "
        "CAST(1 AS BIGINT) AS bands, "
        "CAST(x_u AS DOUBLE)/1000000 AS x0, CAST(y_u AS DOUBLE)/1000000 AS y0, "
        "0.01 AS sx, 0.01 AS sy, CAST(4326 AS BIGINT) AS crs, "
        "CAST(CASE WHEN g.e % 2 = 0 THEN 8 ELSE 1 END AS BIGINT) AS compression, "
        "CAST(s.px_sum AS BIGINT) AS px_sum "
        "FROM gt g JOIN sums s ON g.e = s.e",
        "shapefile_scan": fmt_ev
        + ", s AS (SELECT e, u, x_u, y_u, e % 8 AS k FROM ev WHERE e % 13 = 6), "
        "pts AS (SELECT 'pts' || CAST(k AS VARCHAR) || '.shp' AS file, "
        "CAST(1 + row_number() OVER (PARTITION BY k ORDER BY e) AS INT) AS fid, "
        "CAST(1 AS INT) AS shape_type, e AS eid, "
        "'T' || CAST(u % 20 AS VARCHAR) AS tag, x_u AS xu, y_u AS yu FROM s), "
        "nulls AS (SELECT DISTINCT 'pts' || CAST(k AS VARCHAR) || '.shp' AS file, "
        "CAST(1 AS INT) AS fid, CAST(0 AS INT) AS shape_type, "
        "CAST(0 AS BIGINT) AS eid, 'none' AS tag, CAST(0 AS BIGINT) AS xu, "
        "CAST(0 AS BIGINT) AS yu FROM s) "
        "SELECT * FROM pts UNION ALL SELECT * FROM nulls",
        "geojson_scan": fmt_ev
        + ", s AS (SELECT e, u, e % 8 AS k FROM ev WHERE e % 11 = 5), "
        "pts AS (SELECT 'fc' || CAST(k AS VARCHAR) || '.geojson' AS file, "
        "'f' || CAST(e AS VARCHAR) AS fid, 'Point' AS gtype, e AS eid, "
        "'g' || CAST(u % 20 AS VARCHAR) AS tag FROM s), "
        "boxes AS (SELECT DISTINCT 'fc' || CAST(k AS VARCHAR) || '.geojson' AS file, "
        "'box' || CAST(k AS VARCHAR) AS fid, 'Polygon' AS gtype, "
        "CAST(-1 - k AS BIGINT) AS eid, 'box' AS tag FROM s) "
        "SELECT * FROM pts UNION ALL SELECT * FROM boxes",
        "avro_scan": fmt_ev
        + ", a AS (SELECT e, u, x_u, y_u FROM ev WHERE e % 17 = 2) "
        "SELECT e AS event_id, CAST(x_u AS DOUBLE)/1000000 AS lon, "
        "CAST(y_u AS DOUBLE)/1000000 AS lat, "
        "CASE WHEN e % 21 = 2 THEN NULL ELSE 'n' || CAST(u % 30 AS VARCHAR) END AS name, "
        "'t' || CAST(u % 7 AS VARCHAR) || ',t' || CAST(e % 11 AS VARCHAR) AS tag_s, "
        "e % 997 AS weight FROM a",
        "stanag_points": fmt_ev
        + ", s AS (SELECT e, u, ts, x_u, y_u, e % 8 AS k, u % 5 AS t "
        "FROM ev WHERE e % 23 = 3) "
        "SELECT 'msg' || CAST(k AS VARCHAR) || '.xml' AS file, "
        "'uuid-' || CAST(k AS VARCHAR) || '-' || CAST(t AS VARCHAR) AS track_uuid, "
        "'TN' || CAST(t AS VARCHAR) AS track_number, 'CONFIRMED' AS status, "
        "'M' || CAST(k AS VARCHAR) AS mission, 'p' || CAST(e AS VARCHAR) AS point_uuid, "
        "CAST(epoch(ts) AS BIGINT) AS ts_s, "
        "CAST(y_u AS DOUBLE)/1000000 AS lat, CAST(x_u AS DOUBLE)/1000000 AS lon, "
        "CAST(e % 3000 AS DOUBLE) AS elev, "
        "CASE WHEN e % 31 = 3 OR e % 37 = 3 THEN NULL "
        "ELSE CAST(e % 90 AS DOUBLE) + 0.25 END AS speed, "
        "CAST(e % 360 AS DOUBLE) AS course FROM s",
        "gdelt_gwql": fmt_ev
        + "SELECT CAST(e AS INT) AS eventid, CAST(e % 100 AS INT) AS numMentions "
        "FROM ev WHERE e % 97 <> 0 AND e % 89 <> 0 "
        "AND x_u BETWEEN -60000000 AND 60000000 "
        "AND y_u BETWEEN -30000000 AND 30000000 "
        "AND e % 100 BETWEEN 20 AND 80",
        "stanag_tracks": fmt_ev
        + ", s AS (SELECT e, ts, e % 8 AS k, u % 5 AS t "
        "FROM ev WHERE e % 23 = 3) "
        "SELECT 'uuid-' || CAST(k AS VARCHAR) || '-' || CAST(t AS VARCHAR) AS track_uuid, "
        "'TN' || CAST(t AS VARCHAR) AS track_number, 'M' || CAST(k AS VARCHAR) AS mission, "
        "CAST(epoch(min(ts)) AS BIGINT) AS start_s, "
        "CAST(epoch(max(ts)) AS BIGINT) AS end_s, "
        "CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms, "
        "count(*) AS n FROM s GROUP BY k, t",
        "ingest_plugins": fmt_ev
        + "SELECT 'avro' AS fmt, count(*) AS n FROM ev WHERE e % 17 = 2 "
        "UNION ALL SELECT 'stanag4676', count(*) FROM ev WHERE e % 23 = 3 "
        "UNION ALL SELECT 'gdelt', count(*) FROM ev WHERE e % 97 <> 0 AND e % 89 <> 0 "
        "UNION ALL SELECT 'geojson', count(*) + count(DISTINCT e % 8) "
        "FROM ev WHERE e % 11 = 5 "
        "UNION ALL SELECT 'geolife', count(*) FROM ev WHERE e % 3 = 0 "
        "UNION ALL SELECT 'geotiff', count(*) FROM ev WHERE e % 19 = 0 "
        "UNION ALL SELECT 'shapefile', count(*) + count(DISTINCT e % 8) "
        "FROM ev WHERE e % 13 = 6 "
        "UNION ALL SELECT 'gpx', count(*) FROM ev WHERE e % 5 = 1 AND e % 10 <> 1 "
        "UNION ALL SELECT 'tdrive', count(*) FROM ev "
        "UNION ALL SELECT 'twitter', count(*) FROM ev "
        "WHERE e % 2 = 1 AND e % 23 <> 0 AND e % 29 <> 0",
        "pii_scan": (
            "SELECT i AS doc_id, CAST(i % 3 AS BIGINT) AS n_email, "
            "CAST(i % 2 AS BIGINT) AS n_phone, "
            "CAST(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_ipv4, "
            "(i % 3 > 0 OR i % 2 > 0 OR i % 5 = 0) AS has_pii "
            "FROM range(800) t(i)"
        ),
        "contamination": (
            "WITH g AS (SELECT doc_id, source, unnest(list_distinct("
            "list_transform(generate_series(1, greatest(len(string_split(text,' '))-2, 1)), i -> concat_ws(' ', string_split(text,' ')[i], string_split(text,' ')[i+1], string_split(text,' ')[i+2]))"
            ")) AS gram FROM documents), "
            "b AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'), "
            "t AS (SELECT doc_id, gram FROM g WHERE source <> 'src0') "
            "SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap "
            "FROM t JOIN b USING (gram) GROUP BY t.doc_id"
        ),
        "semdedup": "SELECT i AS vec_id, CAST(i % 8 AS BIGINT) AS cluster, "
        "(i % 8) + 8 * ((i // 8) % 6) AS rep_id FROM range(960) t(i)",
        "phash_dedup": _phash_dedup_oracle(),
        "image_thumbs": _image_thumbs_oracle(),
        "image_embed": _image_embed_oracle(),
        "caption_align": _caption_align_oracle(),
        "aspect_batches": aspect_batches_sql(RASTER_N, 8, 2),
        "image_validate": _image_validate_oracle(),
        "xmodal_topk": _xmodal_topk_oracle(),
        "ice_image_tiles": _raster_tiles_oracle(),
        "raster_pyramid": _raster_pyramid_oracle(),
        "raster_pyramid_ingest": _raster_pyramid_oracle(),
        "poly_nonconvex": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE x_u BETWEEN {x0} AND {x1} AND y_u BETWEEN {y0} AND {y1} "
        f"AND NOT (x_u > {U_NX0} AND x_u < {U_NX1} AND y_u > {U_NY0})",
        # L-shape (union of two closed rects) × snapped box INTERSECTS —
        # the sql_spatial routed query's ground truth
        "sql_spatial": f"WITH {lsh}, {snb} "
        "SELECT o.s_suppkey, b.c_custkey FROM lsh o, snb b WHERE "
        + " OR ".join(
            f"({r[0]} <= b.x_hi AND b.x_lo <= {r[2]} "
            f"AND {r[1]} <= b.y_hi AND b.y_lo <= {r[3]})"
            for r in (r1, r2)
        ),
        # same intersects ground truth + the attribute residual conjuncts
        "sql_spatial_mixed": f"WITH {lsh}, {snb} "
        "SELECT o.s_suppkey, b.c_custkey FROM lsh o, snb b WHERE ("
        + " OR ".join(
            f"({r[0]} <= b.x_hi AND b.x_lo <= {r[2]} "
            f"AND {r[1]} <= b.y_hi AND b.y_lo <= {r[3]})"
            for r in (r1, r2)
        )
        + ") AND b.c_custkey % 3 = 0 AND o.s_suppkey % 2 = 0",
        "attr_range": f"SELECT event_id FROM events "
        f"WHERE user_id BETWEEN {ATTR_LO} AND {ATTR_HI}",
        "raster_retile_bilinear": (
            f"WITH base AS ({_raster_tiles_oracle()}) "
            "SELECT DISTINCT level - 1 AS level, tx // 2 AS tx, ty // 2 AS ty FROM base"
        ),
        "raster_retile_bicubic": (
            f"WITH base AS ({_raster_tiles_oracle()}) "
            "SELECT DISTINCT level - 1 AS level, tx // 2 AS tx, ty // 2 AS ty FROM base"
        ),
        "crs_transform": _crs_transform_oracle(),
        "utm_transform": _utm_transform_oracle(),
        "lcc_transform": _lcc_oracle(),
        "albers_transform": _albers_oracle(),
        "interval_join": f"WITH ivs AS {events_intervals_sql('')}, "
        f"a AS (SELECT event_id AS a_id, ts_start AS a_s, ts_end AS a_e "
        f"FROM ivs WHERE event_id % {IVJ_MOD_A} = 0), "
        f"b AS (SELECT event_id AS b_id, ts_start AS b_s, ts_end AS b_e "
        f"FROM ivs WHERE event_id % {IVJ_MOD_B} = 0) "
        "SELECT a_id, b_id, epoch_us(least(a_e, b_e)) - "
        "epoch_us(greatest(a_s, b_s)) AS ov_us "
        "FROM a JOIN b ON a_s < b_e AND b_s < a_e",
        "crs_bbox": (
            "SELECT event_id FROM events WHERE "
            f"((event_id * {_K1_TG}) % {2 * MERC_MM}) - {MERC_MM} "
            f"BETWEEN {CRS_BBOX[0]} AND {CRS_BBOX[2]} AND "
            f"((event_id * {_K2_TG}) % {2 * MERC_MM}) - {MERC_MM} "
            f"BETWEEN {CRS_BBOX[1]} AND {CRS_BBOX[3]}"
        ),
        "crs_bbox_stored": (
            "SELECT event_id FROM events WHERE "
            f"((event_id * {_K1_TG}) % {2 * MERC_MM}) - {MERC_MM} "
            f"BETWEEN {CRS_BBOX[0]} AND {CRS_BBOX[2]} AND "
            f"((event_id * {_K2_TG}) % {2 * MERC_MM}) - {MERC_MM} "
            f"BETWEEN {CRS_BBOX[1]} AND {CRS_BBOX[3]}"
        ),
    }


def _image_thumbs_oracle() -> str:
    """Thumbnail hashes re-derived from the deterministic generator
    with the same bilinear kernel driver-side (no bytes read)."""
    from geowave_spark.raster.codec import resample_bilinear
    from geowave_spark.sources.images import dhash64, render_pixels

    vals = ", ".join(
        f"('img{i:012d}', "
        f"{dhash64(resample_bilinear(render_pixels(i, RASTER_TS, RASTER_TS), THUMB_H, THUMB_W))})"
        for i in range(RASTER_N)
    )
    return (
        f"SELECT image_id, {THUMB_W} AS w, {THUMB_H} AS h, th AS thumb_hash "
        f"FROM (VALUES {vals}) AS t(image_id, th)"
    )


def _raster_pyramid_oracle() -> str:
    """Multi-level grid: each level's tiles are the distinct parents of
    the level below, unioned with the base grid."""
    parts = ["SELECT level, tx, ty FROM l0"]
    ctes = [f"l0 AS (SELECT level, tx, ty FROM ({_raster_tiles_oracle()}))"]
    for i in range(1, PYR_LEVELS + 1):
        ctes.append(
            f"l{i} AS (SELECT DISTINCT level - 1 AS level, tx // 2 AS tx, "
            f"ty // 2 AS ty FROM l{i - 1})"
        )
        parts.append(f"SELECT level, tx, ty FROM l{i}")
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(parts)


def _image_embed_oracle() -> str:
    """Embedding values re-derived from the generator with the same
    block-mean kernel driver-side, integer-scaled."""
    import math

    from geowave_spark.operators.multimodal import image_embed_vector
    from geowave_spark.sources.images import render_pixels

    rows = []
    for i in range(RASTER_N):
        vec = image_embed_vector(
            render_pixels(i, RASTER_TS, RASTER_TS), "blockmean", EMB_GRID
        )
        for d, v in enumerate(vec):
            rows.append(f"('img{i:012d}', {d}, {math.floor(v * 1_000_000)})")
    return (
        "SELECT image_id, dim, val_x1e6 FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(image_id, dim, val_x1e6)"
    )


def _phash_dedup_oracle() -> str:
    """Brute-force Hamming pairs over the TRUE phash values, re-derived
    driver-side from the deterministic image generator (no bytes read —
    the audio_stats oracle pattern)."""
    from geowave_spark.sources.images import dhash64, render_pixels

    vals = ", ".join(
        f"('img{i:012d}', {dhash64(render_pixels(i, RASTER_TS, RASTER_TS))})"
        for i in range(RASTER_N)
    )
    return (
        f"WITH ph(image_id, ph) AS (VALUES {vals}) "
        "SELECT a.image_id AS id_a, b.image_id AS id_b, "
        "CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming "
        "FROM ph a, ph b WHERE a.image_id < b.image_id "
        f"AND bit_count(xor(a.ph, b.ph)) <= {PHASH_HAM_T}"
    )


def _raster_tiles_oracle(n: int = None) -> str:
    from geowave_spark.operators.tiling import pick_level

    if n is None:
        n = RASTER_N
    level = pick_level(2 * RASTER_HALF, RASTER_TS, RASTER_TS)
    x, y = xy_sql("id")
    g = lambda e: grid_coord_sql(e, level)
    return (
        f"WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS id), "
        f"img AS (SELECT id, {x} AS x_u, {y} AS y_u FROM ids), "
        f"b AS (SELECT id, {g(f'(x_u - {RASTER_HALF})')} AS tx0, "
        f"{g(f'(x_u + {RASTER_HALF})')} AS tx1, "
        f"{g(f'(y_u - {RASTER_HALF})')} AS ty0, "
        f"{g(f'(y_u + {RASTER_HALF})')} AS ty1 FROM img), "
        "t AS (SELECT id, tx, ty FROM b, "
        "unnest(generate_series(tx0, tx1)) AS t1(tx), "
        "unnest(generate_series(ty0, ty1)) AS t2(ty)) "
        f"SELECT {level} AS level, tx, ty, CAST(count(*) AS INT) AS n_contrib "
        "FROM t GROUP BY 2, 3"
    )


def _oracle_sql_round2() -> dict[str, str]:
    """Oracles for the temporal / text / polygon / raster-cover /
    statistics query surface."""
    from geowave_spark.operators.kde import _K
    from geowave_spark.operators.poly_join import convex_contains_sql

    pts = _pts_cte()
    boxes = _boxes_cte()

    oct_contains = convex_contains_sql(
        octagon_vertices_sql("o.cx", "o.cy", "o.r", "o.a"), "p.x_u", "p.y_u"
    )

    n_kde = 1 << KDE_LEVEL
    kde_kernel = ", ".join(
        f"({dx - 2}, {dy - 2}, {int(_K[dy, dx])})" for dy in range(5) for dx in range(5)
    )

    def kde_level_sql(level: int) -> str:
        n = 1 << level
        return (
            f"(WITH g AS (SELECT {grid_coord_sql('x_u', level)} AS cx, "
            f"{grid_coord_sql('y_u', level)} AS cy FROM {EVENTS_PTS}), "
            f"k(dx, dy, w) AS (VALUES {kde_kernel}), "
            f"s AS (SELECT cx + dx AS gx, cy + dy AS gy, w FROM g, k "
            f"WHERE cx + dx BETWEEN 0 AND {n - 1} AND cy + dy BETWEEN 0 AND {n - 1}), "
            "a AS (SELECT gx, gy, CAST(sum(w) AS BIGINT) AS weight FROM s GROUP BY 1, 2) "
            f"SELECT {level} AS level, gx, gy, weight, "
            "percent_rank() OVER (ORDER BY weight) AS pct FROM a)"
        )

    kde_pyr = " UNION ALL ".join(
        kde_level_sql(lvl) for lvl in range(KDE_PYR_LO, KDE_PYR_HI + 1)
    )

    shingles = (
        "list_transform(generate_series(1, greatest(len(string_split(text,' '))-2, 1)),"
        " i -> concat_ws(' ', string_split(text,' ')[i], string_split(text,' ')[i+1],"
        " string_split(text,' ')[i+2]))"
    )
    h64 = lambda e, s: (
        f"CAST(concat('0x', substr(md5(concat('s{s}:', {e})), 1, 15)) AS BIGINT)"
    )
    mh_cols = ", ".join(
        f"list_min(list_transform(sh, s -> {h64('s', i)})) AS mh_{i}" for i in range(4)
    )
    lsh_jac = (
        "(len(list_intersect(sa.sh, sb.sh)) * 1000) // "
        "greatest(len(list_distinct(list_cat(sa.sh, sb.sh))), 1)"
    )

    return {
        "time_bin": "SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS bin_day, "
        "count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_user FROM events GROUP BY 1",
        "time_bin_hour": "SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) * 24"
        " + hour(ts) AS bin_hour, count(*) AS n FROM events GROUP BY 1",
        "time_bin_week": "SELECT CAST(floor((datediff('day', DATE '1970-01-01', "
        "CAST(ts AS DATE)) + 3) / 7.0) AS INT) AS bin_week, "
        "count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_user FROM events GROUP BY 1",
        "temporal_overlaps": f"SELECT event_id FROM events "
        f"WHERE ts < TIMESTAMP '{TOVL_HI}' "
        f"AND ts + to_seconds(user_id) > TIMESTAMP '{TOVL_LO}'",
        "text_prefix": "SELECT doc_id FROM documents WHERE text LIKE 'key%'",
        "text_suffix": "SELECT doc_id FROM documents WHERE text LIKE '%row'",
        "text_suffix_stored": "SELECT doc_id FROM documents WHERE text LIKE '%row'",
        "text_contains": "SELECT doc_id FROM documents WHERE text LIKE '%spark join%'",
        # visibility semantics hand-evaluated against auths {alpha, gamma}:
        # the IN-list and the mod-3 mask are derived BY HAND from the
        # fixture's expressions (testgeo.VIS_EXPRS / FIELD_VIS_JSON), never
        # through the engine parser — 'alpha|beta&omega' is excluded
        # because the reference grammar folds left-associatively.
        "visibility_scan": (
            f"WITH ev AS {events_visible_sql()} "
            "SELECT event_id, visibility, "
            "CASE WHEN event_id % 3 = 0 THEN value END AS value_vis "
            "FROM ev WHERE visibility IN "
            "('', 'alpha', 'alpha|beta', '(alpha&omega)|gamma')"
        ),
        "bbox_dateline": f"{pts} SELECT event_id FROM {EVENTS_PTS} "
        f"WHERE (x_u >= {DL_X_LO} OR x_u <= {DL_X_HI}) "
        f"AND y_u BETWEEN {DL_Y_LO} AND {DL_Y_HI}",
        "poly_join": f"{pts}, octs AS {supplier_octagons_sql('')} "
        f"SELECT p.event_id, o.s_suppkey FROM {EVENTS_PTS} p, octs o "
        f"WHERE {oct_contains}",
        "kde": f"{pts}, g AS (SELECT {grid_coord_sql('x_u', KDE_LEVEL)} AS cx, "
        f"{grid_coord_sql('y_u', KDE_LEVEL)} AS cy FROM {EVENTS_PTS}), "
        f"k(dx, dy, w) AS (VALUES {kde_kernel}), "
        f"s AS (SELECT cx + dx AS gx, cy + dy AS gy, w FROM g, k "
        f"WHERE cx + dx BETWEEN 0 AND {n_kde - 1} AND cy + dy BETWEEN 0 AND {n_kde - 1}), "
        "a AS (SELECT gx, gy, CAST(sum(w) AS BIGINT) AS weight FROM s GROUP BY 1, 2) "
        "SELECT gx, gy, weight, percent_rank() OVER (ORDER BY weight) AS pct FROM a",
        "kde_pyramid": f"{pts} SELECT * FROM ({kde_pyr})",
        "tile_cover": f"WITH {boxes}, g AS (SELECT c_custkey, "
        f"{grid_coord_sql('x_lo', TILE_RES)} AS tx0, {grid_coord_sql('x_hi', TILE_RES)} AS tx1, "
        f"{grid_coord_sql('y_lo', TILE_RES)} AS ty0, {grid_coord_sql('y_hi', TILE_RES)} AS ty1 "
        "FROM boxes) SELECT c_custkey, tx, ty FROM g, "
        "unnest(generate_series(tx0, tx1)) AS t1(tx), "
        "unnest(generate_series(ty0, ty1)) AS t2(ty)",
        "histogram": f"SELECT least(CAST(floor(value / {HIST_BIN_W}) AS INT), {HIST_MAX_BIN}) AS bin, "
        "count(*) AS n FROM events GROUP BY 1",
        "stats_summary": "SELECT event_type, count(*) AS n, "
        "count(DISTINCT user_id) AS n_users, min(ts) AS min_ts, max(ts) AS max_ts, "
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_x100 "
        "FROM events GROUP BY 1",
        "raster_tiles": _raster_tiles_oracle(),
        "raster_histogram": _raster_histogram_oracle(),
        "raster_overview": (
            f"WITH pyr AS ({_raster_pyramid_oracle()}) "
            "SELECT level, CAST(count(*) AS BIGINT) AS n_tiles, "
            "min(tx) AS tx_min, max(tx) AS tx_max, "
            "min(ty) AS ty_min, max(ty) AS ty_max, "
            f"CAST({WORLD_X_U} AS BIGINT) // ((CAST(1 AS BIGINT) << level) * {RASTER_TS}) "
            "AS res_u_per_px FROM pyr GROUP BY level"
        ),
        "raster_multiband": _raster_tiles_oracle(RASTER_MB_N),
        "raster_retile": (
            f"WITH base AS ({_raster_tiles_oracle()}) "
            "SELECT DISTINCT level - 1 AS level, tx // 2 AS tx, ty // 2 AS ty FROM base"
        ),
        "dbscan_labels": _dbscan_oracle_sql(),
        "kmeans_hulls": _kmeans_oracle_sql(),
        "gwql_scalars": """
SELECT doc_id,
       CONCAT(lang, ':', source) AS tag,
       ABS(n_chars - 500) AS dev,
       CAST(n_chars AS DOUBLE) / 7 AS per7,
       (n_chars * 3 + doc_id) % 97 AS mix,
       CAST(doc_id AS VARCHAR) AS id_str
FROM documents
WHERE starts_with(text, 'the') OR contains(lang, 'e')
""",
        "nn_join": f"{pts}, a AS (SELECT event_id AS a_id, x_u AS ax, y_u AS ay "
        f"FROM {EVENTS_PTS} WHERE event_id % {NN_LEFT_MOD} = 0), "
        f"d AS (SELECT a_id, p.event_id AS b_id, "
        "(ax - p.x_u)*(ax - p.x_u) + (ay - p.y_u)*(ay - p.y_u) AS dist2, "
        "row_number() OVER (PARTITION BY a_id ORDER BY "
        "(ax - p.x_u)*(ax - p.x_u) + (ay - p.y_u)*(ay - p.y_u), p.event_id) AS rank "
        f"FROM a, {EVENTS_PTS} p WHERE a_id <> p.event_id "
        f"AND (ax - p.x_u)*(ax - p.x_u) + (ay - p.y_u)*(ay - p.y_u) "
        f"<= {NN_MAX_D}::BIGINT * {NN_MAX_D}::BIGINT) "
        f"SELECT a_id, b_id, dist2, CAST(rank AS INT) AS rank FROM d WHERE rank <= {NN_K}",
        "split_plan": f"{pts}, h AS (SELECT {grid_coord_sql('x_u', SPLIT_RES)} AS gx, "
        f"{grid_coord_sql('y_u', SPLIT_RES)} AS gy, count(*) AS n "
        f"FROM {EVENTS_PTS} GROUP BY 1, 2) "
        "SELECT gx, gy, n, CAST(coalesce(sum(n) OVER (ORDER BY gx, gy "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        f"// {SPLIT_TARGET} AS INT) AS split_id FROM h",
        "field_stats": "SELECT count(*) AS n_rows, count(value) AS n_value, "
        "CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_value_null, "
        "min(CAST(round(value * 100) AS BIGINT)) AS min_value_x100, "
        "max(CAST(round(value * 100) AS BIGINT)) AS max_value_x100, "
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_x100, "
        "min(user_id) AS min_user, max(user_id) AS max_user FROM events",
        "audio_stats": audio_stats_sql(N_AUDIO),
        "frame_sample": video_frame_sample_sql(N_VIDEO, FRAME_EVERY),
        "xz_extent": f"WITH {boxes} SELECT c_custkey FROM boxes "
        f"WHERE x_lo <= {BBOX[2]} AND x_hi >= {BBOX[0]} "
        f"AND y_lo <= {BBOX[3]} AND y_hi >= {BBOX[1]}",
        "xz_join": f"{pts}, {boxes} SELECT p.event_id, b.c_custkey "
        f"FROM {EVENTS_PTS} p, boxes b WHERE p.x_u BETWEEN b.x_lo AND b.x_hi "
        f"AND p.y_u BETWEEN b.y_lo AND b.y_hi",
        "minhash_lsh": f"WITH s0 AS (SELECT doc_id, {shingles} AS sh FROM documents), "
        f"sig AS (SELECT doc_id, {mh_cols} FROM s0), "
        "cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b "
        "ON a.doc_id < b.doc_id AND ((a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1) "
        "OR (a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3))), "
        "ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM s0) "
        f"SELECT doc_a, doc_b, {lsh_jac} AS jaccard_x1000 "
        "FROM cand JOIN ds sa ON sa.doc_id = doc_a JOIN ds sb ON sb.doc_id = doc_b "
        f"WHERE {lsh_jac} >= {LSH_JACCARD_T}",
        # near-dup GROUPS: the verified LSH pair list (same CTEs as
        # minhash_lsh) closed transitively via a recursive CTE, each
        # doc labeled with the min doc_id reachable — the DuckDB twin
        # of connected_components' min-label propagation
        "dedup_groups": f"WITH RECURSIVE s0 AS (SELECT doc_id, {shingles} AS sh FROM documents), "
        f"sig AS (SELECT doc_id, {mh_cols} FROM s0), "
        "cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b "
        "ON a.doc_id < b.doc_id AND ((a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1) "
        "OR (a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3))), "
        "ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM s0), "
        "e AS (SELECT doc_a, doc_b "
        "FROM cand JOIN ds sa ON sa.doc_id = doc_a JOIN ds sb ON sb.doc_id = doc_b "
        f"WHERE {lsh_jac} >= {LSH_JACCARD_T}), "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM e "
        "UNION SELECT doc_b, doc_a FROM e), "
        "reach(node, r) AS (SELECT doc_id, doc_id FROM documents "
        "UNION SELECT reach.node, edges.dst FROM reach "
        "JOIN edges ON reach.r = edges.src) "
        "SELECT node AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY node",
    }
