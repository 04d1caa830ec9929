"""LSH ANN quality: recall vs the brute-force exact top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from geowave_spark.operators.similarity import (
    cosine_near_dup_pairs,
    dot_col,
    topk_brute,
    topk_lsh,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_lsh_topk_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") % 50 == 0)
    k = 5
    exact = {
        (r.query_id, r.neighbor_id) for r in topk_brute(emb, q, k).collect()
    }

    def recall(n_planes: int) -> float:
        approx = {
            (r.query_id, r.neighbor_id)
            for r in topk_lsh(spark, emb, q, k, n_planes=n_planes).collect()
        }
        return len(exact & approx) / len(exact)

    # n_planes is the recall/throughput knob: fewer planes -> bigger
    # buckets -> higher recall (and more candidates). The synthetic
    # embeddings are weakly clustered, so only the coarse setting has a
    # statistically stable floor; the fine setting must not beat it.
    r2, r8 = recall(2), recall(8)
    assert r2 >= 0.5, (r2, r8)
    assert r2 >= r8, (r2, r8)


def test_cos_dedup_verified_pairs_are_exact_true(spark, sf_dir):
    """Soundness on real fixture data: every emitted pair passes the
    exact threshold (verification is exact, so false positives are
    impossible by construction)."""
    emb = _emb(spark, sf_dir)
    t = 450
    lsh_pairs = {
        (r.id_a, r.id_b)
        for r in cosine_near_dup_pairs(emb, threshold_x1000=t).collect()
    }
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact_pairs = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.floor(dot_col(F.col("va"), F.col("vb")) * 1000) >= t)
        .select("id_a", "id_b")
        .collect()
    }
    assert lsh_pairs <= exact_pairs


def test_cos_dedup_finds_planted_near_dups(spark):
    """Recall on planted near-duplicates (cosine ≥ 0.99 — the regime
    LSH dedup targets): ≥70%% of planted pairs must surface. The sf
    fixture's max pairwise cosine is ~0.45, far below near-dup, so the
    recall property needs this controlled fixture."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n_base = 64, 20
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        # noise norm ≈ 0.005·√64 = 0.04 → cosine ≈ 1/√(1+0.0016) ≈ 0.999
        dup = v + 0.005 * rng.standard_normal(dim)
        dup /= np.linalg.norm(dup)
        rows.append((i * 2, [float(x) for x in v]))
        rows.append((i * 2 + 1, [float(x) for x in dup]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in cosine_near_dup_pairs(df, threshold_x1000=990).collect()
    }
    planted = {(i * 2, i * 2 + 1) for i in range(n_base)}
    found = len(got & planted) / n_base
    assert found >= 0.7, (found, sorted(got)[:5])


def test_ivf_topk_recall_on_clustered_vectors(spark):
    """IVF with nprobe << nlist achieves high recall on clustered data
    (the regime it exists for), and nprobe == nlist is exact."""
    import numpy as np
    import pandas as pd

    from geowave_spark.operators.similarity import topk_brute, topk_ivf

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    rows = []
    for i in range(500):
        v = centers[i % 10] + 0.05 * rng.standard_normal(64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        "vec_id long, embedding array<double>",
    )
    queries = emb.where(F.col("vec_id") % 50 == 0)
    k = 5

    exact = {
        (r.query_id, r.neighbor_id)
        for r in topk_brute(emb, queries, k).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in topk_ivf(emb, queries, k, nlist=10, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall

    full = {
        (r.query_id, r.neighbor_id)
        for r in topk_ivf(emb, queries, k, nlist=10, nprobe=10).collect()
    }
    assert full == exact
