"""Quality tests for the exact embedding operators on planted structure.

The driver's embeddings fixture is isotropic noise (measured: same-label and
cross-label mean cosine both ~0.000, true-NN shares label at chance), so the
contract queries over it only pin Spark ≡ DuckDB on the ALGORITHM; quality
is pinned here on planted clusters instead.
"""

import numpy as np
import pytest


def _clustered(n_clusters=10, per_cluster=30, dim=32, noise=0.15, seed=7):
    rng = np.random.default_rng(seed)
    C = rng.normal(size=(n_clusters, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    X, cells = [], []
    for c in range(n_clusters):
        pts = C[c] + noise * rng.normal(size=(per_cluster, dim))
        X.append(pts)
        cells += [c] * per_cluster
    return np.vstack(X), np.array(cells), C


@pytest.fixture(scope="module")
def clustered_df(spark):
    X, cells, C = _clustered()
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, C, X


def test_embedding_bucket_guard_bounds_identical_crowds(spark):
    """A crowd of identical embeddings shares one sign code: the default
    bucket-frequency guard drops the over-full bucket from candidate
    generation (identical-vector crowds belong to exact dedup), while a
    small bucket's near-dup pair is still verified."""
    import pyspark.sql.functions as F

    from languagedetection_spark.operators.similarity import (
        dedup_embedding_cosine_df,
    )

    crowd_vec = [1.0] * 8 + [0.5] * 8
    near = [-1.0] * 8 + [0.5] * 8
    near2 = [-1.0] * 8 + [0.51] * 8
    rows = [(i, crowd_vec) for i in range(500)]
    rows += [(9000, near), (9001, near2)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    out = dedup_embedding_cosine_df(df, threshold=0.9).collect()
    pairs = {(r["vec_a"], r["vec_b"]) for r in out}
    assert (9000, 9001) in pairs
    assert not any(a < 500 and b < 500 for a, b in pairs)
    # cap=None restores the exhaustive small-corpus behavior
    full = dedup_embedding_cosine_df(df, threshold=0.9,
                                     max_bucket_freq=None).collect()
    assert any(r["vec_a"] < 500 and r["vec_b"] < 500 for r in full)


def test_kmeans_recovers_planted_clusters(clustered_df):
    """Quantized Lloyd on well-separated planted clusters: points of one
    planted cluster must co-cluster (purity >= 0.9 with k = the planted
    count), and two update rounds must not increase total within-cluster
    distance vs zero rounds."""
    from collections import Counter

    from languagedetection_spark.operators.similarity import (
        quantized_kmeans_df,
    )

    df, C, X = clustered_df
    out = quantized_kmeans_df(df, k=10, iters=2).collect()
    assert len(out) == len(X)
    true = {i: i // 30 for i in range(len(X))}
    by_cluster: dict[int, Counter] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], Counter())[
            true[r["vec_id"]]] += 1
    purity = sum(c.most_common(1)[0][1] for c in by_cluster.values())
    assert purity / len(X) >= 0.9
    d0 = sum(r["sq_dist"]
             for r in quantized_kmeans_df(df, k=10, iters=0).collect())
    d2 = sum(r["sq_dist"] for r in out)
    assert d2 <= d0


def test_semdedup_finds_planted_near_dups(spark):
    """A vector and its tiny perturbation must land in one k-means cluster
    and surface as a semantic near-dup pair; unrelated isotropic noise
    stays below the threshold."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=16)
    rows = [(0, [float(v) for v in base]),
            (1, [float(v) for v in base + 0.01 * rng.normal(size=16)])]
    rows += [(i, [float(v) for v in rng.normal(size=16)])
             for i in range(2, 40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from languagedetection_spark.operators.similarity import (
        semdedup_pairs_df,
    )

    pairs = {(r["vec_a"], r["vec_b"]): r["sim"]
             for r in semdedup_pairs_df(df, threshold=0.9, k=4).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.99
    assert all(p == (0, 1) for p in pairs)
