"""Deterministic synthetic fixtures for recall/latency evaluation.

The driver testdata's embeddings are i.i.d.-random, hence near-orthogonal:
every vector's neighbors sit close to the coarse quantizer's decision
boundaries, so measured ANN recall there is a pessimistic floor
(SCALE.md §ANN caveat, VERDICT r2 item 7). Real corpora (text/image
embeddings) are CLUSTERED — neighbors share a cluster and coarse probes
recover them — so recall claims need both fixtures: the driver corpus as
the adversarial floor, this one as the representative case.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from querysight_spark.sources.dbt_catalog import local_frame


def make_clustered_embeddings(
    spark: SparkSession,
    n: int = 2000,
    dim: int = 64,
    n_clusters: int = 32,
    sigma: float = 0.25,
    seed: int = 42,
) -> DataFrame:
    """(vec_id, embedding float[]): unit vectors in ``n_clusters`` Gaussian
    bumps around random unit centers. ``sigma`` sets intra-cluster spread
    relative to the unit sphere: 0.25 keeps a point's true top-k inside
    its own cluster with high probability while leaving enough overlap
    that a bad index still loses recall (the fixture must be able to
    fail). Same schema as the driver's embeddings table."""
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.randint(0, n_clusters, size=n)
    X = centers[assign] + sigma * rng.randn(n, dim)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(n)]
    return local_frame(spark, rows, "vec_id int, embedding array<float>")
