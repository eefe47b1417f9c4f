"""Production k-means path: pyspark.ml.clustering.KMeans.

Per BASELINE.json ("spark_approach: MLlib KMeans clustering") this is the
scale path: MLlib's implementation broadcasts centers, uses the
‖a−b‖² = ‖a‖²+‖b‖²−2a·b norm shortcut with BLAS-backed per-partition
evaluation (the same shortcut ``kmeans_df.fit``'s Arrow loop takes), and
supports k-means|| init.

Documented fidelity deltas vs the reference (SURVEY §2.11 C3/C4):
- MLlib stops when EVERY center moves less than ``tol`` in squared
  distance; the reference stops on Σ‖Δc‖ < ε. Use ``operators.kmeans_df``
  when reference-exact convergence matters.
- MLlib keeps a stale center on an empty cluster; the reference re-inits.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class MLlibKMeansResult:
    centroids: list[list[float]]
    n_iter: int
    wcss: float  # trainingCost: sum of squared distances to nearest center
    model: object  # pyspark.ml.clustering.KMeansModel


def fit_mllib(
    df: DataFrame,
    k: int,
    max_iter: int = 20,
    seed: int = 42,
    tol: float = 1e-4,
    init_mode: str = "k-means||",
    features_col: str = "embedding",
) -> MLlibKMeansResult:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = df.withColumn("__features", array_to_vector(F.col(features_col)))
    model = KMeans(
        k=k,
        maxIter=max_iter,
        seed=seed,
        tol=tol,
        initMode=init_mode,
        featuresCol="__features",
        predictionCol="cluster_id",
    ).fit(vecs)
    summary = model.summary
    return MLlibKMeansResult(
        centroids=[list(c) for c in model.clusterCenters()],
        n_iter=summary.numIter,
        wcss=summary.trainingCost,
        model=model,
    )


def transform_mllib(result: MLlibKMeansResult, df: DataFrame,
                    features_col: str = "embedding") -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    vecs = df.withColumn("__features", array_to_vector(F.col(features_col)))
    return result.model.transform(vecs).drop("__features")


def fit_bisecting(
    df: DataFrame,
    k: int,
    max_iter: int = 20,
    seed: int = 42,
    features_col: str = "embedding",
):
    """Hierarchical divisive clustering (MLlib BisectingKMeans) — the
    'clustering beyond Lloyd' surface (SURVEY §2.12): same vector column
    contract as fit_mllib."""
    from pyspark.ml.clustering import BisectingKMeans
    from pyspark.ml.functions import array_to_vector

    vec = df.withColumn("_features", array_to_vector(F.col(features_col)))
    model = (
        BisectingKMeans(k=k, maxIter=max_iter, seed=seed, featuresCol="_features")
        .fit(vec)
    )
    return model, vec


def fit_gmm(
    df: DataFrame,
    k: int,
    max_iter: int = 20,
    seed: int = 42,
    features_col: str = "embedding",
):
    """Gaussian mixture (EM) — soft cluster assignments with per-component
    covariance; the probabilistic sibling of k-means."""
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.functions import array_to_vector

    vec = df.withColumn("_features", array_to_vector(F.col(features_col)))
    model = (
        GaussianMixture(k=k, maxIter=max_iter, seed=seed, featuresCol="_features")
        .fit(vec)
    )
    return model, vec
