"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``k_means_in_mapreduce_spark`` package; this
module just re-exports its registry.

Reading CORRECTNESS_r*.json: 9 queries intentionally have NO oracle_sql
entry (``err: no_oracle``) because an approximate ANN/LSH/sketch result
has no ANSI-SQL equivalent. Each is BOUND by an oracle-checked companion
query in the same file — a ``no_oracle`` row is not an error when its
companion is hash-green:

    ann_ivf_topk                  -> ann_ivf_recall_at_10
    ann_lsh_topk                  -> ann_lsh_recall_at_10
    ann_ivf_knn_join              -> ann_ivf_knn_join_recall
    dedup_minhash_lsh             -> dedup_minhash_lsh_recall
    dedup_minhash_mllib           -> dedup_minhash_mllib_recall
    dedup_simhash                 -> dedup_simhash_recall
    dedup_embedding_cosine_ivf    -> dedup_embedding_cosine_ivf_recall
                                     + dedup_embedding_cosine_ivf_precision
    events_distinct_users_hll     -> events_distinct_users_hll_bound
    lineitem_price_quantiles_approx -> lineitem_price_quantiles_bound

(Also tabulated in README.md "Approximate queries and their binding
companions".)
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from k_means_in_mapreduce_spark import registry  # noqa: E402
from k_means_in_mapreduce_spark.operators import kmeans_df as K  # noqa: E402
from k_means_in_mapreduce_spark.sources import load_table  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: fixed-centroid nearest-
    centroid assignment + per-cluster ClusteringFeature aggregation — the
    reference's one dataflow (scan -> assign -> partial agg -> shuffle ->
    mean) as a single declarative plan."""
    sf_dir = "/root/testdata/sf0.001"
    emb = load_table(spark, sf_dir, "embeddings")
    cents = registry._fixed_centroids(spark, sf_dir)
    assigned = K.assign_clusters(emb, cents)
    return K.cluster_features(assigned)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.ordered_queries()


def oracle_sql() -> dict[str, str]:
    return registry.ordered_oracles()
