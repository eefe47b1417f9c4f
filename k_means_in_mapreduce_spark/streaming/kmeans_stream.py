"""Streaming (mini-batch) k-means — the Structured-Streaming form of the
reference's iterative batch job.

The reference loops full MapReduce passes over a static dataset
(``KMeans.java:130-187``); a streaming deployment instead folds each
arriving mini-batch into the model once. MLlib has this operator only in
the deprecated DStream API (``StreamingKMeans``); here it is rebuilt on
``foreachBatch`` over the engine's own building blocks:

- per batch: one Lloyd step against the CURRENT centroids, run by the
  batch fit's own Arrow combiner (``cluster_features_arrow``): each task
  assigns its rows and emits per-cluster (count, sum) partials in one
  narrow stage with no exchange; at most k rows per Arrow batch cross to
  the driver.
- decayed update (MLlib StreamingKMeans semantics):
      n_i' = a·n_i + m_i
      c_i' = (a·n_i·c_i + s_i) / n_i'        (a = decay)
  decay=1.0 accumulates the exact running mean over everything seen;
  decay<1 exponentially forgets old data (concept drift). Empty clusters
  simply keep their centroid (no data, no movement) — the streaming
  analogue of reference A7's missing-group policy.

Driver state is O(k·d) floats — the same footprint as the batch loop; all
per-row work stays distributed. At scale the batch interval
bounds latency and the update is one tiny collect per trigger.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..operators.kmeans_df import cluster_features_arrow


@dataclass
class StreamingKMeansState:
    centroids: list[list[float]]  # k×d, index == cluster id
    weights: list[float]  # decayed point counts per cluster
    decay: float = 1.0
    n_batches: int = 0
    history: list[dict] = field(default_factory=list)  # per-batch telemetry

    @property
    def k(self) -> int:
        return len(self.centroids)

    def update(self, batch_df: DataFrame, epoch_id: int,
               features_col: str = "features") -> None:
        """Fold one mini-batch into the model (the foreachBatch body)."""
        rows = cluster_features_arrow(batch_df, self.centroids, features_col)
        # MLlib StreamingKMeans semantics: EVERY cluster's weight is
        # discounted each batch — including clusters that received no
        # points — or an intermittently-active cluster would keep its full
        # historical weight and barely move when drifted data returns
        # (forgetting, the purpose of decay<1, would silently fail).
        a = self.decay
        self.weights = [a * w for w in self.weights]
        moved = 0.0
        for i, n, mean in rows:
            m = float(n)
            w = self.weights[i]
            new_w = w + m
            old = self.centroids[i]
            new_c = [
                (w * oc + m * bm) / new_w for oc, bm in zip(old, mean)
            ]
            moved += sum((x - y) ** 2 for x, y in zip(old, new_c)) ** 0.5
            self.centroids[i] = new_c
            self.weights[i] = new_w
        self.n_batches += 1
        self.history.append(
            {
                "epoch": epoch_id,
                "batch_points": sum(n for _, n, _ in rows),
                "movement": moved,
            }
        )

    def sink(self, features_col: str = "features"):
        """``foreachBatch``-shaped callable bound to this state."""

        def _fold(batch_df: DataFrame, epoch_id: int) -> None:
            self.update(batch_df, epoch_id, features_col)

        return _fold


def streaming_kmeans(
    initial_centroids: list[list[float]], decay: float = 1.0
) -> StreamingKMeansState:
    """Start a streaming k-means model from explicit initial centroids
    (at deployment: a seeded sample of the first batch, or a batch-fit
    warm start)."""
    if not initial_centroids:
        raise ValueError("k must be >= 1")
    return StreamingKMeansState(
        centroids=[list(map(float, c)) for c in initial_centroids],
        weights=[0.0] * len(initial_centroids),
        decay=decay,
    )
