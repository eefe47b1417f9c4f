"""Lloyd's k-means with the reference's semantics.

This reproduces the *intended* semantics of the reference MapReduce job
(LucaArduini/k-means_in_MapReduce,
``kmeans/src/main/java/it/unipi/hadoop/KMeans.java``):

- random-k-rows init, seeded (reference C1, ``KMeans.java:276-312`` — the
  reference's ``Random`` is unseeded; we take an explicit seed so runs are
  deterministic and testable)
- per-row nearest-centroid assignment with lowest-index tie-break
  (``Point.java:57-71``)
- per-cluster (sum, count) clustering feature -> mean
  (``ClusteringFeature.java:8-70``)
- convergence when Σ_i ‖c_i_old − c_i_new‖₂ < epsilon (sum over clusters of
  L2 movement — reference C3, ``KMeans.java:206-213``)
- empty-cluster policy: discard ALL centroids and re-sample k fresh ones
  (reference C4, ``KMeans.java:167-171``)

:func:`arrow_combiner` is the reference's in-mapper combiner
(``KMeans.java:33-67``) over Arrow batches. It is every per-batch Lloyd
step in the package: :func:`fit` runs it as its loop job, and
:func:`cluster_features_arrow` runs it for one round, which
``stream_kmeans_scoring`` calls once per micro-batch. The same step as a
DataFrame of Catalyst expressions, :func:`cluster_features` over
:func:`assign_clusters`, serves ``__spark_entry__.entry``, the
text-egress query and the assignment queries, where the DuckDB oracle
checks it.

Scale design (100 TB, 1000 executors):
- the input is cached once and re-scanned per round (the canonical
  Spark-vs-MapReduce win; the reference re-reads HDFS every iteration,
  ``KMeans.java:147``); an input the caller already cached is read
  through its cache. On a real cluster use ``StorageLevel.MEMORY_AND_DISK``
  (default for ``DataFrame.cache``) so partitions spill instead of OOM.
  The init sample scans every partition, so that one job fills the cache,
  counts the rows and checks arity and NULL vectors (observed metrics):
  no separate count or validation job.
- the loop runs one Arrow task per 128 MiB of cached vectors, the
  reference's one map task per HDFS block (:func:`_iteration_partitions`).
  Over several tasks each round is one Spark job, as the reference runs
  one MapReduce job per iteration (``KMeans.java:130-187``). When the
  vectors fit one task, that task keeps its decoded batches and runs
  every remaining round itself, so the whole fit is two jobs (sample,
  loop): per-job scheduling and planning, not the kernel, dominate a
  round at that size. The fit sets no session conf: AQE stays as the
  caller set it, and only the rare grow-and-cache path in :func:`fit` has
  an exchange for it to run as jobs of their own.
- each batch's step is two GEMMs: the distances by the norm expansion
  ‖x‖²−2x·Cᵀ+‖c‖² (‖x‖² computed once per decoded batch) and the
  per-cluster sums as a k×batch one-hot times the batch, both
  O(batch·k) memory.
- centroids travel as a k×d constant in the task closure; each Arrow batch
  returns at most k (count, sum) rows per round, so driver traffic is
  O(rounds·batches·k·d) doubles, never O(n·d) (the reference's init reads
  the whole dataset into the driver, ``KMeans.java:292-298``; we take a
  distributed top-k sample). The driver replays every returned round
  with the task's own merge-and-mean, and stays the only authority over
  convergence and re-init.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import nearest_centroid


@dataclass
class KMeansConfig:
    """Engine analogue of the reference's 7 positional CLI args
    (``KMeans.java:96-109``): input/output paths become DataFrames, ``dim``
    is inferred from the data, ``num_reducer`` becomes
    ``spark.sql.shuffle.partitions`` / AQE."""

    k: int
    max_iter: int = 20
    tol: float = 1e-4  # epsilon: stop when Σ‖Δc‖₂ < tol
    seed: int = 42
    features_col: str = "embedding"
    # fit runs one loop, the Arrow in-mapper combiner; "arrow" is the only
    # accepted value, kept for callers that still pass it
    method: str = "arrow"

    def __post_init__(self) -> None:
        if self.method != "arrow":
            raise ValueError(f"unknown method {self.method!r}: only 'arrow'")
        if self.k < 1:
            raise ValueError(f"k must be >= 1, got {self.k}")
        if self.max_iter < 0:
            raise ValueError(f"max_iter must be >= 0, got {self.max_iter}")


@dataclass
class KMeansModel:
    centroids: list[list[float]]  # k×d, index == cluster_id
    n_iter: int
    converged: bool
    movement_history: list[float] = field(default_factory=list)
    # k×d snapshot after every completed update step (re-init iterations
    # produce none) — k·max_iter·d doubles, driver-trivial at any data
    # scale; powers the CLI's --fidelity per-iteration output dirs
    # (reference KMeans.java:148 writes output+iter each iteration)
    centroid_history: list[list[list[float]]] = field(default_factory=list)
    reinit_count: int = 0  # empty-cluster full re-inits (reference C4)
    wall_sec: float = 0.0

    def report(self) -> dict:
        """Structured run report — the engine's C6 (the reference appends
        wall time / iterations / final error to ``outputsLog.txt``,
        ``KMeans.java:116,119-127,189-193``; we return JSON-able data
        instead of a side-effect log)."""
        return {
            "k": len(self.centroids),
            "dim": len(self.centroids[0]) if self.centroids else 0,
            "iterations": self.n_iter,
            "converged": self.converged,
            "final_movement": (
                self.movement_history[-1] if self.movement_history else None
            ),
            "movement_history": list(self.movement_history),
            "empty_cluster_reinits": self.reinit_count,
            "wall_sec": self.wall_sec,
            "sec_per_iter": (
                self.wall_sec / self.n_iter if self.n_iter else None
            ),
        }


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    features_col: str = "embedding",
    output_col: str = "cluster_id",
) -> DataFrame:
    """Nearest-centroid assignment (reference J1/T1/F1) as a narrow map —
    no shuffle, whole-stage-codegen'd."""
    return df.withColumn(output_col, nearest_centroid(features_col, centroids))


def cluster_features(
    assigned: DataFrame,
    features_col: str = "embedding",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Per-cluster ClusteringFeature -> (cluster_id, num_points, centroid).

    Plan shape (SURVEY A2's named strategy): ``posexplode`` the vector to
    (cluster, dim, v) rows, then ONE hash-aggregate pair over the
    (cluster, dim) grid — partial (sum, count) per task, exchange
    O(tasks·k·d), final merge; a second micro-aggregate reassembles the
    k·d grid into k centroid arrays (its exchange carries exactly k·d
    rows — size-independent of n, free at any scale). The mean is
    sum/count per dimension exactly as ``ClusteringFeature.computeMean``
    (``ClusteringFeature.java:60-70``). Empty clusters simply produce no
    row (no ``Double.MAX_VALUE`` sentinel — detected by the caller as a
    missing cluster_id, reference A7).

    Why not ``d`` separate ``avg(col[i])`` aggregate buffers (the previous
    form): measured 2x slower at n=100k, d=64 — 64 wide agg buffers with
    per-buffer array indexing lose to one tight (cluster, dim) hash-agg
    over exploded rows, and the wide form's generated code grows with d
    while this plan is d-independent: arity comes from the data itself.

    Data-model contract (the reference's, SURVEY §1.3): vectors are
    FIXED-ARITY and NON-NULL — no null elements, no empty arrays. Under
    that contract this plan is value-identical to per-dim ``avg``; outside
    it the semantics differ (``posexplode`` drops empty-array rows from
    num_points and the per-dim divisor counts positions, not non-nulls),
    matching the reference, which has no null handling at all
    (a malformed point kills the job, ``KMeans.java:269``).
    """
    exploded = assigned.select(
        cluster_col, F.posexplode(features_col).alias("_dim", "_v")
    )
    grid = exploded.groupBy(cluster_col, "_dim").agg(
        F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    return (
        grid.groupBy(cluster_col)
        .agg(
            F.max("_n").alias("num_points"),
            F.array_sort(
                F.collect_list(
                    F.struct("_dim", (F.col("_s") / F.col("_n")).alias("_m"))
                )
            ).alias("_pairs"),
        )
        .select(
            cluster_col,
            "num_points",
            F.col("_pairs._m").alias("centroid"),
        )
    )


def _build_merge_step():
    """The arithmetic between two Lloyd rounds as nested functions: the
    task closure of :func:`arrow_combiner` captures them by value
    (cloudpickle ships nested functions whole; a module-level function
    would pickle by reference and fail on executors without this package),
    and :func:`fit` calls the very same functions, so the task and the
    driver derive centroids and movement with one arithmetic."""

    def merge_means(parts):
        """Σn and Σs per cluster over ``(cluster_id, n, s)`` partials, added
        in the order given, then the mean (``ClusteringFeature.java:60-70``):
        ``[(cluster_id, n, mean)]`` for the non-empty clusters, by id."""
        import numpy as np

        acc = {}
        for c, n, s in parts:
            s = np.asarray(s, dtype=np.float64)
            acc[c] = (acc[c][0] + n, acc[c][1] + s) if c in acc else (n, s)
        return [(int(c), int(n), s / n) for c, (n, s) in sorted(acc.items())]

    def movement(old, new):
        """Σ over clusters of per-centroid L2 movement (reference C3
        exactly: sum, not max, not squared — ``KMeans.java:206-213``)."""
        total = 0.0
        for a, b in zip(old, new):
            total += sum((x - y) ** 2 for x, y in zip(a, b)) ** 0.5
        return total

    return merge_means, movement


_merge_means, _movement = _build_merge_step()


def arrow_combiner(centroids: list[list[float]], rounds: int = 1,
                   tol: float = 0.0):
    """The per-task body of the Lloyd loop: a function from an iterator of
    Arrow batches (one list<double> column) to per-batch
    ``(cluster_id, n, s, round)`` partial batches, at most k rows each.
    Callable on the driver as well.

    With ``rounds == 1`` it streams: each batch is decoded, reduced and
    emitted before the next is read. With more rounds the task decodes its
    batches once, keeps them, and runs up to ``rounds`` Lloyd steps over
    them: after each round it merges the round's partials in batch order
    into the next centroids with the driver's own :func:`_merge_means`.
    It stops early after a round that leaves a cluster empty (the driver
    re-samples, reference C4) or moves the centroids by Σ‖Δc‖ < ``tol``.
    The early stop only saves work: the driver replays every round it is
    sent and drops the ones it would not reach.

    Per batch, ``‖x‖²`` is computed once when the batch is decoded, and
    the per-cluster sums are one GEMM, a k×batch one-hot times the batch
    (the same O(batch·k) size as the distance matrix). They differ from an
    ``np.add.at`` scatter by rounding only, since BLAS adds in another
    order, and are the same bits on every call.

    Exact-duplicate centroid rows collapse to their first occurrence
    before the GEMM, and the argmin's columns map back to original ids.
    Multithreaded BLAS may round two identical columns of ``X @ Cᵀ``
    differently, which would put a point on the higher-index duplicate;
    the reference's rule is the lowest index (``Point.java:65``), and the
    C4 re-init needs duplicate init rows to leave one cluster empty. With
    distinct centroids the GEMM input is ``C`` itself, so results are
    unchanged bit for bit.
    """
    import numpy as np

    C0 = np.asarray(centroids, dtype=np.float64)
    k, d = C0.shape
    merge_means, movement = _merge_means, _movement  # nested: by value

    # Self-contained closure (cloudpickle ships it by value — executor
    # Python workers don't have this package on sys.path).
    def partial_cf(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def decode(b):
            # refuse what reshape would silently re-slice or turn into NaN
            col = b.column(0)
            flat = col.flatten()
            lo, hi = pc.min_max(pc.list_value_length(col)).values()
            if col.null_count or flat.null_count or (
                b.num_rows and not lo.as_py() == hi.as_py() == d
            ):
                raise ValueError(
                    f"a batch holds {col.null_count} NULL vector(s), "
                    f"{flat.null_count} NULL element(s) and sizes {lo}..{hi}"
                    f", not d={d}"
                )
            X = (
                flat
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(b.num_rows, d)
            )
            return X, (X * X).sum(1)[:, None]

        xs = (decode(b) for b in batches)
        if rounds > 1:
            xs = list(xs)  # decoded once, re-read every round
        ids = np.arange(k)[:, None]
        C = C0
        for r in range(rounds):
            # first occurrence of each distinct row, in original order
            first = np.sort(np.unique(C, axis=0, return_index=True)[1])
            U = C[first]
            un2 = (U * U).sum(axis=1)
            parts = []
            for X, x2 in xs:
                d2 = x2 - 2.0 * (X @ U.T) + un2[None, :]
                cid = first[d2.argmin(1)]
                counts = np.bincount(cid, minlength=k)
                sums = (cid == ids).astype(np.float64) @ X  # k×batch one-hot
                nz = np.nonzero(counts)[0]
                parts.extend(zip(nz, counts[nz], sums[nz]))
                yield pa.RecordBatch.from_pydict(
                    {
                        "cluster_id": pa.array(nz.astype(np.int32)),
                        "n": pa.array(counts[nz].astype(np.int64)),
                        "s": pa.array(sums[nz].tolist(), type=pa.list_(pa.float64())),
                        "round": pa.array(np.full(len(nz), r, np.int32)),
                    }
                )
            if r + 1 == rounds:
                return
            means = merge_means(parts)
            if len(means) < k:
                return  # an empty cluster: the driver re-samples
            new = np.stack([m for _c, _n, m in means])
            if movement(C.tolist(), new.tolist()) < tol:
                return
            C = new

    return partial_cf


def _lloyd_job(points: DataFrame, centroids: list[list[float]], rounds: int,
               tol: float) -> list[list[tuple]]:
    """One Spark job over the one-column ``points``: every task runs
    :func:`arrow_combiner` for up to ``rounds`` Lloyd steps. Returns each
    round the tasks ran, in order, as :func:`_merge_means` of its partials
    in collect order (task, then batch): ``[(cluster_id, n, mean)]``."""
    by_round: list[list] = []
    for r in points.mapInArrow(
        arrow_combiner(centroids, rounds, tol),
        "cluster_id int, n long, s array<double>, round int",
    ).collect():
        while len(by_round) <= r["round"]:
            by_round.append([])
        by_round[r["round"]].append((r["cluster_id"], r["n"], r["s"]))
    return [_merge_means(parts) for parts in by_round]


def cluster_features_arrow(
    points: DataFrame,
    centroids: list[list[float]],
    features_col: str = "features",
) -> list[tuple[int, int, list[float]]]:
    """One Lloyd iteration as an Arrow-batched NumPy in-mapper combiner.

    This is the reference's mapper verbatim in dataflow shape
    (``KMeans.java:33-67``: k-slot accumulate per task, emit k partials)
    but vectorized: each Arrow batch computes the full n×k squared-distance
    matrix via the ‖x‖²−2x·Cᵀ+‖c‖² expansion (the same norm trick MLlib
    uses), sums each cluster's points with one one-hot GEMM, and emits
    per-cluster (count, sum) partials — O(batches·k·d) shuffle-free
    output, merged in the driver (k·d doubles). Batches stream through
    the task; none is held. One call is one Spark job over
    ``points``' own partitioning: ``stream_kmeans_scoring``'s
    micro-batches, and the fit's loop when it runs over several tasks.

    Returns [(cluster_id, num_points, mean_vector)] for non-empty clusters.
    ``np.argmin`` takes the first minimum — the reference's lowest-index
    tie-break (``Point.java:65``); exact-duplicate centroids collapse to
    their first occurrence first (:func:`arrow_combiner`).

    Uses ``mapInArrow`` rather than ``mapInPandas``: the Arrow list column
    flattens to the dense n×d matrix without the per-row ``tolist()``
    boxing of the pandas path (measured ~20% faster per iteration at
    n=100k, d=64).
    """
    rounds = _lloyd_job(points.select(features_col), centroids, 1, 0.0)
    return [(c, n, m.tolist()) for c, n, m in (rounds[0] if rounds else [])]


def sample_initial_centroids(
    df: DataFrame, k: int, seed: int, features_col: str = "embedding"
) -> list[list[float]]:
    """Seeded distributed sample of k rows as initial centroids
    (reference C1 without the O(n) driver read).

    Top-k by an iid uniform key == a uniform sample without replacement,
    and ``ORDER BY rand LIMIT k`` plans TakeOrderedAndProject: each
    partition keeps its local top-k, the driver merges #partitions·k
    candidate rows — ONE pass, no global sort, no count job
    (``rdd.takeSample`` runs a count plus a sampled collect: 2 jobs)."""
    rows = (
        df.select(features_col)
        .orderBy(F.rand(seed))
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"dataset has fewer than k={k} rows")
    if any(r[0] is None for r in rows):
        raise ValueError("the sample drew a NULL vector")
    return [list(r[0]) for r in rows]


def _iteration_partitions(bytes_est: int) -> int:
    """Partition count for the cached iteration loop: one Arrow task per
    128 MiB of vectors, as the reference runs one map task per 128 MB HDFS
    split (``KMeans.java:33-67``). It also sets how many Lloyd rounds one
    Spark job runs:

    - one task (≤128 MiB, e.g. 20k or 100k points at d=64): the task keeps
      its decoded batches and loops every remaining round, so a fit is the
      init sample (which also counts the rows) and one loop job, plus one
      loop job per C4 re-init, not one job per round. ``fit`` coalesces
      straight to one task without reading the input's partition count.
      On a 4-core VM (``local[4]``) a job costs ~0.1 CPU-s of scheduling
      and planning whatever its size, while the kernel takes ~2.5 ms per
      5,000 rows at d=64, k=8 and a Python task ~0.02 CPU-s with the
      local worker daemon;
    - several tasks: one job per round, the reference's one MapReduce job
      per iteration, since each round's centroids need every task's
      partials.

    At scale this is the scan's own split (100 TB -> bytes/128 MiB tasks),
    so no partition outgrows an executor, and a looping task holds at most
    its own 128 MiB of decoded points. The trade-off: on a many-core
    cluster a mid-size cache runs as fewer tasks than cores (1 GB as 8).
    """
    import math

    return max(1, math.ceil(bytes_est / (128 * 1024 * 1024)))


def _check_vectors(seen: dict) -> int:
    """The input contract on the init sample's observed metrics; returns
    the row count."""
    if seen["n"] == 0:
        raise ValueError("empty dataset")
    if seen["nulls"]:
        raise ValueError(f"{seen['nulls']} of {seen['n']} vectors are NULL")
    if seen["lo"] != seen["hi"]:
        raise ValueError(
            f"vectors are not fixed-arity: sizes {seen['lo']}..{seen['hi']}"
        )
    return seen["n"]


def fit(df: DataFrame, config: KMeansConfig) -> KMeansModel:
    """Iterate-until-converged driver loop (reference C2-C5).

    ``max_iter`` counts actual iterations (the reference's
    ``while (iter < MAX_ITER)`` with ``iter=1`` runs at most MAX_ITER-1
    jobs, ``KMeans.java:113,130`` — a documented off-by-one we do NOT
    reproduce).

    The driver is the only authority over the result: each loop job
    returns the per-round partials its task ran, and the loop body below
    replays them in order (mean, movement, history, the C4 re-init, the
    tol stop), dropping any round past the point where it stops. A
    one-task fit therefore gives the same model, bit for bit, as one job
    per round.

    A cached ``df`` (``df.storageLevel`` set) is read through its cache;
    any other input is cached for the fit and released afterwards. The
    caller's cache is never released.

    Input contract (the reference's, SURVEY §1.3): fixed-arity, non-NULL
    vectors. The init sample's job checks it: ``ValueError`` names the
    count of NULL vectors, or the range of vector sizes, before any loop
    job runs. A NULL element is refused by the loop's own kernel
    (:func:`arrow_combiner`), on the executor.

    Jobs: the init sample, which also fills the cache, counts the rows and
    checks the contract (no separate count job), then the loop. A
    one-task fit runs 2 jobs,
    plus one loop job per C4 re-init; a fit over several tasks runs one
    loop job per round. ``fit`` sets no session conf, so concurrent fits
    on one SparkSession do not interfere, and the session's other queries
    keep its AQE setting.
    """
    import time

    from pyspark.sql import Observation
    from pyspark.storagelevel import StorageLevel

    t_start = time.monotonic()
    base = df.select(F.col(config.features_col).alias("features"))
    # The try/finally opens BEFORE the cache: a failure anywhere (empty
    # dataset, fewer-than-k rows in the init sample, a dying executor)
    # must still release storage — embedded/notebook sessions outlive
    # this call.
    owned = []  # caches this fit made, released on exit
    history: list[float] = []
    centroid_history: list[list[list[float]]] = []
    reinits = 0
    converged = False
    n_iter = 0

    try:
        if df.storageLevel == StorageLevel.NONE:
            base = base.cache()
            owned.append(base)
        # The init sample is the fit's first job: its TakeOrderedAndProject
        # scans every partition, so it also fills the cache and, through
        # the observation, counts the rows and NULL vectors and takes the
        # size range (a NULL element would cost an `exists` lambda per
        # row; the kernel refuses it). The rows and the draw are those
        # of sample_initial_centroids(base, ...): observe is a narrow node,
        # so F.rand(seed) sees the same partitions in the same order. Its
        # k rows also give `dim` for the sizing below.
        seen = Observation()
        vec = F.col("features")
        observed = base.observe(
            seen,
            F.count(F.lit(1)).alias("n"),
            F.count_if(vec.isNull()).alias("nulls"),
            F.min(F.size(vec)).alias("lo"),
            F.max(F.size(vec)).alias("hi"),
        )
        try:
            centroids = sample_initial_centroids(
                observed, config.k, config.seed, "features"
            )
        except ValueError:
            # raised only after the sample's job ran, so the observation is in
            _check_vectors(seen.get)
            raise
        n = _check_vectors(seen.get)
        dim = len(centroids[0])

        # Re-tile the cached points to one task per 128 MiB (see
        # _iteration_partitions). Shrinking is a narrow coalesce straight
        # off the cache. Growing re-caches a repartitioned copy so the loop
        # doesn't re-shuffle every iteration; it runs only when cached
        # partitions average over 128 MiB (e.g. one non-splittable .gz text
        # file), and with AQE on it costs 3 + n_iter jobs per fit: the
        # repartition's map stage and the copy's cache fill run as jobs of
        # their own once. `base` stays cached beside it because sampling
        # runs against `base`: F.rand(seed) depends on partitioning, so the
        # same df and seed give the same init as sample_initial_centroids.
        target = _iteration_partitions(n * dim * 8)
        cur = base.rdd.getNumPartitions() if target > 1 else None
        if target == 1 or target < cur:
            points = base.coalesce(target)
        elif target > cur:
            # no materializing count: the first loop job fills this cache
            points = base.repartition(target).cache()
            owned.append(points)
        else:
            points = base

        while n_iter < config.max_iter and not converged:
            rounds = config.max_iter - n_iter if target == 1 else 1
            for means in _lloyd_job(points, centroids, rounds, config.tol):
                n_iter += 1
                if len(means) < config.k:
                    # empty cluster -> discard all, re-sample fresh k (C4);
                    # new seed per event keeps the run deterministic. The
                    # task stopped at this round too: the next job starts
                    # from the fresh sample.
                    reinits += 1
                    centroids = sample_initial_centroids(
                        base, config.k, config.seed + 1000 * reinits, "features"
                    )
                    break
                # centroid index integrity (reference C5, KMeans.java:252-257)
                ids = [c for c, _n, _m in means]
                assert ids == list(range(config.k)), ids

                new_centroids = [m.tolist() for _c, _n, m in means]
                move = _movement(centroids, new_centroids)
                history.append(move)
                centroid_history.append([list(c) for c in new_centroids])
                centroids = new_centroids
                if move < config.tol:
                    converged = True
                    break
    finally:
        for cached in owned:
            cached.unpersist()

    return KMeansModel(
        centroids=centroids,
        n_iter=n_iter,
        converged=converged,
        movement_history=history,
        centroid_history=centroid_history,
        reinit_count=reinits,
        wall_sec=time.monotonic() - t_start,
    )

