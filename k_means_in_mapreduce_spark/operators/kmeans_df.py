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
(``KMeans.java:33-67``) over Arrow batches. Its round loop,
:func:`_lloyd_rounds`, is every per-batch Lloyd step in the package:
:func:`fit` runs it in its draw job's task or as its loop jobs, and
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
- the fit's first job is a draw (:func:`_draw_job`): the k rows of
  smallest iid ``F.rand(seed)`` key, and the row count, NULL-vector
  count and size range, so that one job also fills the cache and checks
  the input contract: no separate count or validation job. The reference
  draws its init in the process that reads the data
  (``KMeans.java:276-312``).
- the loop runs one Arrow task per 128 MiB of vectors (``_TASK_BYTES``),
  the reference's one map task per HDFS block
  (:func:`_iteration_partitions`). Over several tasks each round is one
  Spark job, as the reference runs one MapReduce job per iteration
  (``KMeans.java:130-187``). When the plan's size estimate allows one
  task, the draw job is one Arrow task (:func:`_draw_kernel`), which
  holds its decoded batches while they stay within 128 MiB and then runs
  every round from its own draw: the whole fit is one job, plus one per
  C4 re-init, since
  per-job scheduling and planning, not the kernel, dominate a round at
  that size. A task that outgrows the limit only draws, and the loop is
  sized from the exact n·d·8. The fit sets no session conf: AQE stays as
  the caller set it, and only the rare grow-and-cache path in
  :func:`fit` has an exchange for it to run as jobs of their own.
- each batch's step is two GEMMs: the distances by the norm expansion
  ‖x‖²−2x·Cᵀ+‖c‖² (‖x‖² computed once per decoded batch) and the
  per-cluster sums as a k×batch one-hot times the batch, both
  O(batch·k) memory.
- centroids travel as a k×d constant in the task closure; each Arrow batch
  returns at most k (count, sum) rows per round, so driver traffic is
  O(rounds·batches·k·d) doubles, never O(n·d) (the reference's init reads
  the whole dataset into the driver, ``KMeans.java:292-298``; we take a
  distributed top-k draw). The driver replays every returned round
  with the task's own merge-and-mean, and stays the only authority over
  convergence and re-init.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
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


# The vectors one Arrow task holds: a fit's loop runs one task per this
# many bytes of decoded float64 vectors (n·d·8), and one task holds at
# most this many (see _iteration_partitions and _draw_kernel).
_TASK_BYTES = 128 * 1024 * 1024


def _build_kernel():
    """The per-task Lloyd arithmetic as nested functions: the task
    closures of :func:`arrow_combiner` and :func:`_draw_kernel` capture
    them by value (cloudpickle ships nested functions whole; a
    module-level function would pickle by reference and fail on executors
    without this package), and :func:`fit` calls the very same
    merge-and-mean, so the task and the driver derive centroids and
    movement with one arithmetic."""

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

    def decode(b, d):
        """The batch's first column as an n×d float64 matrix and its rows'
        ``‖x‖²``; refuses what reshape would silently re-slice or turn
        into NaN."""
        import numpy as np
        import pyarrow.compute as pc

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

    def lloyd_rounds(xs, C, rounds, tol):
        """Up to ``rounds`` Lloyd steps from centroids ``C`` over the
        decoded batches ``xs``, yielding each batch's partials as columns
        ``cluster_id, n, s, round``. Round 0 reads ``xs`` once, so one
        round streams; more rounds need ``xs`` held. Stops early after a
        round that leaves a cluster empty or moves Σ‖Δc‖ < ``tol``."""
        import numpy as np
        import pyarrow as pa

        k = len(C)
        ids = np.arange(k)[:, None]
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
                yield {
                    "cluster_id": pa.array(nz.astype(np.int32)),
                    "n": pa.array(counts[nz].astype(np.int64)),
                    "s": pa.array(sums[nz].tolist(), type=pa.list_(pa.float64())),
                    "round": pa.array(np.full(len(nz), r, np.int32)),
                }
            if r + 1 == rounds:
                return
            means = merge_means(parts)
            if len(means) < k:
                return  # an empty cluster: the driver re-draws
            new = np.stack([m for _c, _n, m in means])
            if movement(C.tolist(), new.tolist()) < tol:
                return
            C = new

    return merge_means, movement, decode, lloyd_rounds


_merge_means, _movement, _decode, _lloyd_rounds = _build_kernel()


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
    re-draws, reference C4) or moves the centroids by Σ‖Δc‖ < ``tol``.
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
    d = C0.shape[1]
    decode, lloyd_rounds = _decode, _lloyd_rounds  # nested: by value

    # Self-contained closure (cloudpickle ships it by value — executor
    # Python workers don't have this package on sys.path).
    def partial_cf(batches):
        import pyarrow as pa

        xs = (decode(b, d) for b in batches)
        if rounds > 1:
            xs = list(xs)  # decoded once, re-read every round
        for cols in lloyd_rounds(xs, C0, rounds, tol):
            yield pa.RecordBatch.from_pydict(cols)

    return partial_cf


_DRAW_SCHEMA = ("cluster_id int, n long, s array<double>, round int, "
                "key double, nulls long, lo int, hi int")


def _draw_kernel(k: int, rounds: int, tol: float):
    """The body of a one-task draw job, over Arrow batches of two
    columns: the vectors and an iid uniform key. In one pass the task

    - counts its rows and NULL vectors and takes the range of vector
      sizes: one stats row (``n``, ``nulls``, ``lo``, ``hi``);
    - keeps a running top-k of the smallest keys: the k drawn rows
      (``key``, ``s``), by key;
    - decodes and holds its batches while they are fixed-arity, non-NULL
      and ``n·d·8`` stays within ``_TASK_BYTES``.

    If it still holds every batch at the end (and has k rows), it runs up
    to ``rounds`` Lloyd rounds from its draw with the loop's
    :func:`_lloyd_rounds`, as one :func:`arrow_combiner` task would, and
    emits their partials (``cluster_id``, ``n``, ``s``, ``round``). The
    job has no other task, so its draw is the whole input's. Columns a
    row does not use are NULL. A NULL element in a held batch is refused
    on the executor, as the loop's kernel refuses it."""
    limit = _TASK_BYTES
    decode, lloyd_rounds = _decode, _lloyd_rounds  # nested: by value

    def task(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        vec = pa.list_(pa.float64())
        schema = pa.schema([
            ("cluster_id", pa.int32()), ("n", pa.int64()), ("s", vec),
            ("round", pa.int32()), ("key", pa.float64()),
            ("nulls", pa.int64()), ("lo", pa.int32()), ("hi", pa.int32()),
        ])

        def batch(**cols):  # the columns not given are NULL
            m = len(next(iter(cols.values())))
            return pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) if f.name in cols
                 else pa.nulls(m, f.type) for f in schema],
                schema=schema,
            )

        n = nulls = 0
        lo = hi = None
        top_keys, top_rows = np.empty(0), pa.array([], vec)
        held = []  # None once this task cannot loop
        for b in batches:
            col, key = b.column(0), b.column(1).to_numpy()
            n += b.num_rows
            nulls += col.null_count
            blo, bhi = (v.as_py() for v in
                        pc.min_max(pc.list_value_length(col)).values())
            if blo is not None:
                lo = blo if lo is None else min(lo, blo)
                hi = bhi if hi is None else max(hi, bhi)
            # the batch's own top-k among keys below the running k-th,
            # merged into the running top-k; ties keep the earlier row
            new = (np.flatnonzero(key < top_keys[-1]) if len(top_keys) == k
                   else np.arange(len(key)))
            new = new[np.argsort(key[new], kind="stable")[:k]]
            if len(new):
                both = np.concatenate([top_keys, key[new]])
                keep = np.argsort(both, kind="stable")[:k]
                top_keys = both[keep]
                top_rows = pa.concat_arrays(
                    [top_rows, col.take(new).cast(vec)]
                ).take(keep)
            if held is not None:
                if nulls or lo != hi or n * (hi or 0) * 8 > limit:
                    held = None  # the driver raises, or loops over tasks
                else:
                    held.append(decode(b, hi))
        yield batch(n=[n], nulls=[nulls], lo=[lo], hi=[hi])
        if len(top_keys):
            yield batch(key=top_keys, s=top_rows)
        if held is not None and n >= k:
            C0 = np.array(top_rows.to_pylist(), dtype=np.float64)
            for cols in lloyd_rounds(held, C0, rounds, tol):
                yield batch(**cols)

    return task


def _replayed(rows) -> list[list[tuple]]:
    """The round partials among ``rows``, in collect order (task, then
    batch), as one :func:`_merge_means` per round they reach:
    ``[(cluster_id, n, mean)]``."""
    by_round: list[list] = []
    for r in rows:
        while len(by_round) <= r["round"]:
            by_round.append([])
        by_round[r["round"]].append((r["cluster_id"], r["n"], r["s"]))
    return [_merge_means(parts) for parts in by_round]


def _lloyd_job(points: DataFrame, centroids: list[list[float]], rounds: int,
               tol: float) -> list[list[tuple]]:
    """One Spark job over the one-column ``points``: every task runs
    :func:`arrow_combiner` for up to ``rounds`` Lloyd steps. Returns each
    round the tasks ran, in order, as :func:`_replayed` merges it."""
    return _replayed(points.mapInArrow(
        arrow_combiner(centroids, rounds, tol),
        "cluster_id int, n long, s array<double>, round int",
    ).collect())


@dataclass
class _Draw:
    """What one draw job returns: the input's stats, its k drawn rows by
    key (fewer if it has fewer rows), and the Lloyd rounds its one task
    ran from them, as :func:`_lloyd_job` returns rounds."""

    n: int
    nulls: int
    lo: int | None
    hi: int | None
    centroids: list
    rounds: list[list[tuple]]


def _draw_job(points: DataFrame, k: int, seed: int, rounds: int,
              tol: float) -> _Draw:
    """One Spark job that draws the rows of ``ORDER BY rand(seed) LIMIT
    k`` over the one-column ``points`` and takes its stats.

    With ``rounds > 0`` it is :func:`_draw_kernel` coalesced to one task,
    which may also run the rounds. ``F.rand`` is evaluated below the
    coalesce, so each row keeps its parent partition's key.

    With ``rounds == 0`` the draw stays in the JVM, over ``points``' own
    partitions: ``ORDER BY rand LIMIT k`` plans TakeOrderedAndProject
    (each task keeps its local top-k, the driver merges #partitions·k
    rows), and observed metrics take the stats (``observe`` is a narrow
    node, so ``F.rand`` sees the same partitions). A Python task would
    read every vector only to keep k of them: at bench.py's 400k×64 row
    that draw took 0.40 s against 0.18 s (4-core VM, medians of 10)."""
    if not rounds:
        seen = Observation()
        vec = points[0]
        rows = points.observe(
            seen,
            F.count(F.lit(1)).alias("n"),
            F.count_if(vec.isNull()).alias("nulls"),
            F.min(F.size(vec)).alias("lo"),
            F.max(F.size(vec)).alias("hi"),
        ).orderBy(F.rand(seed)).limit(k).collect()
        return _Draw(**seen.get, rounds=[], centroids=[
            None if r[0] is None else list(r[0]) for r in rows
        ])
    keyed = points.select("*", F.rand(seed).alias("key")).coalesce(1)
    stats = {"n": 0, "nulls": 0, "lo": None, "hi": None}  # no partition
    drawn, parts = [], []
    for r in keyed.mapInArrow(_draw_kernel(k, rounds, tol),
                              _DRAW_SCHEMA).collect():
        if r["round"] is not None:
            parts.append(r)
        elif r["key"] is not None:  # the task emits them by key
            drawn.append(None if r["s"] is None else list(r["s"]))
        else:
            stats = {f: r[f] for f in stats}
    return _Draw(**stats, centroids=drawn, rounds=_replayed(parts))


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
    (reference C1 without the O(n) driver read): the rows of ``ORDER BY
    rand(seed) LIMIT k`` over ``df``, in that order.

    Top-k by an iid uniform key == a uniform sample without replacement.
    It is one :func:`_draw_job` without rounds over ``df``'s own
    partitions, as a fit over several tasks draws: each task keeps its
    local top-k and the driver merges #partitions·k candidate rows — ONE
    pass, no global sort, no count job (``rdd.takeSample`` runs a count
    plus a sampled collect: 2 jobs). A one-task fit draws the same rows
    in its own task."""
    got = _draw_job(df.select(features_col), k, seed, 0, 0.0)
    if got.n < k:
        raise ValueError(f"dataset has fewer than k={k} rows")
    if any(c is None for c in got.centroids):
        raise ValueError("the sample drew a NULL vector")
    return got.centroids


def _iteration_partitions(bytes_est: int) -> int:
    """Partition count for a fit's loop jobs: one Arrow task per
    ``_TASK_BYTES`` (128 MiB) of vectors, as the reference runs one map
    task per 128 MB HDFS split (``KMeans.java:33-67``). It also sets how
    many Lloyd rounds one Spark job runs:

    - one task (≤128 MiB): the task keeps its decoded batches and loops
      every remaining round. ``fit`` reaches this only when it did not
      try a one-task draw job (the plan's size estimate read over 128
      MiB, e.g. a 400k×30 text file): a fit is then the draw job and one
      loop job, plus a draw job and a loop job per C4 re-init. When the
      estimate allows it, the draw job's own task loops (:func:`fit`);
    - several tasks: one job per round, the reference's one MapReduce job
      per iteration, since each round's centroids need every task's
      partials.

    On a 4-core VM (``local[4]``) a job costs ~0.1 CPU-s of scheduling
    and planning whatever its size, while the kernel takes ~2.5 ms per
    5,000 rows at d=64, k=8 and a Python task ~0.02 CPU-s with the local
    worker daemon. At scale this is the scan's own split (100 TB ->
    bytes/128 MiB tasks), so no partition outgrows an executor, and a
    looping task holds at most its own 128 MiB of decoded points. The
    trade-off: on a many-core cluster a mid-size cache runs as fewer
    tasks than cores (1 GB as 8).
    """
    import math

    return max(1, math.ceil(bytes_est / _TASK_BYTES))


def _estimated_bytes(points: DataFrame) -> int:
    """The optimizer's size estimate of the one-column ``points``, scaled
    to 8-byte vector elements (a cached ``array<float>`` reads half its
    decoded size). It only decides whether a fit tries one task: measured,
    a parquet plan reads low, and a text plan reads the text's file size
    (its parse, a ``mapInArrow``, passes its child's size through), so the
    task itself holds to ``_TASK_BYTES``."""
    jdf = points._jdf
    size = int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    elem = jdf.schema().fields()[0].dataType().elementType().defaultSize()
    return size * 8 // elem


def _check_draw(got: _Draw, k: int) -> tuple[int, int]:
    """The input contract on the first draw job's stats; returns the row
    count and ``d``."""
    if got.n == 0:
        raise ValueError("empty dataset")
    if got.nulls:
        raise ValueError(f"{got.nulls} of {got.n} vectors are NULL")
    if got.lo != got.hi:
        raise ValueError(
            f"vectors are not fixed-arity: sizes {got.lo}..{got.hi}"
        )
    if got.n < k:
        raise ValueError(f"dataset has fewer than k={k} rows")
    return got.n, got.hi


def fit(df: DataFrame, config: KMeansConfig) -> KMeansModel:
    """Iterate-until-converged driver loop (reference C2-C5).

    ``max_iter`` counts actual iterations (the reference's
    ``while (iter < MAX_ITER)`` with ``iter=1`` runs at most MAX_ITER-1
    jobs, ``KMeans.java:113,130`` — a documented off-by-one we do NOT
    reproduce).

    The driver is the only authority over the result: each job returns
    the per-round partials its tasks ran, and the loop body below replays
    them in order (mean, movement, history, the C4 re-init, the tol
    stop), dropping any round past the point where it stops. A one-task
    fit therefore gives the same model, bit for bit, as one job per
    round.

    A cached ``df`` (``df.storageLevel`` set) is read through its cache;
    any other input is cached for the fit and released afterwards. The
    caller's cache is never released.

    Input contract (the reference's, SURVEY §1.3): fixed-arity, non-NULL
    vectors. The first job checks it: ``ValueError`` names the count of
    NULL vectors, or the range of vector sizes, before any round is used.
    A NULL element is refused by the kernel (:func:`_decode`), on the
    executor.

    Jobs: when the plan's size estimate allows one task, the first job is
    one task that fills the cache, counts and checks the rows, draws the
    init and, if its vectors stayed within 128 MiB, runs every round: the
    fit is 1 job, plus 1 per C4 re-init. Otherwise the first job only
    draws, over the input's partitions, and the loop is sized from the
    exact n·d·8 (:func:`_iteration_partitions`): one loop job per round
    over several tasks. ``fit`` sets no session conf, so concurrent fits
    on one SparkSession do not interfere, and the session's other queries
    keep its AQE setting.
    """
    import time

    from pyspark.storagelevel import StorageLevel

    t_start = time.monotonic()
    base = df.select(F.col(config.features_col).alias("features"))
    # The try/finally opens BEFORE the cache: a failure anywhere (empty
    # dataset, fewer-than-k rows, a dying executor) must still release
    # storage — embedded/notebook sessions outlive this call.
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
        # Every draw is a _draw_job over `base`, which F.rand keys by
        # base's own partitions: the init and each C4 re-draw are the rows
        # of sample_initial_centroids(base, k, seed + 1000·r). The first
        # job also fills the cache, counts the rows and checks the
        # contract; tried as one task, it also runs the rounds.
        one_task = _estimated_bytes(base) <= _TASK_BYTES

        def draw(r: int) -> _Draw:
            rounds = config.max_iter - n_iter if one_task else 0
            return _draw_job(base, config.k, config.seed + 1000 * r, rounds,
                             config.tol)

        got = draw(0)
        n, dim = _check_draw(got, config.k)
        centroids, pending = got.centroids, got.rounds
        # a task that outgrew _TASK_BYTES ran no round: later draws run
        # over base's own partitions
        one_task = bool(pending)
        points = target = None

        while n_iter < config.max_iter and not converged:
            if not pending:
                if points is None:
                    # Re-tile the cached points to one task per 128 MiB
                    # (see _iteration_partitions). Shrinking is a narrow
                    # coalesce straight off the cache. Growing re-caches a
                    # repartitioned copy so the loop doesn't re-shuffle
                    # every iteration; it runs only when cached partitions
                    # average over 128 MiB (e.g. one non-splittable .gz
                    # text file), and with AQE on it costs 3 + n_iter jobs
                    # per fit: the repartition's map stage and the copy's
                    # cache fill run as jobs of their own once. `base`
                    # stays cached beside it because draws run against
                    # `base`.
                    target = _iteration_partitions(n * dim * 8)
                    cur = base.rdd.getNumPartitions() if target > 1 else None
                    if target == 1 or target < cur:
                        points = base.coalesce(target)
                    elif target > cur:
                        # no materializing count: the first loop job
                        # fills this cache
                        points = base.repartition(target).cache()
                        owned.append(points)
                    else:
                        points = base
                rounds = config.max_iter - n_iter if target == 1 else 1
                pending = _lloyd_job(points, centroids, rounds, config.tol)
            for means in pending:
                n_iter += 1
                if len(means) < config.k:
                    # empty cluster -> discard all, re-draw fresh k (C4);
                    # new seed per event keeps the run deterministic. The
                    # task stopped at this round too: the next rounds
                    # start from the fresh draw.
                    reinits += 1
                    got = draw(reinits)
                    centroids, pending = got.centroids, got.rounds
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
            else:
                pending = []
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
