"""Query registry — the single source for ``__spark_entry__``.

The catalog itself (:data:`QUERIES`, :data:`ORACLES`, :func:`query`)
lives in the leaf module ``catalog.py``, so that each operator module
registers its queries without importing this one. This module defines
the k-means core queries, which share the fixed-centroid fixture, and
imports every extension module so that all queries are registered.

Oracles are DuckDB-compatible SQL (the driver compares row count +
schema + order-insensitive value hash at sf0.01). Column-name contract:
every computed column is aliased identically in the Spark query and the
oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import ORACLES, QUERIES, query
from .functions.vector import literal_table
from .operators import kmeans_df as K
from .sources import load_table
from .sources.text_points import (
    format_points,
    parse_points,
    parse_points_df,
    write_points,
)

# The driver's correctness gate checks a bounded window of ~50 queries per
# round, in registration order.  ``ordered_queries()`` is DERIVED from
# GATE_LEDGER.json (see ``gate_ledger.py``): never-driver-checked queries
# first, then queries whose module fingerprint changed since their last
# green row, then oldest-green first.  The r4 staleness incident (a shared
# reader changed under 7 already-green events queries and the hand-written
# priority list missed it) cannot recur: fingerprints cover transitive
# intra-package imports.


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry reordered so driver-unchecked queries land in the gate window."""
    # importlib on purpose: ordering logic is not a behavior dependency of
    # any query, so it must stay out of gate_ledger's fingerprint walk.
    import importlib

    gl = importlib.import_module(f"{__package__}.gate_ledger")
    # unknown override names are DROPPED, not fatal: a typo in the
    # hand-edited list must degrade the ordering, never crash the whole
    # driver gate (tests/test_gate_ledger.py asserts the list is clean,
    # so CI still catches the typo loudly)
    derived = gl.derive_order(QUERIES)
    first = [n for n in gl.PRIORITY_OVERRIDE if n in QUERIES]
    return {n: QUERIES[n] for n in first + [d for d in derived if d not in set(first)]}


def ordered_oracles() -> dict[str, str]:
    return {n: ORACLES[n] for n in ordered_queries() if n in ORACLES}


# --------------------------------------------------------------------------
# Core k-means surface (reference semantics; SURVEY §2.1-2.7, §2.11)
# --------------------------------------------------------------------------
# Fixed-centroid fixtures (FIXTURES.md §3): the RNG-free, oracle-checkable
# form of assignment + aggregation. Centroids are the embeddings of
# vec_id < K_FIXED — derivable identically in Spark and SQL.

K_FIXED = 10
DIM = 64  # embeddings arity in all testdata sf dirs


def _fixed_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Collect the K_FIXED fixture centroids in one job on every
    invocation. Not memoized in-process, deliberately: a memo would serve
    one query's collected rows to later bench invocations. The k rows are
    sorted on the driver: a Spark ``orderBy`` made the collect a 3-job
    range sort for 10 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < K_FIXED)
        .select("vec_id", "embedding")
        .collect()
    )
    return [list(r["embedding"]) for r in sorted(rows, key=lambda r: r["vec_id"])]


# Shared oracle CTE: nearest-centroid assignment (reference J1/T1/F1 —
# Point.java:57-71 argmin with lowest-index tie-break, enforced by the
# ORDER BY d2, cluster_id in row_number()).
_ASSIGN_CTE = f"""
cents AS (
    SELECT vec_id AS cluster_id, embedding FROM embeddings WHERE vec_id < {K_FIXED}
),
dist AS (
    SELECT e.vec_id, c.cluster_id,
           sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(c.embedding[t.i] AS DOUBLE))
               * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(c.embedding[t.i] AS DOUBLE))) AS d2
    FROM embeddings e
    CROSS JOIN cents c
    CROSS JOIN range(1, {DIM + 1}) t(i)
    GROUP BY e.vec_id, c.cluster_id
),
assign AS (
    SELECT vec_id, CAST(cluster_id AS INT) AS cluster_id
    FROM (
        SELECT vec_id, cluster_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
        FROM dist
    ) WHERE rn = 1
)
"""


@query(
    "kmeans_assign",
    f"WITH {_ASSIGN_CTE} SELECT vec_id, cluster_id FROM assign",
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row nearest-centroid assignment with fixed centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _fixed_centroids(spark, sf_dir)
    return K.assign_clusters(emb, cents).select("vec_id", "cluster_id")


@query(
    "kmeans_cluster_sizes",
    f"""WITH {_ASSIGN_CTE}
    SELECT cluster_id, count(*) AS num_points FROM assign GROUP BY cluster_id""",
)
def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster COUNT (reference A3/A6)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _fixed_centroids(spark, sf_dir)
    return (
        K.assign_clusters(emb, cents)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("num_points"))
    )


@query(
    "kmeans_cf_means",
    f"""WITH {_ASSIGN_CTE}
    SELECT a.cluster_id, CAST(t.i - 1 AS INT) AS dim,
           avg(CAST(e.embedding[t.i] AS DOUBLE)) AS mean_val
    FROM assign a
    JOIN embeddings e USING (vec_id)
    CROSS JOIN range(1, {DIM + 1}) t(i)
    GROUP BY a.cluster_id, dim""",
)
def kmeans_cf_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster per-dimension mean — the ClusteringFeature finalize
    (reference A1-A5, ClusteringFeature.java:60-70) in long form so the
    oracle compares scalars."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _fixed_centroids(spark, sf_dir)
    return (
        K.assign_clusters(emb, cents)
        .select("cluster_id", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("cluster_id", "dim")
        .agg(F.avg("v").alias("mean_val"))
    )


def _fit_invariants(assigned: DataFrame, k: int) -> DataFrame:
    """Driver-checkable invariant summary of the ENGINE's Lloyd fit.

    A seeded fit's per-cluster sizes are deterministic but not
    SQL-derivable (the oracle would have to run Lloyd's loop), so a
    sizes-shaped result can only get a weak rows-only check.  These
    columns ARE oracle-predictable and bind rows+schema+hash:
    every point assigned exactly once (n_points == table count), all k
    clusters non-empty (GUARANTEED here by the C4 empty-cluster re-init /
    §2.11 — use :func:`_fit_invariants_lenient` for algorithms without
    that guarantee), and cluster ids exactly 0..k-1 (index integrity,
    reference C5 KMeans.java:252-257). The seed-determined size multiset
    itself is pinned by golden-seed tests in tests/test_kmeans.py."""
    return assigned.agg(
        F.countDistinct("cluster_id").cast("int").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_points"),
        F.min("cluster_id").cast("int").alias("min_cluster_id"),
        F.max("cluster_id").cast("int").alias("max_cluster_id"),
    ).select(F.lit(k).alias("k"), "*")


def _fit_invariants_oracle(k: int) -> str:
    return f"""
    SELECT CAST({k} AS INT) AS k, CAST({k} AS INT) AS n_clusters,
           count(*) AS n_points, CAST(0 AS INT) AS min_cluster_id,
           CAST({k - 1} AS INT) AS max_cluster_id
    FROM embeddings
    """


def _fit_invariants_lenient(assigned: DataFrame, k: int) -> DataFrame:
    """Invariants for MLlib fits (KMeans keeps stale centers on empty
    clusters; BisectingKMeans/GaussianMixture make no non-emptiness
    promise at all): claims are limited to what the algorithms actually
    guarantee — every point assigned exactly once, ids within [0, k),
    at least one non-empty cluster — so a legitimate fit with an empty
    component cannot fail the gate."""
    return assigned.agg(
        F.count(F.lit(1)).alias("n_points"),
        (
            (F.min("cluster_id") >= 0)
            & (F.max("cluster_id") <= k - 1)
            & (F.countDistinct("cluster_id") >= 1)
            & (F.countDistinct("cluster_id") <= k)
        ).alias("ids_valid"),
    ).select(F.lit(k).alias("k"), "*")


def _fit_invariants_lenient_oracle(k: int) -> str:
    return f"""
    SELECT CAST({k} AS INT) AS k, count(*) AS n_points, true AS ids_valid
    FROM embeddings
    """


@query("kmeans_fit_df", _fit_invariants_oracle(10))
def kmeans_fit_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full seeded Lloyd loop, reference-exact semantics; returns the
    oracle-checkable fit invariants (see ``_fit_invariants``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    try:
        model = K.fit(emb, K.KMeansConfig(k=10, max_iter=10, tol=1e-3, seed=42))
    except K.TooFewRows as ex:
        raise ValueError(
            f"embeddings has {ex.n} rows in {sf_dir}: the fit needs k=10"
        ) from ex
    return _fit_invariants(K.assign_clusters(emb, model.centroids), k=10)


@query("kmeans_fit_mllib", _fit_invariants_lenient_oracle(10))
def kmeans_fit_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kmeans_mllib import fit_mllib, transform_mllib

    emb = load_table(spark, sf_dir, "embeddings")
    result = fit_mllib(emb, k=10, max_iter=10, seed=42)
    return _fit_invariants_lenient(transform_mllib(result, emb), k=10)


@query("kmeans_fit_bisecting", _fit_invariants_lenient_oracle(8))
def kmeans_fit_bisecting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BisectingKMeans fit invariants (clustering beyond Lloyd, §2.12)."""
    from .operators.kmeans_mllib import fit_bisecting

    emb = load_table(spark, sf_dir, "embeddings")
    model, vec = fit_bisecting(emb, k=8, max_iter=10, seed=42)
    return _fit_invariants_lenient(
        model.transform(vec).select(F.col("prediction").alias("cluster_id")),
        k=8,
    )


@query("kmeans_fit_gmm", _fit_invariants_lenient_oracle(4))
def kmeans_fit_gmm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GaussianMixture fit invariants (soft clustering; hard-assignment
    view via ``prediction``).

    Fit on the first 16 dimensions: a full-covariance GMM has O(d²/2)
    free parameters per component (64 dims -> 2080), far beyond what a
    few hundred points per component can estimate — statistically
    ill-posed AND numerically fragile (MLlib's EM covariance update
    crashes with breeze MatrixNotSymmetricException on the sf0.001
    vectors). 16 dims (136 cov params) is the sound configuration at
    every test scale; at production n, raise d accordingly. The
    invariants checked (every point assigned once, ids in range) are
    unchanged in meaning."""
    from .operators.kmeans_mllib import fit_gmm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    model, vec = fit_gmm(emb, k=4, max_iter=10, seed=42)
    return _fit_invariants_lenient(
        model.transform(vec).select(F.col("prediction").alias("cluster_id")),
        k=4,
    )


@query(
    "points_text_roundtrip",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           true AS roundtrip_ok
    FROM embeddings
    """,
)
def points_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference text format fidelity: embedding -> '<a, b>' -> parse ->
    verify identity (S3/F5). Returns per-row roundtrip status; the oracle
    pins the strongest claim — EVERY row roundtrips bit-exactly (Spark's
    double->string cast is shortest-roundtrip, Double.toString semantics)
    — so a single flipped value fails the gate hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    formatted = format_points(emb, "embedding")
    parsed = parse_points_df(formatted, "point_str")
    return parsed.select(
        "vec_id",
        F.size("features").alias("dim"),
        (F.col("features") == F.col("embedding")).alias("roundtrip_ok"),
    )


# F7 (reference Point.java:78-94): k random points uniform in [0.0, 5.0)^d.
# Dead code in the reference's main flow (random-position init was rejected,
# Documentation CC.pdf §2.0.1) but part of its declared surface — closed here
# with a DETERMINISTIC seeded generator: the reference's unseeded
# ``Math.random()`` is the one behavior we deliberately do not reproduce
# (SURVEY §2.11). The uniform comes from md5 of the flat index (review r6:
# the previous single-step LCG-as-hash has no avalanche — every coordinate
# lay on one constant-step lattice orbit, a sawtooth, not independent
# uniforms). md5's first 13 hex digits are a 52-bit integer, exact in a
# double, and both engines compute the identical string -> hash -> divide
# chain — oracle-expressible unlike ``F.rand``, whose stream depends on
# partition layout. Long form (point_id, dim, val) keeps the gate
# comparing scalars.
_RAND_N, _RAND_LO, _RAND_HI = 10, 0.0, 5.0
_HASH_DENOM = float(1 << 52)  # 16^13


def random_uniform_points(
    spark: SparkSession,
    n: int = _RAND_N,
    d: int = DIM,
    lo: float = _RAND_LO,
    hi: float = _RAND_HI,
    seed: int = 0,
) -> DataFrame:
    """F7: n points uniform in [lo, hi)^d, fully distributed (spark.range
    parallelizes the id space) and deterministic for a given seed."""
    base = spark.range(n).select(F.col("id").alias("point_id"))
    df = base.select(
        "point_id", F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("dim")
    )
    idx = (F.col("point_id") * d + F.col("dim") + F.lit(seed)).cast("string")
    u = (
        F.conv(F.substring(F.md5(idx), 1, 13), 16, 10).cast("double")
        / F.lit(_HASH_DENOM)
    )
    return df.select(
        "point_id",
        "dim",
        (u * (hi - lo) + lo).alias("val"),
    )


@query(
    "points_random_uniform",
    f"""
    SELECT p.i AS point_id, CAST(t.i AS INT) AS dim,
           CAST(('0x' || substr(md5(CAST(p.i * {DIM} + t.i AS VARCHAR)), 1, 13))::UBIGINT
                AS DOUBLE)
               / {_HASH_DENOM!r} * {_RAND_HI - _RAND_LO} + {_RAND_LO} AS val
    FROM range(0, {_RAND_N}) p(i) CROSS JOIN range(0, {DIM}) t(i)
    """,
)
def points_random_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F7 surface (see :func:`random_uniform_points`)."""
    return random_uniform_points(spark)


@query(
    "points_text_export_roundtrip",
    f"""WITH {_ASSIGN_CTE},
    means AS (
        SELECT a.cluster_id, t.i AS i,
               avg(CAST(e.embedding[t.i] AS DOUBLE)) AS m
        FROM assign a
        JOIN embeddings e USING (vec_id)
        CROSS JOIN range(1, {DIM + 1}) t(i)
        GROUP BY a.cluster_id, t.i
    )
    SELECT CAST(i - 1 AS INT) AS dim,
           count(*) AS n_centroids,
           sum(m) AS sum_val
    FROM means GROUP BY dim""",
)
def points_text_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's RESULT egress end-to-end (S2, KMeans.java:148-150):
    computed centroids -> ``write_points`` text sink ('<a, b>' lines,
    Point.toString) -> re-ingest with the expression parser -> aggregate.
    Exact because Spark's double->string cast is shortest-roundtrip
    (Double.toString), so the parsed values equal the computed means
    bit-for-bit and the oracle can skip the stringification. The sink is
    an ``artifacts.artifact_dir`` build, so the fit-side writer runs once
    per source and code version; the parse runs on every call."""
    from .artifacts import artifact_dir

    def write(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = _fixed_centroids(spark, sf_dir)
        cf = K.cluster_features(K.assign_clusters(emb, cents))
        write_points(cf, path, "centroid")

    path = artifact_dir(
        sf_dir, "embeddings.parquet", "centroids_text", {}, write, __name__
    )
    parsed = parse_points(spark, path)
    return (
        parsed.select(F.posexplode("features").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_centroids"),
            F.sum("v").alias("sum_val"),
        )
    )


@query(
    "stream_kmeans_scoring",
    f"""WITH {_ASSIGN_CTE}
    SELECT cluster_id, count(*) AS num_points FROM assign GROUP BY cluster_id""",
)
def stream_kmeans_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental model scoring (SURVEY §2.9): each
    micro-batch of vectors runs the fit's Arrow combiner
    (``cluster_features_arrow``) against the fixed centroids — one narrow
    Arrow stage, no exchange, k rows to the driver — and its per-cluster
    counts are merged into a driver-side running state: the streaming
    analogue of the reference's scoring pass, with the centroid set as
    the broadcast model. The running totals must equal the batch cluster
    sizes, which the oracle computes with the direct-form distance."""
    # Probe the file's own schema like streaming.windows.read_events_stream
    # does — a hard-coded struct silently misreads a regenerated fixture
    # whose embedding element type or column set changed (the batch loader
    # adapts automatically; the stream source must be told).
    from .artifacts import parquet_plan

    centroids = _fixed_centroids(spark, sf_dir)
    schema = parquet_plan(spark, f"{sf_dir}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )

    totals: dict[int, int] = {}

    def score_batch(batch_df: DataFrame, epoch_id: int) -> None:
        for c, n, _mean in K.cluster_features_arrow(batch_df, centroids, "embedding"):
            totals[c] = totals.get(c, 0) + n

    # availableNow runs every file present at start, then stops itself
    stream.writeStream.foreachBatch(score_batch).trigger(
        availableNow=True
    ).start().awaitTermination()

    return literal_table(
        spark,
        [{"cluster_id": c, "num_points": n} for c, n in sorted(totals.items())],
        "cluster_id int, num_points bigint",
    )


# --------------------------------------------------------------------------
# Extension operator modules register themselves via @query on import.
# Imported via importlib (not `from . import x`) deliberately: these are
# registration side-effects, NOT dependencies of the queries defined in
# this file, and gate_ledger's AST fingerprint walk must not conclude that
# every registry-defined query depends on the whole package.
# --------------------------------------------------------------------------
import importlib  # noqa: E402

EXTENSION_MODULES: list[str] = [
    "operators.relational",
    "operators.text_analysis",
    "operators.dedup",
    "operators.similarity",
    "operators.multimodal",
    "operators.asof",
    "operators.setops",
    "operators.statistics",
    "operators.curation",
    "operators.skew",
    "operators.pipeline",
    "sources.filesources",
    "streaming.windows",
    "streaming.stateful",
]
for _mod in EXTENSION_MODULES:
    importlib.import_module(f"{__package__}.{_mod}")
