"""Reference-semantics invariants for the k-means surface (SURVEY §5.2)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from k_means_in_mapreduce_spark.functions.vector import distance_vector
from k_means_in_mapreduce_spark.operators import kmeans_df as K
from k_means_in_mapreduce_spark.operators.kmeans_mllib import fit_mllib, transform_mllib
from k_means_in_mapreduce_spark.sources import load_table

from .conftest import SF0001, jobs_in_group


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF0001, "embeddings").cache()


def test_tiebreak_lowest_index(spark):
    """Point.java:65 strict < : equidistant centroids -> lowest index wins."""
    df = spark.createDataFrame([([0.0, 0.0],)], "features array<double>")
    # centroids 1 and 2 are both at distance sqrt(2); centroid 0 farther
    cents = [[5.0, 5.0], [1.0, 1.0], [-1.0, -1.0]]
    got = K.assign_clusters(df, cents, "features").first()["cluster_id"]
    assert got == 1
    # all equidistant -> 0
    cents = [[1.0, 1.0], [-1.0, 1.0], [1.0, -1.0]]
    got = K.assign_clusters(df, cents, "features").first()["cluster_id"]
    assert got == 0


def _wcss(df, centroids, features_col="embedding"):
    """Within-cluster sum of squared distances (the reference's 'error'),
    the oracle of the Lloyd-monotonicity invariant (SURVEY §5.2.3a)."""
    d2 = F.array_min(distance_vector(features_col, centroids))
    return df.select(d2.alias("d2")).agg(F.sum("d2")).first()[0]


def _numpy_lloyd(X, init, n_iter):
    """Oracle reimplementation of the reference loop (argmin first-min
    tie-break == np.argmin; mean update)."""
    C = np.array(init, dtype=float)
    for _ in range(n_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        C = np.stack([X[a == j].mean(axis=0) for j in range(len(C))])
    return C, a


def test_fit_matches_numpy_lloyd(spark, emb):
    X = np.array([r[0] for r in emb.select("embedding").collect()])
    cfg = K.KMeansConfig(k=5, max_iter=4, tol=0.0, seed=7)
    init = K.sample_initial_centroids(
        emb.select(F.col("embedding").alias("features")), cfg.k, cfg.seed, "features"
    )
    model = K.fit(emb, cfg)
    assert model.n_iter == 4 and not model.converged and model.reinit_count == 0
    C, _ = _numpy_lloyd(X, init, 4)
    np.testing.assert_allclose(np.array(model.centroids), C, rtol=1e-9, atol=1e-12)


def test_fit_deterministic(spark, emb):
    cfg = K.KMeansConfig(k=4, max_iter=3, tol=0.0, seed=123)
    m1 = K.fit(emb, cfg)
    m2 = K.fit(emb, cfg)
    assert m1.centroids == m2.centroids
    assert m1.movement_history == m2.movement_history


def test_wcss_nonincreasing(spark, emb):
    """Lloyd guarantee (Project Specifications 2023.pdf p.1)."""
    cfg = K.KMeansConfig(k=5, max_iter=1, tol=0.0, seed=7)
    init = K.sample_initial_centroids(
        emb.select(F.col("embedding").alias("features")), cfg.k, cfg.seed, "features"
    )
    values = [_wcss(emb, init)]
    for n in (1, 2, 3):
        m = K.fit(emb, K.KMeansConfig(k=5, max_iter=n, tol=0.0, seed=7))
        values.append(_wcss(emb, m.centroids))
    assert all(b <= a + 1e-9 for a, b in zip(values, values[1:])), values


def test_centroid_is_mean_of_assigned(spark, emb):
    """SURVEY §5.2.3b: after an update step, each centroid equals the mean
    of the points assigned to it under the PREVIOUS centroids."""
    m = K.fit(emb, K.KMeansConfig(k=4, max_iter=2, tol=0.0, seed=11))
    prev = K.fit(emb, K.KMeansConfig(k=4, max_iter=1, tol=0.0, seed=11))
    X = np.array([r[0] for r in emb.select("embedding").collect()])
    d = ((X[:, None, :] - np.array(prev.centroids)[None, :, :]) ** 2).sum(axis=2)
    a = d.argmin(axis=1)
    for j in range(4):
        np.testing.assert_allclose(
            np.array(m.centroids[j]), X[a == j].mean(axis=0), rtol=1e-9, atol=1e-12
        )


def test_convergence_criterion(spark, emb):
    """C3: stops iff Σ‖Δc‖₂ < ε; with a huge ε it stops after iteration 1's
    movement check... movement is computed after the first update, so the
    earliest converged n_iter is 1."""
    m = K.fit(emb, K.KMeansConfig(k=3, max_iter=10, tol=1e9, seed=5))
    assert m.converged and m.n_iter == 1
    m2 = K.fit(emb, K.KMeansConfig(k=3, max_iter=3, tol=0.0, seed=5))
    assert not m2.converged and m2.n_iter == 3


def test_empty_cluster_reinit(spark):
    """C4: k > number of distinct points -> some cluster is always empty
    (tie-break sends all mass to the lower index) -> full re-sample every
    iteration, loop terminates at max_iter."""
    rows = [([0.0, 0.0],)] * 10 + [([5.0, 5.0],)] * 10
    df = spark.createDataFrame(rows, "embedding array<double>")
    m = K.fit(df, K.KMeansConfig(k=3, max_iter=4, tol=0.0, seed=1))
    assert m.reinit_count == 4 and not m.converged


# Eight 2-D points and an init under which Lloyd updates twice, then
# leaves cluster 2 empty at iteration 3 (C4 mid-fit); the re-drawn
# centroids then update to the end.
_MID_REINIT_X = [[5.0, 2.0], [0.0, 9.0], [2.0, 0.0], [7.0, 9.0],
                 [5.0, 3.0], [8.0, 9.0], [9.0, 8.0], [0.0, 3.0]]
_MID_REINIT_DRAWS = [[[7.5, 1.5], [1.5, 8.5], [3.5, 4.5]],
                     [[5.0, 2.0], [0.0, 9.0], [8.0, 9.0]]]


def _draws_by_seed(monkeypatch, seed, draws):
    """Make every draw job of a fit draw draws[r] for seed + 1000·r. The
    real job still runs first, without rounds: the fit reads its row
    count and checks the input on it. Its task runs no round from its own
    draw, so the fit's loop jobs start from the given draws."""
    import dataclasses

    real = K._draw_job

    def drawn(points, k, s, _rounds, tol):
        got = real(points, k, s, 0, tol)
        return dataclasses.replace(
            got, centroids=[list(c) for c in draws[(s - seed) // 1000]]
        )

    monkeypatch.setattr(K, "_draw_job", drawn)


def _numpy_replay(X, draws, max_iter, tol):
    """The fit's loop in NumPy, by the rule of perfbench's ``lloyd``
    (lowest-index argmin of the norm expansion, an empty cluster re-draws
    and updates nothing), recording what KMeansModel records."""
    c = np.asarray(draws[0], dtype=np.float64)
    x2 = (X * X).sum(axis=1)[:, None]
    out = {"n_iter": 0, "reinit_count": 0, "converged": False,
           "movement_history": [], "centroid_history": [], "steps": ""}
    for _ in range(max_iter):
        out["n_iter"] += 1
        a = (x2 - 2.0 * X @ c.T + (c * c).sum(axis=1)[None, :]).argmin(axis=1)
        if (np.bincount(a, minlength=len(c)) == 0).any():
            out["reinit_count"] += 1
            out["steps"] += "E"
            c = np.asarray(draws[out["reinit_count"]], dtype=np.float64)
            continue
        new = np.stack([X[a == i].mean(axis=0) for i in range(len(c))])
        out["steps"] += "U"
        out["movement_history"].append(np.linalg.norm(new - c, axis=1).sum())
        out["centroid_history"].append(new)
        c = new
        if out["movement_history"][-1] < tol:
            out["converged"] = True
            break
    return out


def test_empty_cluster_reinit_mid_fit(spark, monkeypatch):
    """C4 after two successful updates: iteration 3 leaves a cluster
    empty, the fit re-draws with seed + 1000 and updates to max_iter.
    Every recorded field matches the NumPy replay."""
    X = np.array(_MID_REINIT_X)
    _draws_by_seed(monkeypatch, 7, _MID_REINIT_DRAWS)
    df = spark.createDataFrame([(r,) for r in _MID_REINIT_X], "embedding array<double>")
    m = K.fit(df, K.KMeansConfig(k=3, max_iter=6, tol=0.0, seed=7))
    want = _numpy_replay(X, _MID_REINIT_DRAWS, 6, 0.0)
    assert want["steps"] == "UUEUUU"
    assert (m.n_iter, m.reinit_count, m.converged) == (6, 1, False)
    assert len(m.movement_history) == len(m.centroid_history) == 5
    np.testing.assert_allclose(m.movement_history, want["movement_history"],
                               rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(np.array(m.centroid_history),
                               np.array(want["centroid_history"]),
                               rtol=1e-12, atol=1e-12)
    assert m.centroids == m.centroid_history[-1]


def _blobs(spark, n, cast="double"):
    """n seeded 8-d points around 4 centres one sigma apart (slow to
    converge), in one partition, so several Arrow batches make one task."""
    return spark.range(0, n, 1, 1).select(
        F.array(
            *[(F.randn(11 + j) + (F.col("id") % 4) * (1.0 if j % 2 else -1.0))
              for j in range(8)]
        ).cast(f"array<{cast}>").alias("embedding")
    )


def _model_fields(m):
    return (m.centroids, m.n_iter, m.converged, m.movement_history,
            m.centroid_history, m.reinit_count)


@pytest.mark.parametrize(
    "case", ["blobs", "tol-stop", "mid-reinit", "float", "fallback"]
)
def test_one_job_fit_equals_one_job_per_round(spark, monkeypatch, case):
    """A one-task fit runs all its rounds in its one draw job; forced to
    a draw without rounds and one loop job per round over the same
    partitions, the model is ``==`` in every field. 25k points make three
    Arrow batches per task. In the fallback case the per-task limit sits
    between the plan's size estimate and the exact n·d·8: the fit tries
    one task, which outgrows the limit and only draws, and the loop runs
    one job per round over two tasks."""
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert 25_000 > 2 * batch
    cfg = K.KMeansConfig(k=4, max_iter=8, tol=0.0, seed=3)
    df = _blobs(spark, 25_000, "float" if case == "float" else "double").cache()
    if case == "tol-stop":
        h = K.fit(df, cfg).movement_history
        i = next(i for i in range(2, len(h) - 1) if h[i] < min(h[:i]))
        cfg.tol = (h[i] + min(h[:i])) / 2
    elif case == "mid-reinit":
        df = spark.createDataFrame([(r,) for r in _MID_REINIT_X],
                                   "embedding array<double>")
        cfg = K.KMeansConfig(k=3, max_iter=6, tol=0.0, seed=7)
        _draws_by_seed(monkeypatch, 7, _MID_REINIT_DRAWS)
    elif case == "fallback":
        nbytes = 25_000 * 8 * 8
        est = K._estimated_bytes(df.select(F.col("embedding").alias("features")))
        assert est < nbytes // 2
        monkeypatch.setattr(K, "_TASK_BYTES", nbytes // 2)

    draw, loop = K._draw_job, K._lloyd_job
    rounds = []
    with monkeypatch.context() as mp:
        mp.setattr(K, "_draw_job", lambda p, k, s, r, tol: rounds.append(
            ("draw", r)) or draw(p, k, s, r, tol))
        mp.setattr(K, "_lloyd_job", lambda p, c, r, tol: rounds.append(
            ("loop", r)) or loop(p, c, r, tol))
        one_job = K.fit(df, cfg)
    with monkeypatch.context() as mp:
        mp.setattr(K, "_draw_job", lambda p, k, s, _r, tol: draw(p, k, s, 0, tol))
        mp.setattr(K, "_lloyd_job", lambda p, c, _r, tol: loop(p, c, 1, tol))
        per_round = K.fit(df, cfg)
    df.unpersist()

    assert _model_fields(one_job) == _model_fields(per_round)
    if case == "tol-stop":
        assert one_job.converged and one_job.n_iter < cfg.max_iter
        assert rounds == [("draw", cfg.max_iter)]
    elif case == "mid-reinit":
        # a createDataFrame input has no size estimate: the draws run no
        # rounds, and a loop job of one task runs every remaining round
        assert one_job.reinit_count == 1
        assert rounds == [("draw", 0), ("loop", 6), ("draw", 0), ("loop", 3)]
    elif case == "fallback":
        assert one_job.n_iter == cfg.max_iter
        assert rounds == [("draw", cfg.max_iter)] + [("loop", 1)] * 8
    else:
        assert one_job.n_iter == cfg.max_iter
        assert rounds == [("draw", cfg.max_iter)]


def test_fit_reads_through_a_cached_input(spark, monkeypatch):
    """A cached input is read through its own cache: no second in-memory
    relation appears during the fit, the caller's DataFrame stays cached
    afterwards (also when the fit fails with fewer than k rows), and the
    model equals a fit of the same rows uncached, so the seeded init
    draw is unchanged."""
    from pyspark.storagelevel import StorageLevel

    sc = spark.sparkContext

    def cached_relations() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    def make():
        return spark.range(0, 2000, 1, 3).select(
            F.array(F.col("id").cast("double"), F.cos("id")).alias("embedding")
        )

    cfg = K.KMeansConfig(k=3, max_iter=4, tol=0.0, seed=9)
    want = K.fit(make(), cfg)
    df = make().cache()
    df.count()
    tiny = make().limit(2).cache()
    tiny.count()
    before = cached_relations()

    seen = []
    orig = K._draw_job

    def spy(*a, **kw):
        seen.append(cached_relations())
        return orig(*a, **kw)

    monkeypatch.setattr(K, "_draw_job", spy)
    try:
        got = K.fit(df, cfg)
        assert seen == [before]
        assert df.storageLevel != StorageLevel.NONE
        assert _model_fields(got) == _model_fields(want)
        with pytest.raises(ValueError, match="fewer than k"):
            K.fit(tiny, cfg)
        assert tiny.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist()
        tiny.unpersist()


def test_mllib_path_quality_parity(spark, emb):
    """MLlib production path vs the kmeans_df fit: different init/stop rules
    (documented deltas, kmeans_mllib.py docstring) can land in different
    local optima on these overlapping blobs, so we assert solution QUALITY
    parity — each path's WCSS within 25% of the other — plus shape checks."""
    res = fit_mllib(emb, k=10, max_iter=20, seed=42)
    assert len(res.centroids) == 10
    n_clusters = (
        transform_mllib(res, emb).select("cluster_id").distinct().count()
    )
    assert n_clusters == 10
    m = K.fit(emb, K.KMeansConfig(k=10, max_iter=30, tol=1e-4, seed=2))
    wcss_df = _wcss(emb, m.centroids)
    wcss_ml = res.wcss
    assert wcss_ml <= wcss_df * 1.25 and wcss_df <= wcss_ml * 1.25, (wcss_ml, wcss_df)


def test_text_roundtrip(spark, emb):
    """S3/F5 fidelity: format -> parse is the identity on doubles."""
    from k_means_in_mapreduce_spark.sources.text_points import (
        format_points,
        parse_points_df,
    )

    out = parse_points_df(format_points(emb, "embedding"), "point_str")
    bad = out.filter(~(F.col("features") == F.col("embedding"))).count()
    assert bad == 0


def test_arrow_step_matches_dataframe_step(spark, emb):
    """The two Lloyd-step implementations agree on fixed centroids: the
    Arrow combiner that the fit and ``stream_kmeans_scoring`` run (driver
    lists) and the Catalyst DataFrame form that the entry point and the
    oracle-checked text-egress query use. The far centroid attracts no
    point, so both must leave its id out."""
    pts = emb.select(F.col("embedding").alias("features"))
    rows = [
        list(map(float, r[0]))
        for r in emb.orderBy("vec_id").select("embedding").limit(3).collect()
    ]
    cents = [rows[0], rows[1], [1e3] * 64, rows[2]]
    arrow = K.cluster_features_arrow(pts, cents, "features")
    frame = sorted(
        (r["cluster_id"], r["num_points"], r["centroid"])
        for r in K.cluster_features(
            K.assign_clusters(pts, cents, "features"), features_col="features"
        ).collect()
    )
    assert [(c, n) for c, n, _ in arrow] == [(c, n) for c, n, _ in frame]
    assert [c for c, _, _ in arrow] == [0, 1, 3]
    assert sum(n for _, n, _ in arrow) == emb.count()
    np.testing.assert_allclose(
        np.array([m for _, _, m in arrow]), np.array([m for _, _, m in frame]),
        rtol=1e-9, atol=1e-12,
    )


def test_arrow_combiner_keeps_duplicate_centroids_on_lowest_index():
    """Exact-duplicate centroids: every point goes to the FIRST copy
    (``Point.java:65``) whatever BLAS threading does to the GEMM's
    duplicate columns, and the combiner's counts equal a direct-form
    NumPy argmin. 741 draws on sf0.001: for each k in 2..39, k-1 distinct
    data rows plus one later duplicate of each of them in turn."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    col = pq.read_table(f"{SF0001}/embeddings.parquet").column("embedding")
    col = col.combine_chunks().cast(pa.list_(pa.float64()))
    batch = pa.RecordBatch.from_arrays([col], ["features"])
    X = np.asarray(col.flatten()).reshape(len(col), -1)
    rng = np.random.default_rng(0)
    cases = 0
    for k in range(2, 40):
        rows = rng.choice(len(X), k - 1, replace=False)
        for j in range(k - 1):
            at = int(rng.integers(j + 1, k))  # a later position than j
            C = np.insert(X[rows], at, X[rows[j]], axis=0)
            out = next(K.arrow_combiner(C.tolist())(iter([batch])))
            counts = np.zeros(k, dtype=np.int64)
            counts[out.column(0).to_numpy()] = out.column(1).to_numpy()
            direct = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2).argmin(1)
            assert counts[at] == 0, (k, j, at)
            np.testing.assert_array_equal(
                counts, np.bincount(direct, minlength=k), err_msg=f"{k} {j}"
            )
            cases += 1
    assert cases == 741


def test_write_centroid_text_is_bit_exact_without_create_dataframe(
    spark, tmp_path, monkeypatch
):
    """The CLI's centroid egress builds its table as a plan literal, not
    through ``createDataFrame`` (whose pickled Python RDD starts a second
    Python worker pool), and every written value parses back to its input
    bit for bit: −0.0, the smallest subnormal, the largest double and a
    non-terminating sum."""
    import glob

    from k_means_in_mapreduce_spark import cli

    def refuse(*a, **kw):
        raise AssertionError("createDataFrame called")

    monkeypatch.setattr(type(spark), "createDataFrame", refuse)
    vals = [-0.0, 5e-324, 1.7976931348623157e308, 0.1 + 0.2]
    cents = [vals, vals[::-1], [1.0, 2.0, 3.0, 4.0]]
    out = str(tmp_path / "cents")
    cli._write_centroid_text(spark, cents, out)

    parsed = {}
    for part in glob.glob(f"{out}/part-*"):
        for line in open(part).read().splitlines():
            cid, vec = line.split("\t", 1)
            assert vec.startswith("<") and vec.endswith(">"), line
            parsed[int(cid)] = [float(x) for x in vec[1:-1].split(", ")]
    assert sorted(parsed) == [0, 1, 2]
    for i, c in enumerate(cents):
        assert [x.hex() for x in parsed[i]] == [x.hex() for x in c], i


def test_config_accepts_only_the_arrow_method():
    assert K.KMeansConfig(k=2).method == "arrow"
    with pytest.raises(ValueError, match="'expr'"):
        K.KMeansConfig(k=2, method="expr")


def _no_conf_set(monkeypatch):
    """Record every ``RuntimeConfig.set`` call made from Python."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    orig = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig, "set",
        lambda self, key, value: calls.append(key) or orig(self, key, value),
    )
    return calls


@pytest.mark.parametrize(
    "partitions,target",
    [
        pytest.param(1, None, id="1"),
        pytest.param(12, None, id="12"),
        pytest.param(1, 3, id="1-grown-to-3"),
    ],
)
def test_fit_job_count_and_aqe_restored(spark, monkeypatch, partitions, target):
    """With the session's AQE left on, a fit whose vectors fit one task
    (1 partition kept, 12 coalesced down to it) is 1 job of one stage and
    one task: it fills the cache, counts and checks the rows, draws the
    init and runs every round. With no one-task try (the plan's estimate
    over the limit) and the loop's target forced to 3 (1 partition grown
    and re-cached, the path taken only when cached partitions average
    over 128 MiB) the fit runs 3 + n_iter jobs: the draw over the input's
    one partition, then AQE runs the repartition's map stage and the
    copy's cache fill as jobs of their own, once per fit, then one job
    per round. No fit sets a session conf, also one that fails with fewer
    than k rows, and the session's AQE setting reads as before."""
    if target is not None:
        monkeypatch.setattr(K, "_TASK_BYTES", 0)
        monkeypatch.setattr(K, "_iteration_partitions", lambda _bytes: target)
    sets = _no_conf_set(monkeypatch)
    df = spark.range(0, 240, 1, partitions).select(
        F.array(F.col("id").cast("double"), F.sin("id")).alias("embedding")
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    m, jobs = jobs_in_group(
        spark, f"fit-job-count-{partitions}-{target}",
        lambda: K.fit(df, K.KMeansConfig(k=3, max_iter=3, tol=0.0, seed=5)),
    )
    tracker = spark.sparkContext.statusTracker()

    def tasks(job):
        return [tracker.getStageInfo(st).numTasks
                for st in sorted(tracker.getJobInfo(job).stageIds)]

    assert m.n_iter == 3 and m.reinit_count == 0
    assert len(jobs) == (1 if target is None else 3 + m.n_iter), jobs
    if target is None:
        assert tasks(jobs[0]) == [1], (jobs[0], tasks(jobs[0]))
    else:  # each round reads the re-cached copy: `target` tasks
        assert tasks(jobs[0]) == [partitions], (jobs[0], tasks(jobs[0]))
        for job in jobs[-m.n_iter:]:
            assert tasks(job)[-1] == target, (job, tasks(job))
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe

    with pytest.raises(ValueError, match="fewer than k"):
        K.fit(df.limit(2), K.KMeansConfig(k=3, max_iter=3, seed=5))
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert sets == []


def test_concurrent_fits_on_one_session_equal_serial_fits(spark, monkeypatch):
    """Two fits in two threads on one session give the models of the same
    fits run one after the other, and no fit sets a session conf."""
    import threading

    sets = _no_conf_set(monkeypatch)
    jobs = [
        (_blobs(spark, 6_000), K.KMeansConfig(k=4, max_iter=5, tol=0.0, seed=3)),
        (spark.range(0, 3_000, 1, 3).select(
            F.array(F.col("id").cast("double"), F.cos("id")).alias("embedding")
        ), K.KMeansConfig(k=3, max_iter=4, tol=0.0, seed=9)),
    ]
    serial = [K.fit(df, cfg) for df, cfg in jobs]
    got, errors = [None, None], []

    def run(i):
        try:
            got[i] = K.fit(*jobs[i])
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for a, b in zip(got, serial):
        assert _model_fields(a) == _model_fields(b)
    assert sets == []


@pytest.mark.parametrize("cached", [False, True], ids=["uncached", "cached"])
@pytest.mark.parametrize("partitions", [1, 3, 12])
def test_fit_counts_rows_in_the_init_sample(spark, monkeypatch, partitions,
                                            cached):
    """The fit's first job counts the rows and draws the init: the rows
    of ``ORDER BY rand(seed) LIMIT k``, in that order, also at k == n. A
    0-iteration fit returns the draw made without rounds over the input's
    own partitions; the draw job's one task that loops draws the same
    rows, and so does ``sample_initial_centroids``. With no one-task try,
    the loop is sized with ``n == df.count()``. An empty input still
    raises "empty dataset", and 2 rows with k=3 still raise "fewer than
    k"."""
    df = spark.range(0, 500, 1, partitions).select(
        F.array(F.col("id").cast("double"), F.sin("id"), F.cos("id"))
        .alias("embedding")
    )
    empty, two = df.limit(0), df.limit(2)
    if cached:
        df, empty, two = df.cache(), empty.cache(), two.cache()
    sized = []
    orig = K._iteration_partitions
    monkeypatch.setattr(K, "_iteration_partitions",
                        lambda b: sized.append(b) or orig(b))
    seed = partitions
    base = df.select(F.col("embedding").alias("features"))
    try:
        for k in (4, 500):
            want = [list(r[0]) for r in df.select("embedding")
                    .orderBy(F.rand(seed)).limit(k).collect()]
            m = K.fit(df, K.KMeansConfig(k=k, max_iter=0, seed=seed))
            assert m.centroids == want and m.n_iter == 0
            looped = K._draw_job(base, k, seed, 1, 0.0)
            assert looped.centroids == want and len(looped.rounds) == 1
            assert K.sample_initial_centroids(df, k, seed) == want
        assert sized == []
        monkeypatch.setattr(K, "_estimated_bytes", lambda _p: K._TASK_BYTES + 1)
        cfg = K.KMeansConfig(k=4, max_iter=1, seed=seed)
        assert K.fit(df, cfg).n_iter == 1
        assert sized == [df.count() * 3 * 8]
        with pytest.raises(ValueError, match="empty dataset"):
            K.fit(empty, cfg)
        with pytest.raises(ValueError, match="fewer than k"):
            K.fit(two, K.KMeansConfig(k=3, seed=1))
    finally:
        for d in (df, empty, two):
            d.unpersist()


_RAGGED = [[1.0], [2.0, 3.0, 4.0], [5.0, 6.0], [7.0, 8.0]]  # 8 values = 4×2


@pytest.mark.parametrize(
    "rows,k,match",
    [
        pytest.param(_RAGGED, 2, r"^vectors are not fixed-arity: sizes 1\.\.3$",
                     id="ragged"),
        pytest.param([[1.0, 2.0], [3.0, 4.0], None, [5.0, 6.0]], 2,
                     "^1 of 4 vectors are NULL$", id="null-vector"),
        # k == n: the sample surely draws the NULL vector
        pytest.param([[1.0, 2.0], [3.0, 4.0], None, [5.0, 6.0]], 4,
                     "^1 of 4 vectors are NULL$", id="null-vector-sampled"),
    ],
)
def test_fit_refuses_ragged_and_null_vectors_in_its_first_job(
    spark, rows, k, match
):
    """The fit's first job checks the data-model contract (fixed-arity,
    non-NULL vectors): ``fit`` raises ``ValueError`` after that one job,
    before any round is used. Ragged rows whose values total n·d would
    otherwise be re-sliced into d-vectors by the kernel's reshape. Both
    draws check it: over the input's own partitions (a createDataFrame
    input has no size estimate) and as one task that would loop (the
    same rows, cached)."""
    df = spark.createDataFrame([(r,) for r in rows], "embedding array<double>")
    cfg = K.KMeansConfig(k=k, max_iter=3, tol=0.0, seed=1)
    tracker = spark.sparkContext.statusTracker()

    def run():
        with pytest.raises(ValueError, match=match):
            K.fit(df, cfg)

    try:
        for cached in (False, True):
            _, jobs = jobs_in_group(
                spark, f"fit-refuses-{k}-{match}-{cached}", run
            )
            assert len(jobs) == 1, jobs
            if cached:
                stages = tracker.getJobInfo(jobs[0]).stageIds
                assert [tracker.getStageInfo(st).numTasks
                        for st in stages] == [1]
            df = df.cache()
            df.count()
    finally:
        df.unpersist()


def test_arrow_combiner_refuses_batches_it_cannot_decode(spark):
    """The kernel refuses a batch holding a NULL vector, a NULL element, or
    a vector whose size is not the centroids' d, on the driver and inside
    a Spark job, instead of reshaping the flat values or summing NaN."""
    import pyarrow as pa
    from pyspark.errors import PythonException

    cents = [[0.0, 0.0], [10.0, 10.0]]
    cases = [
        (_RAGGED, r"sizes 1\.\.3, not d=2"),
        ([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]], r"sizes 3\.\.3, not d=2"),
        ([[1.0, 2.0], [3.0, None]], "0 NULL vector.* 1 NULL element"),
        ([[1.0, 2.0], None], "1 NULL vector.* 0 NULL element"),
    ]
    for rows, match in cases:
        batch = pa.RecordBatch.from_arrays(
            [pa.array(rows, pa.list_(pa.float64()))], ["features"]
        )
        for rounds in (1, 3):
            with pytest.raises(ValueError, match=match):
                list(K.arrow_combiner(cents, rounds)(iter([batch])))

    ragged = spark.createDataFrame([(r,) for r in _RAGGED],
                                   "features array<double>").coalesce(1)
    with pytest.raises(PythonException, match=r"sizes 1\.\.3, not d=2"):
        K.cluster_features_arrow(ragged, cents)
    # a NULL element passes a draw without rounds and stops at the loop's
    # kernel; a draw job's one task that would loop refuses it itself
    holed = spark.createDataFrame([([1.0, 2.0],), ([3.0, None],)],
                                  "embedding array<double>")
    with pytest.raises(PythonException, match="1 NULL element"):
        K.fit(holed, K.KMeansConfig(k=1, max_iter=2, seed=1))
    with pytest.raises(PythonException, match="1 NULL element"):
        K._draw_job(holed.select("embedding"), 1, 1, 2, 0.0)


def test_config_rejects_k_below_one_and_negative_max_iter():
    """k < 1 and max_iter < 0 fail at construction with a ValueError that
    names the field (max_iter=0 is legal: the fit returns its init)."""
    for k in (0, -2):
        with pytest.raises(ValueError, match="^k must be >= 1"):
            K.KMeansConfig(k=k)
    with pytest.raises(ValueError, match="^max_iter must be >= 0"):
        K.KMeansConfig(k=2, max_iter=-1)
    assert K.KMeansConfig(k=1, max_iter=0).max_iter == 0


def test_arrow_combiner_gemm_sums_match_add_at():
    """The combiner's per-cluster sums are one one-hot GEMM per batch:
    over several float32 batches, with one centroid that attracts no
    point, every batch's ``(cluster_id, n, s)`` equals an ``np.add.at``
    scatter of the same assignment within rtol 1e-12, and a second call
    gives the same bits."""
    import pyarrow as pa

    rng = np.random.default_rng(5)
    centres = np.array([[5.0] * 6, [20.0] * 6, [1e4] * 6, [40.0] * 6])
    k = len(centres)
    batches, xs = [], []
    for size in (700, 1_024, 33):
        X = (centres[rng.choice([0, 1, 3], size)]
             + rng.normal(size=(size, 6))).astype(np.float32)
        xs.append(X.astype(np.float64))
        col = pa.ListArray.from_arrays(
            pa.array(np.arange(0, X.size + 1, X.shape[1], dtype=np.int32)),
            pa.array(X.ravel()),
        )
        batches.append(pa.RecordBatch.from_arrays([col], ["features"]))

    def run():
        return list(K.arrow_combiner(centres.tolist())(iter(batches)))

    out = run()
    assert len(out) == len(batches)
    for X, b in zip(xs, out):
        a = ((X[:, None, :] - centres[None, :, :]) ** 2).sum(2).argmin(1)
        n = np.bincount(a, minlength=k)
        s = np.zeros((k, X.shape[1]))
        np.add.at(s, a, X)
        nz = np.nonzero(n)[0]
        assert 2 not in nz
        assert b.column("cluster_id").to_pylist() == nz.tolist()
        assert b.column("n").to_pylist() == n[nz].tolist()
        np.testing.assert_allclose(
            np.array(b.column("s").to_pylist()), s[nz], rtol=1e-12, atol=0
        )
    again = run()
    for b, c in zip(out, again):
        assert b.equals(c)


def test_cli_reference_invocation(spark, tmp_path):
    """python -m k_means_in_mapreduce_spark with the reference's exact 7
    positional args (KMeans.java:96-109): text-point input -> seeded fit
    -> 'clusterId<TAB><c1, c2, ...>' text output (KMeans.java:90,150)
    plus run report. Consumers filter part-* like the reference's own
    readAndAddCentroid filters part-r-* (KMeans.java:228)."""
    import json
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "cents")
    emb = load_table(spark, SF0001, "embeddings").limit(200)
    write_points(emb, inp, "embedding")

    assert main([inp, "4", "10", out, "64", "0.001", "4"]) == 0

    lines = [
        r["value"]
        for r in spark.read.text(os.path.join(out, "part-*")).collect()
    ]
    assert len(lines) == 4
    parsed = {}
    for ln in lines:
        cid, vec = ln.split("\t", 1)
        assert vec.startswith("<") and vec.endswith(">")
        parsed[int(cid)] = [float(x) for x in vec[1:-1].split(", ")]
    assert sorted(parsed) == [0, 1, 2, 3]
    assert all(len(v) == 64 for v in parsed.values())

    report = json.load(open(os.path.join(out, "_run_report.json")))
    assert report["k"] == 4 and report["iterations"] >= 1
    # the cumulative log lives BESIDE the output dir (the overwrite sink
    # wipes the dir itself each run) and appends across runs
    log_path = str(tmp_path / "outputsLog.txt")
    assert os.path.exists(log_path)
    n_lines_1 = len(open(log_path).read().splitlines())
    assert main([inp, "4", "10", out, "64", "0.001", "4"]) == 0
    assert len(open(log_path).read().splitlines()) == n_lines_1 + 1

    # bad invocations fail fast with the reference's arg contract
    assert main(["onlyone"]) == 2
    assert main([inp, "0", "10", out, "64", "0.001", "4"]) == 2
    # declared dim mismatching the data is a validation error, not a crash
    assert main([inp, "4", "10", out, "63", "0.001", "4"]) == 1


def test_mllib_model_persistence_roundtrip(spark, tmp_path, emb):
    """Production-path model lifecycle: a fitted KMeansModel saved to
    storage and reloaded in a fresh object must carry identical centers
    and produce identical assignments — the deploy/score split a
    long-lived pipeline runs (train once, score from the artifact)."""
    from pyspark.ml.clustering import KMeansModel

    res = fit_mllib(emb, k=10, max_iter=10, seed=42)
    path = str(tmp_path / "kmeans_model")
    res.model.write().overwrite().save(path)
    loaded = KMeansModel.load(path)

    orig = np.array(res.model.clusterCenters())
    back = np.array(loaded.clusterCenters())
    assert np.array_equal(orig, back)

    from pyspark.ml.functions import array_to_vector

    vecs = emb.withColumn("__features", array_to_vector(F.col("embedding")))
    a = {r["vec_id"]: r["cluster_id"] for r in res.model.transform(vecs).collect()}
    b = {r["vec_id"]: r["cluster_id"] for r in loaded.transform(vecs).collect()}
    assert a == b


def test_cli_rejects_non_numeric_tokens_and_negative_epsilon(spark, tmp_path):
    """Reference parity for malformed input: a non-numeric token must fail
    the run (KMeans.java:269 dies on NumberFormatException) instead of
    becoming a NULL element that passes the arity gate and poisons the
    centroids with NaN; a negative epsilon is rejected at argument
    validation like the other numeric args."""
    from k_means_in_mapreduce_spark.cli import main

    inp = tmp_path / "pts"
    inp.mkdir()
    (inp / "points.txt").write_text("<1.0, 2.0>\n<3.0, abc>\n<5.0, 6.0>\n")
    out = str(tmp_path / "out")
    rc = main([str(inp), "2", "3", out, "2", "0.001", "2"])
    assert rc == 1

    rc2 = main([str(inp), "2", "3", out, "2", "-0.5", "2"])
    assert rc2 == 2


@pytest.mark.parametrize(
    "text,dim",
    [
        pytest.param("<1.0, 2.0>\n<3.0, abc>\n<5.0, 6.0>\n", 2, id="non-numeric"),
        pytest.param("<1.0, 2.0>\n<3.0>\n<5.0, 6.0>\n", 2, id="ragged"),
        pytest.param("<1.0, 2.0>\n<3.0, 4.0>\n<5.0, 6.0>\n", 3, id="wrong-dim"),
        # `1d` sends the batch token by token, where `1_000` (which
        # Python's float() reads) must still be malformed, as Spark reads it
        pytest.param("<1d, 2.0>\n<3.0, 1_000>\n<5.0, 6.0>\n", 2,
                     id="token-by-token"),
    ],
)
def test_cli_refuses_malformed_input_after_one_job(spark, tmp_path, capsys,
                                                    text, dim):
    """A line that is not exactly ``dim`` numbers parses as a NULL vector,
    which the fit's init-sample job counts: ``main`` returns 1 after that
    one job, with the count on stderr, and writes no output."""
    from k_means_in_mapreduce_spark.cli import main

    inp = tmp_path / "pts"
    inp.mkdir()
    (inp / "points.txt").write_text(text)
    out = tmp_path / "out"
    rc = []
    _, jobs = jobs_in_group(
        spark, f"cli-malformed-{tmp_path.name}",
        lambda: rc.append(main([str(inp), "2", "3", str(out), str(dim), "0", "8"])),
    )
    assert rc == [1] and len(jobs) == 1, (rc, jobs)
    bad = 3 if dim == 3 else 1
    assert f"{bad} of 3 vectors are NULL" in capsys.readouterr().err
    assert not out.exists()


def test_cli_reads_java_spellings_as_the_plain_ones(spark, tmp_path):
    """A file whose only unusual spelling is ``1d`` (Java's double suffix,
    which Spark's cast reads and pyarrow's refuses, so its batch parses
    token by token) fits to the same centroids and movement history as
    the same file spelled ``1.0``."""
    import json
    import os

    from k_means_in_mapreduce_spark.cli import main

    rng = np.random.default_rng(3)
    x = np.concatenate([rng.normal(c, 0.3, (100, 3)) for c in (0, 4, 8)])
    lines = ["<" + ", ".join(map(repr, row)) + ">" for row in x.tolist()]
    lines[0] = "<1.0, 2.0, 3.0>"
    runs = []
    for name, text in (("plain", lines),
                       ("suffix", ["<1d, 2.0, 3.0>", *lines[1:]])):
        inp = tmp_path / name
        inp.mkdir()
        (inp / "points.txt").write_text("\n".join(text) + "\n")
        out = str(tmp_path / f"{name}_out")
        assert main([str(inp), "3", "10", out, "3", "0", "4"]) == 0
        report = json.load(open(os.path.join(out, "_run_report.json")))
        cents = sorted(
            r["value"]
            for r in spark.read.text(os.path.join(out, "part-*")).collect()
        )
        runs.append((cents, report["movement_history"]))
    assert runs[0] == runs[1]


def test_cli_run_is_two_jobs(spark, tmp_path):
    """A valid CLI run at perfbench's ``kmeans_lloyd`` shape (20k×64 blobs,
    k=8, 5 iterations, epsilon 0) is 2 Spark jobs: the fit's one job of
    one task, which parses the text, fills the fit's cache, checks the
    input, draws the init and runs all 5 rounds, then the centroid
    write."""
    import json
    import os

    from k_means_in_mapreduce_spark.cli import main
    from perfbench import gen

    x = gen.blobs(7)
    text = str(tmp_path / "blobs.txt")
    gen.write_blobs(x, str(tmp_path / "blobs.parquet"), text)
    out = str(tmp_path / "out")
    rc = []
    _, jobs = jobs_in_group(
        spark, "cli-valid-run",
        lambda: rc.append(main([text, "8", "5", out, "64", "0", "8"])),
    )
    assert rc == [0] and len(jobs) == 2, (rc, jobs)
    tracker = spark.sparkContext.statusTracker()
    stages = tracker.getJobInfo(jobs[0]).stageIds
    assert [tracker.getStageInfo(st).numTasks for st in stages] == [1]
    report = json.load(open(os.path.join(out, "_run_report.json")))
    assert report["iterations"] == 5 and report["empty_cluster_reinits"] == 0


def test_fit_with_one_reinit_is_two_jobs(spark, tmp_path):
    """A one-task fit that meets one empty cluster (C4) is 2 jobs of one
    task each: the first draws and loops until the empty round, the
    second re-draws with seed + 1000 and loops the remaining rounds
    (perfbench's ``kmeans_lloyd`` warm fit on seed-7 blobs)."""
    from perfbench import gen

    parquet = str(tmp_path / "blobs.parquet")
    gen.write_blobs(gen.blobs(7), parquet, str(tmp_path / "blobs.txt"))
    df = spark.read.parquet(parquet).cache()
    df.count()
    cfg = K.KMeansConfig(k=8, max_iter=5, tol=0.0, seed=42)
    tracker = spark.sparkContext.statusTracker()
    try:
        m, jobs = jobs_in_group(spark, "fit-one-reinit",
                                lambda: K.fit(df, cfg))
        assert (m.n_iter, m.reinit_count) == (5, 1)
        assert len(jobs) == 2, jobs
        for job in jobs:
            stages = tracker.getJobInfo(job).stageIds
            assert [tracker.getStageInfo(st).numTasks for st in stages] == [1]
    finally:
        df.unpersist()


def test_iteration_partitions_regimes():
    """Pin the one sizing rule: one task per 128 MiB of cached vectors,
    never fewer than 1. Small caches run as one task (each Python task pays
    a fixed worker cost), and at scale huge caches are never coalesced
    below what fits executor memory."""
    mib = 1024 * 1024
    assert K._iteration_partitions(0) == 1
    assert K._iteration_partitions(1 * mib) == 1
    assert K._iteration_partitions(128 * mib) == 1
    assert K._iteration_partitions(128 * mib + 1) == 2
    assert K._iteration_partitions(205 * mib) == 2
    tb = 1024**4
    assert K._iteration_partitions(100 * tb) == 100 * tb // (128 * mib)


def test_cli_fidelity_writes_per_iteration_dirs(spark, tmp_path, capsys):
    """--fidelity reproduces the reference's per-iteration output
    directories (`output + iter`, KMeans.java:148): <out>1..<out>N each
    hold that iteration's centroids in the same text shape, and <out>N
    equals the final <out>."""
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "cents")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    assert main([inp, "3", "4", out, "64", "0.0", "2", "--fidelity"]) == 0
    # fresh path: nothing pre-existing, so the pre-flight must NOT print
    # the vetted-entries line (it would be noise on every clean run)
    assert "vetted" not in capsys.readouterr().err

    def read_dir(path):
        return sorted(
            r["value"]
            for r in spark.read.text(os.path.join(path, "part-*")).collect()
        )

    # tol=0 never converges -> exactly max_iter=4 completed iterations
    iter_dirs = [f"{out}{i}" for i in range(1, 5)]
    for d in iter_dirs:
        assert os.path.isdir(d), d
        assert len(read_dir(d)) == 3
    assert not os.path.isdir(f"{out}5")
    assert read_dir(iter_dirs[-1]) == read_dir(out)
    # a shorter re-run on the same path sweeps the stale higher dirs —
    # otherwise a user diffing per-iteration output reads two runs as one
    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 0
    assert os.path.isdir(f"{out}2")
    assert not os.path.isdir(f"{out}3") and not os.path.isdir(f"{out}4")
    # the re-run found <out>1..<out>4 pre-existing: the pre-flight must
    # name them as overwrite/sweep-eligible on stderr BEFORE destroying
    # anything, so a vetted-but-foreign sibling output is visible
    # (ADVICE r8; contiguous indices collapse to one brace-style span)
    err = capsys.readouterr().err
    assert "vetted" in err
    assert f"{out}{{1..4}}" in err
    # default run writes no per-iteration dirs
    out2 = str(tmp_path / "cents_plain")
    assert main([inp, "3", "4", out2, "64", "0.0", "2"]) == 0
    assert not os.path.isdir(f"{out2}1")


def test_cli_fidelity_vet_line_collapses_ranges_without_hiding_entries():
    """The vetted-entries disclosure collapses contiguous index runs so a
    1000-iteration history reads as one span — but every index must be
    REPRESENTED: a foreign dir at index 421 sits inside the named span,
    never silently beyond a truncation point (no Spark: pure string
    formatting)."""
    from k_means_in_mapreduce_spark.cli import _format_vetted

    short = _format_vetted("/tmp/res", {3, 1})
    assert "/tmp/res1, /tmp/res3" in short and "more" not in short
    # spans render shell-brace style so the range delimiter never glues
    # two absolute paths into one ".."-containing pseudo-path (ADVICE r9)
    long = _format_vetted("/tmp/res", set(range(1, 1001)))
    assert "/tmp/res{1..1000}" in long and "more" not in long
    # gapped layout: each gap starts a new span
    gapped = _format_vetted("/tmp/res", {1, 2, 3, 7, 9, 10})
    assert "/tmp/res{1..3}" in gapped
    assert "/tmp/res7, /tmp/res{9..10}" in gapped
    # pathological alternating gaps overflow the span cap; the summary
    # still accounts for every hidden entry by exact count
    alt = _format_vetted("/tmp/res", set(range(1, 101, 2)))  # 50 spans
    assert "(+30 more entries)" in alt


def test_cli_fidelity_vet_line_represents_every_index_property():
    """Property: parsing the disclosure back (named paths + span ranges +
    the '+N more' remainder) accounts for EXACTLY the vetted set — no
    index is silently dropped, none invented (no Spark)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from k_means_in_mapreduce_spark.cli import _format_vetted

    @settings(max_examples=200, deadline=None)
    @given(st.sets(st.integers(min_value=1, max_value=500), min_size=1))
    def check(idx):
        line = _format_vetted("/tmp/out", idx)
        body = line.split("overwrite/sweep: ", 1)[1]
        m = re.search(r" \(\+(\d+) more entries\)$", body)
        hidden = int(m.group(1)) if m else 0
        body = body[: m.start()] if m else body
        named: set[int] = set()
        for item in body.split(", "):
            span = re.fullmatch(r"/tmp/out\{(\d+)\.\.(\d+)\}", item)
            if span:
                lo, hi = int(span.group(1)), int(span.group(2))
            else:
                lo = hi = int(item[len("/tmp/out"):])
            named.update(range(lo, hi + 1))
        assert named <= idx  # never invents an index
        assert len(idx - named) == hidden  # remainder exactly counted

    check()


def test_cli_fidelity_refuses_unrelated_dirs_before_any_work(
    spark, tmp_path, capsys
):
    """--fidelity only ever touches directories that look like a previous
    run's centroid output (_SUCCESS / part-* files). An unrelated user
    directory matching the <output><N> naming makes the run fail loudly
    BEFORE any Spark work — nothing is fitted, written, or deleted
    (ADVICE r6 medium + the r7 review's fail-fast refinement)."""
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "res")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    # an unrelated pre-existing dir matching the numeric-suffix naming:
    # with max_iter=2 a previous longer run's sweep would start at <out>3
    unrelated = tmp_path / "res3"
    unrelated.mkdir()
    (unrelated / "precious.txt").write_text("user data")

    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 1
    assert unrelated.is_dir()
    assert (unrelated / "precious.txt").read_text() == "user data"
    assert "refusing to run" in capsys.readouterr().err
    # fail-fast: the refusal must land before the fit writes anything
    assert not os.path.exists(out)
    assert not os.path.exists(f"{out}1")

    # user resolves the conflict; re-run must now succeed
    import shutil

    shutil.rmtree(unrelated)

    # a dir beyond a GAP above max_iter is untouchable by overwrite (only
    # reaches i <= max_iter) and by the sweep (contiguous walk) — it must
    # NOT block the run, and must survive it
    backup = tmp_path / "res2024"
    backup.mkdir()
    (backup / "precious.txt").write_text("year-stamped backup")
    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 0
    assert (backup / "precious.txt").read_text() == "year-stamped backup"


def test_cli_uri_output_writes_report_to_working_dir(
    spark, tmp_path, monkeypatch, capsys
):
    """A URI output (hdfs://, s3a://, file://) is reachable by the Spark
    writer but not by os-level open(): the centroids land at the URI and
    the report/log fall back to the working directory — where the
    reference keeps outputsLog.txt anyway — instead of crashing after a
    successful fit. The --fidelity stale sweep is skipped with a warning
    (local paths only)."""
    import json
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    workdir = tmp_path / "wd"
    workdir.mkdir()
    monkeypatch.chdir(workdir)
    out = f"file://{tmp_path}/cents_uri"

    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 0

    # centroids reached the URI target via the Spark writer
    assert (tmp_path / "cents_uri" / "_SUCCESS").exists()
    assert (tmp_path / "cents_uri1").is_dir()  # per-iteration snapshot
    # report + cumulative log landed in the working directory
    report = json.loads((workdir / "_run_report.json").read_text())
    assert report["output"] == out and report["iterations"] == 2
    assert "k=3" in (workdir / "outputsLog.txt").read_text()
    err = capsys.readouterr().err
    assert "output is a URI" in err
    assert "are NOT swept" in err


def test_cli_fidelity_toctou_refusal_still_writes_report(
    spark, tmp_path, monkeypatch, capsys
):
    """An unrelated dir that appears BETWEEN the pre-flight vet and the
    stale sweep (TOCTOU) makes the sweep refuse — but the fit already
    succeeded and its centroid outputs are on disk, so the run report and
    cumulative log must still be written; exit 1 flags the unswept dirs
    (ADVICE r7: a bare failure exit with partial outputs read as a total
    failure)."""
    import json
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.operators import kmeans_df
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "res")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    real_fit = kmeans_df.fit

    def fit_then_plant(*a, **kw):
        model = real_fit(*a, **kw)
        # lands after pre-flight, before the sweep's contiguous walk
        # (max_iter=2, tol=0 -> sweep starts at <out>3)
        mid = tmp_path / "res3"
        mid.mkdir()
        (mid / "precious.txt").write_text("user data")
        return model

    monkeypatch.setattr(kmeans_df, "fit", fit_then_plant)

    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 1
    err = capsys.readouterr().err
    assert "refusing to remove" in err
    assert "already written" in err
    # the planted dir survives untouched
    assert (tmp_path / "res3" / "precious.txt").read_text() == "user data"
    # the successful fit's outputs + report + log all landed anyway
    assert os.path.isdir(f"{out}1") and os.path.isdir(f"{out}2")
    report = json.load(open(os.path.join(out, "_run_report.json")))
    assert report["iterations"] == 2
    assert "k=3" in (tmp_path / "outputsLog.txt").read_text()


def test_cli_fidelity_sweeps_gapped_stale_dirs_and_refuses_plain_files(
    spark, tmp_path, capsys
):
    """Two guard gaps from the r8 review: (1) the stale sweep must remove
    run-output dirs BEYOND a gap (a contiguous-only walk stopped at the
    first missing index and silently left two runs' centroids mixed);
    (2) a plain FILE named <out><i> is destroyed by Spark's overwrite
    write just like a dir, so pre-flight must refuse it, not skip it via
    an isdir filter."""
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "res")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    # (2) plain file at a touchable index: refuse before any work
    clobber_target = tmp_path / "res1"
    clobber_target.write_text("user notes")
    assert main([inp, "3", "8", out, "64", "1e12", "2", "--fidelity"]) == 1
    assert "refusing to run" in capsys.readouterr().err
    assert clobber_target.read_text() == "user notes"
    clobber_target.unlink()

    # (1) fake previous-run outputs at res5/res6 with a gap at 2-4;
    # epsilon=1e12 converges after 1 iteration, so final=1 and a
    # contiguous walk from 2 would find nothing and leave them behind
    for i in (5, 6):
        d = tmp_path / f"res{i}"
        d.mkdir()
        (d / "_SUCCESS").write_text("")
        (d / "part-00000").write_text("0\t<0.0>\n")
    # a gap dir BEYOND max_iter stays untouchable and must survive
    backup = tmp_path / "res2024"
    backup.mkdir()
    (backup / "_SUCCESS").write_text("")

    assert main([inp, "3", "8", out, "64", "1e12", "2", "--fidelity"]) == 0
    assert os.path.isdir(f"{out}1")
    assert not os.path.exists(f"{out}5") and not os.path.exists(f"{out}6")
    assert backup.is_dir()


def test_cli_fidelity_preflight_is_listdir_not_per_index_stat(
    spark, tmp_path
):
    """The pre-flight vet must cost one parent listdir, not one stat per
    index up to max_iter (ADVICE r7: max_iter=10^9 stalled the CLI before
    any work). With a huge max_iter and a large epsilon the run converges
    after one iteration — it completes at all only if pre-flight doesn't
    walk the index range. A wall-clock alarm turns a reintroduced
    O(max_iter) loop into a crisp failure instead of an apparent suite
    hang (ADVICE r8)."""
    import os
    import signal

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "res")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    def _too_slow(signum, frame):
        raise AssertionError(
            "CLI --fidelity run exceeded the 300s wall-clock bound: the "
            "pre-flight has likely regressed to a per-index stat loop "
            "over max_iter=10^9 (it must listdir the parent once)"
        )

    prev = signal.signal(signal.SIGALRM, _too_slow)
    signal.alarm(300)  # one-iteration fit on 100 points: normally <60s
    try:
        assert main(
            [inp, "3", "1000000000", out, "64", "1e12", "2", "--fidelity"]
        ) == 0
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)
    assert os.path.isdir(f"{out}1")
