"""The benchmark's workloads.

Each workload has a cold op, which starts from files on disk and reuses
nothing a previous op left behind, and a warm op, which works on inputs
the session has already cached or built. ``generate`` writes the seeded
inputs; ``load`` reads and caches what the warm op works on (set-up runs
it several times). The cold op runs first, so it carries the warm-up of
the JVM and the Python workers, as a user's first op does. After timing,
``check(kind, out)`` compares one op's output with an independent result
and ``check_outputs`` runs the checks of the whole run; both return the
mismatches they found. A workload whose op is a pass of queries defines
``queries(kind)`` in place of ``cold`` and ``warm``, so that each query is
timed, traced and failed on its own.
"""

from __future__ import annotations

import functools
import glob
import os

import numpy as np
from pyspark.sql import functions as F

from . import gen

KMEANS_K = 8
KMEANS_ITERS = 5
KMEANS_SEED = 42  # also the CLI's default init seed

# The pipeline's queries: two artifact builders (Jaccard pairs and
# quantiles), connected components, and a streaming query that pays a
# fixture collect.
PIPELINE_QUERIES = (
    "dedup_groups_star",
    "lineitem_price_quantiles",
    "stream_kmeans_scoring",
)


def noop(df) -> None:
    """Force every row of `df` without collecting or writing it."""
    df.write.format("noop").mode("overwrite").save()


def lloyd(x: np.ndarray, init, iters: int) -> np.ndarray:
    """Reference Lloyd iterations in NumPy: lowest-index argmin, mean per
    cluster. `init(r)` gives the initial centroids for r = 0 and the
    re-drawn ones after the r-th empty cluster; such an iteration updates
    nothing, as in the engine (reference C4)."""
    reinits = 0
    c = np.asarray(init(0), dtype=np.float64)
    x2 = (x * x).sum(axis=1)[:, None]
    for _ in range(iters):
        d = x2 - 2.0 * x @ c.T + (c * c).sum(axis=1)[None, :]
        a = d.argmin(axis=1)
        if (np.bincount(a, minlength=len(c)) == 0).any():
            reinits += 1
            c = np.asarray(init(reinits), dtype=np.float64)
            continue
        c = np.stack([x[a == i].mean(axis=0) for i in range(len(c))])
    return c


def close(name: str, got, want, rtol: float = 1e-6) -> list[str]:
    got, want = np.asarray(got, dtype=np.float64), np.asarray(want, dtype=np.float64)
    if got.shape != want.shape or not np.allclose(got, want, rtol=rtol, atol=1e-9):
        return [f"{name}: centroids differ from the NumPy replay"]
    return []


class Workload:
    name = ""

    def __init__(self, root: str, work: str, seed: int, nproc: int) -> None:
        self.root, self.work, self.seed, self.nproc = root, work, seed, nproc
        self.spark = None
        self.parquet = None  # the warm op's input, if it reads one
        self.df = None  # ... and that input, cached

    def before_session(self) -> None:
        pass

    def generate(self) -> None:
        raise NotImplementedError

    def load(self) -> None:
        if self.parquet is None:
            return
        if self.df is not None:
            self.df.unpersist()
        self.df = self.spark.read.parquet(self.parquet).cache()
        self.df.count()

    def cold(self):
        raise NotImplementedError

    def warm(self):
        raise NotImplementedError

    def check(self, kind: str, out) -> list[str]:
        return []

    def check_outputs(self) -> dict[str, str]:
        """Checks of the whole run, after timing: output name -> error."""
        return {}


class KMeansLloyd(Workload):
    """Lloyd's k-means on Gaussian blobs: the reference's own dataflow.
    Cold op: the 7-argument CLI on the text file (parse, validate, cache,
    fit, write). Warm op: ``kmeans_df.fit`` on the cached parquet rows."""

    name = "kmeans_lloyd"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        # NumPy replays of the library fit and of the CLI, computed once
        self.fit_replay = self.cli_replay = None
        self.counts_checked = False

    def generate(self) -> None:
        self.x = gen.blobs(self.seed)
        self.parquet = os.path.join(self.work, "blobs.parquet")
        self.text = os.path.join(self.work, "blobs.txt")
        gen.write_blobs(self.x, self.parquet, self.text)

    def _config(self, iters: int = KMEANS_ITERS):
        from k_means_in_mapreduce_spark.operators.kmeans_df import KMeansConfig

        return KMeansConfig(k=KMEANS_K, max_iter=iters, tol=0.0,
                            seed=KMEANS_SEED, method="arrow")

    def _cli(self, inp: str, out: str) -> None:
        from k_means_in_mapreduce_spark import cli

        rc = cli.main([inp, str(KMEANS_K), str(KMEANS_ITERS), out,
                       str(self.x.shape[1]), "0", str(self.nproc)])
        if rc != 0:
            raise RuntimeError(f"cli.main exited with {rc}")

    def cold(self):
        out = os.path.join(self.work, "cli_out")
        self._cli(self.text, out)
        return out

    def warm(self):
        from k_means_in_mapreduce_spark.operators import kmeans_df

        return kmeans_df.fit(self.df, self._config())

    def _replay(self, points_df, features_col: str) -> np.ndarray:
        from k_means_in_mapreduce_spark.operators import kmeans_df

        points = points_df.select(F.col(features_col).alias("features"))
        return lloyd(self.x, lambda r: kmeans_df.sample_initial_centroids(
            points, KMEANS_K, KMEANS_SEED + 1000 * r, "features"), KMEANS_ITERS)

    def check(self, kind: str, out) -> list[str]:
        from k_means_in_mapreduce_spark.operators import kmeans_df
        from k_means_in_mapreduce_spark.sources.text_points import parse_points

        if kind == "warm":
            if self.fit_replay is None:
                self.fit_replay = self._replay(self.df, "embedding")
            errs = close("fit", out.centroids, self.fit_replay)
            if out.n_iter != KMEANS_ITERS:
                errs.append(f"fit ran {out.n_iter} iterations")
            if not self.counts_checked:
                self.counts_checked = True
                triples = kmeans_df.cluster_features_arrow(
                    self.df.select(F.col("embedding").alias("features")),
                    out.centroids, "features",
                )
                n = sum(t[1] for t in triples)
                if n != len(self.x):
                    errs.append(f"cluster counts sum to {n}, not {len(self.x)}")
            return errs
        if self.cli_replay is None:
            self.cli_replay = self._replay(
                parse_points(self.spark, self.text), "features"
            )
        rows = {}
        for part in glob.glob(os.path.join(out, "part-*")):
            with open(part) as fh:
                for line in fh:
                    cid, vec = line.rstrip("\n").split("\t")
                    rows[int(cid)] = [float(v) for v in vec.strip("<>").split(", ")]
        got = [rows[i] for i in sorted(rows)]
        return close("cli", got, self.cli_replay)


class Pipeline(Workload):
    """Registry queries over the generated tables, each forced with the
    ``noop`` sink. The cold op is the first pass after the artifacts were
    deleted, so it builds them; warm ops are later passes, which serve
    them. The seed also shuffles the query order of every pass."""

    name = "pipeline"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.sf_dir = os.path.join(self.work, "tables")
        self.rng = np.random.default_rng([self.seed, 4])

    def before_session(self) -> None:
        # the package memoizes served artifacts in-process, so they are
        # deleted before the session (and that memo) exists
        import bench

        bench.clear_artifact_cache(self.sf_dir)

    def generate(self) -> None:
        gen.write_tables(self.seed, self.sf_dir)

    def _plan(self, name: str):
        from k_means_in_mapreduce_spark import registry

        return functools.partial(registry.QUERIES[name], self.spark, self.sf_dir)

    def queries(self, kind: str):
        """One pass: (name, plan, sink) per query, in a seeded order."""
        order = self.rng.permutation(len(PIPELINE_QUERIES))
        return [(n, self._plan(n), noop)
                for n in (PIPELINE_QUERIES[i] for i in order)]

    def check_outputs(self) -> dict[str, str]:
        """Each query once more, untimed, through the path the warm passes
        took (served artifacts, warm memos), collected and compared with
        its DuckDB oracle on the same tables like
        ``tools/driver_sim.compare``. A wrong artifact the cold pass built
        shows here too, since the warm path serves it."""
        import sys

        import duckdb

        from k_means_in_mapreduce_spark import registry

        sys.path.insert(0, os.path.join(self.root, "tools"))
        from driver_sim import TABLES, compare

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, t)}.parquet'")
        bad = {}
        for name in PIPELINE_QUERIES:
            try:
                got = self._plan(name)().toPandas()
                compare(got, con.sql(registry.ORACLES[name]).df(), name)
            except AssertionError as ex:
                bad[name] = f"mismatch: {str(ex)[:200]}"
            except Exception as ex:  # noqa: BLE001 - a query that fails here fails the run
                bad[name] = f"{type(ex).__name__}: {str(ex)[:200]}"
        con.close()
        return bad


WORKLOADS = {w.name: w for w in (KMeansLloyd, Pipeline)}
