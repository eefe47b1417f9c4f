#!/usr/bin/env python3
"""BENCH harness — runs the engine's headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line LAST on stdout:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "result_file": "..."}

The driver's stdout capture keeps only the last ~2000 characters, so the
printed line carries the headline numbers plus the slowest-query summary;
the FULL per-query detail (warm + cold columns for every registry entry)
is written to ``BENCH_RESULT.json`` at the repo root (fixed path, same
basename every run — this is the file to read) and archived under
``.benchmarks/``. Round 5's bench artifact recorded ``"parsed": null``
because the full 5 KB line's head fell outside that tail window.

Headline metric: seconds per Lloyd iteration at n=100k points (the
reference's benchmark unit — BASELINE.md reports ~23 s/iter for Hadoop
MapReduce and 0.07 s/iter for sequential Python at n=100k, d=30).
`embeddings` is deterministically tiled to 100k rows (d=64) so the scale
matches the published grid.

Artifact honesty: fingerprint-keyed artifacts (`.tmp/<tag>/`) persist
across runs, so a warm-only measurement of an artifact-backed query times
a parquet read, not the computation. By default the bench DELETES the
artifact cache first, so each ARTIFACT's first build lands in some
query's first run (for shared artifacts, the alphabetically-first
consumer's); both columns are reported (``queries`` = warm steady-state,
``queries_cold`` = first run). ``--keep-artifacts`` skips the clearing
for quick local iteration.

Each query is forced end-to-end with the `noop` sink (full evaluation,
no driver-side collect cost).

Every query and every k-means grid fit runs under its own Spark job
group. After each timed rep, outside the timed region, the rep's work is
read from Spark's status store with ``perfbench.counters.SparkCounters``
and its process-tree CPU with ``perfbench.run.tree_cpu_s``; the
``queries_profile`` and ``kmeans_profile`` blocks carry them (see
``profile``). ``tools/bench_diff.py`` calls regressions from these
counters, not from wall time.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_N = 100_000  # reference benchmark scale (BASELINE.md, Fig 3.1/3.5)
# second published grid point (Fig 3.5: Hadoop ~26 s/iter, sequential
# Python 0.24 s at n=400k)
BENCH_N_LARGE = 400_000
BENCH_K = 4
BENCH_ITERS = 5
# median-of-5 per method (was 3; the r8 box showed a uniform ~1.3x
# slow-phase across all 111 queries and a median-of-3 headline is one bad
# draw away from overstating it) — see comment in bench_kmeans_iteration
BENCH_REPEATS = 5


def iter_min(stats: dict) -> float:
    """Load-robust secondary headline: min-of-reps / iterations.

    ``value`` stays the median (round-over-round comparability); the min
    is the statistic a noisy-neighbor box cannot inflate. ``stats`` is
    one method's entry from bench_kmeans_iteration (sorted ``spread`` of
    rep walls + ``iterations``)."""
    return round(min(stats["spread"]) / max(1, stats["iterations"]), 3)


def read_host_load() -> dict:
    """One host-load evidence sample, recorded at run time. loadavg is
    box-wide and includes this bench's own work; the /proc/stat
    aggregate cpu jiffies split is what lets a reader separate that from
    ``steal`` — time the hypervisor ran someone else while this guest
    was runnable. Best-effort: returns {} on platforms without these
    interfaces rather than failing the bench."""
    out: dict = {}
    try:
        out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        with open("/proc/stat") as fh:
            first = fh.readline().split()
        if first and first[0] == "cpu":
            names = ("user", "nice", "system", "idle", "iowait", "irq",
                     "softirq", "steal", "guest", "guest_nice")
            out["cpu_jiffies"] = {
                k: int(v) for k, v in zip(names, first[1:])
            }
    except (OSError, ValueError):
        pass
    return out


def host_load_delta(before: dict, after: dict) -> dict:
    """Evidence block for one bench phase: loadavg at both edges plus the
    /proc/stat jiffies delta with derived busy/iowait/steal fractions of
    total elapsed jiffies (all cpus). busy_frac ~1.0 is expected while
    the bench itself saturates local[32]; a nonzero steal_frac or an
    end-loadavg far above this process's own parallelism says the box
    was shared during the run."""
    d: dict = {}
    if "loadavg" in before:
        d["loadavg_start"] = before["loadavg"]
    if "loadavg" in after:
        d["loadavg_end"] = after["loadavg"]
    b, a = before.get("cpu_jiffies"), after.get("cpu_jiffies")
    if b and a:
        # guest/guest_nice are already folded into user/nice by the
        # kernel; they are DROPPED from the emitted delta (not just the
        # fraction denominator) so any downstream reader that sums the
        # dict gets the true total instead of double-counting VM time
        # (ADVICE r17 — the fractions were fixed r17 but the raw dict
        # still carried the trap).
        delta = {k: a[k] - b[k] for k in a
                 if k in b and k not in ("guest", "guest_nice")}
        d["jiffies"] = delta
        total = sum(delta.values())
        if total > 0:
            idle = delta.get("idle", 0) + delta.get("iowait", 0)
            d["busy_frac"] = round(1 - idle / total, 4)
            d["iowait_frac"] = round(delta.get("iowait", 0) / total, 4)
            d["steal_frac"] = round(delta.get("steal", 0) / total, 4)
    return d


# Work fields that repeat exactly when the same plan runs on the same
# data; a row whose warm reps agree on all of them is ``counts_stable``
COUNTS = ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb",
          "spill_mb")


def profile(works: list, cpus: list[float]) -> dict:
    """Profile of one bench row from its warm reps' ``Work`` and
    process-tree CPU seconds: the last rep's fields (job groups dropped),
    executor and tree CPU per rep, and whether every rep did the same
    counted work."""
    from dataclasses import asdict

    out = {k: round(v, 6) if isinstance(v, float) else v
           for k, v in asdict(works[-1]).items() if k != "groups"}
    out["executor_cpu_s_reps"] = [round(w.executor_cpu_s, 3) for w in works]
    out["tree_cpu_s_reps"] = [round(c, 3) for c in cpus]
    out["counts_stable"] = all(
        getattr(w, k) == getattr(works[0], k) for w in works for k in COUNTS
    )
    return out


def timed_reps(counters, group: str, repeats: int, rep,
               before=None) -> tuple[list[float], list, dict]:
    """Run ``rep()`` ``repeats`` times under the job group ``group``.
    Only ``rep()`` is timed: ``before()`` runs ahead of the clock, and
    each rep's work and tree CPU are read after it stops. Returns the
    walls, the results and the profile of the warm reps: every rep after
    the first, which pays one-off costs (artifact builds, codegen, JIT;
    a k-means grid fit's first rep reads ~1.5x the executor CPU of the
    rest)."""
    from perfbench.run import tree_cpu_s

    walls, results, works, cpus = [], [], [], []
    counters.read_new()  # drop jobs submitted before this row
    counters.set_group(group)
    try:
        for _ in range(repeats):
            if before is not None:
                before()
            c0 = tree_cpu_s(os.getpid())
            t0 = time.monotonic()
            results.append(rep())
            walls.append(time.monotonic() - t0)
            cpus.append(tree_cpu_s(os.getpid()) - c0)
            works.append(counters.read_new())
    finally:
        counters.set_group(None)
    return walls, results, profile(works[1:], cpus[1:])


def bench_query(spark, counters, name: str, fn,
                sf_dir: str = SF_DIR) -> tuple[float, float, dict]:
    """Cold wall (the first rep), warm wall (min over the later reps —
    steady state: the first rep absorbs one-off costs such as artifact
    builds, shuffle file creation and codegen) and warm-rep profile of
    one registry query. Streaming queries get an extra rep: their wall
    includes state-store setup and micro-batch scheduling, which showed
    a 2-4x same-code spread at sf0.1."""
    repeats = 4 if name.startswith("stream_") else 3
    walls, _, prof = timed_reps(
        counters, name, repeats, lambda: force(fn(spark, sf_dir))
    )
    return round(walls[0], 3), round(min(walls[1:]), 3), prof


def make_spark():
    from k_means_in_mapreduce_spark.session import get_session

    return get_session(
        app_name="kmeans-engine-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        extra_conf={
            # no stage progress bars on stdout: they drown the final JSON
            # line inside the driver's bounded tail capture
            "spark.ui.showConsoleProgress": "false",
            # past this cap the status store evicts skipped stages first,
            # and SparkCounters cannot read a job whose stage is gone; one
            # run submits a few thousand stages
            "spark.ui.retainedStages": "10000",
        },
    )


def force(df) -> None:
    """Evaluate the full plan without shipping rows to the driver."""
    df.write.mode("overwrite").format("noop").save()


def bench_kmeans_iteration(
    spark,
    counters,
    bench_n: int = BENCH_N,
    repeats: int = BENCH_REPEATS,
) -> dict:
    """Seconds/iteration of the reference dataflow (assign -> CF agg ->
    collect k rows) on ``bench_n`` cached points — BASELINE.md's headline
    unit (published grid points: n=100k and n=400k, Fig 3.1/3.5)."""
    from pyspark.sql import functions as F

    from k_means_in_mapreduce_spark.operators import kmeans_df as K

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n0 = emb.count()
    copies = max(1, (bench_n + n0 - 1) // n0)
    # Deterministic tiling: copy c shifts vec_id into a fresh id range and
    # jitters dim 0 by c*1e-3 so points are distinct but the distribution
    # (and thus iteration count) is stable run-to-run.
    tiled = (
        emb.crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
        .select(
            (F.col("vec_id") + F.col("copy") * n0).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x + F.when(i == 0, F.col("copy") * 1e-3).otherwise(F.lit(0.0))
                ).cast("float"),
            ).alias("embedding"),
        )
        .limit(bench_n)
    )
    pts = tiled.repartition(CPUS).cache()
    n = pts.count()  # materialize cache before the clock starts

    # Warm the Python workers (fork + numpy/pandas import) before timing —
    # iteration cadence on a long-lived cluster runs against warm workers.
    K.cluster_features_arrow(pts, K.sample_initial_centroids(
        pts, BENCH_K, 42, "embedding"), "embedding")

    # Median of ``repeats`` fits per path: same-code spread across runs
    # reached 2.6x in round 3 (GC pauses, codegen compile landing inside
    # the timed region), which masked real round-over-round deltas.  The
    # median is robust to bad runs in either direction.  An explicit JVM
    # GC before each timed fit keeps collections of the PREVIOUS run's
    # garbage from landing inside this run's timed region — the r6
    # mllib_400k spread (5.6-13.5 s across 3 runs) was exactly that.
    def _gc():
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass  # private API; a bench must never die on it

    def _timed(method: str, run_fit) -> dict:
        walls, n_iters, prof = timed_reps(
            counters, f"kmeans_{method}_{bench_n // 1000}k", repeats,
            run_fit, before=_gc,
        )
        iters = max(1, n_iters[-1])
        wall = statistics.median(walls)
        return {
            "iterations": iters,
            "sec_per_iter": wall / iters,
            "wall": wall,
            "spread": [round(w, 3) for w in sorted(walls)],
            "profile": prof,
        }

    out = {"n": n}
    out["arrow"] = _timed("arrow", lambda: K.fit(
        pts, K.KMeansConfig(k=BENCH_K, max_iter=BENCH_ITERS, tol=0.0, seed=42)
    ).n_iter)

    # Production path (MLlib KMeans, random init so iteration count is the
    # comparable unit — k-means|| init would bill extra passes to iter 1;
    # tol=0 runs exactly BENCH_ITERS Lloyd iterations like the path above).
    from k_means_in_mapreduce_spark.operators.kmeans_mllib import fit_mllib

    out["mllib"] = _timed("mllib", lambda: fit_mllib(
        pts, k=BENCH_K, max_iter=BENCH_ITERS, seed=42, tol=0.0,
        init_mode="random",
    ).n_iter)

    pts.unpersist()
    return out


def bench_cli_reference(counters, row: str = "cli_400k",
                        n: int = BENCH_N_LARGE, dim: int = 30) -> dict:
    """The reference's own CLI form, ``<input> <k> <max_iter> <output>
    <dim> <epsilon> <num_reducer>``, by default at its 400k×30, k=4 grid
    point: ``cli.main`` on seeded n×dim blobs written once as
    ``<x1, x2, …>`` text (``perfbench.gen``), 10 iterations, epsilon 0.
    Each rep parses the text, fits and writes the centroids. Returns the
    median and min wall of 3 reps, their sorted walls, the warm reps'
    profile and the peak resident MB over the reps of each kind of
    process (driver, java, python: ``perfbench.run.RssSampler``; the
    JVM's part also holds what earlier rows left in its heap)."""
    import shutil
    import tempfile

    from k_means_in_mapreduce_spark import cli
    from perfbench import gen
    from perfbench.run import RssSampler

    tmp = tempfile.mkdtemp(prefix="bench-cli-")
    rss = RssSampler()
    try:
        txt = os.path.join(tmp, "points.txt")
        gen.write_blobs(gen.blobs(1, n=n, dim=dim),
                        os.path.join(tmp, "points.parquet"), txt)
        argv = [txt, str(BENCH_K), "10", os.path.join(tmp, "out"), str(dim),
                "0", str(CPUS)]
        rss.start()
        walls, rcs, prof = timed_reps(counters, row, 3,
                                      lambda: cli.main(argv))
    finally:
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    if any(rcs):
        raise RuntimeError(f"cli exit codes {rcs}")
    return {
        "wall": round(statistics.median(walls), 3),
        "wall_min": round(min(walls), 3),
        "spread": [round(w, 3) for w in sorted(walls)],
        "peak_rss_mb": {k: round(v / 1024, 1)
                        for k, v in sorted(rss.peak_parts.items())},
        "profile": prof,
    }


def clear_artifact_cache(sf_dir: str) -> int:
    """Delete sf_dir's scratch directory ``.tmp/<tag>`` (every artifact
    the package built for it: the IVF index, the file round trips and the
    bucketed table copies among them) and return how many entries it held,
    so the first run of an artifact-backed query measures the cold build,
    not a read of last run's output. Note the cold column is
    per-ARTIFACT, not per-query: when several queries share one artifact
    (e.g. the Jaccard pair list), only the first consumer's first run
    pays the build; later consumers' "cold" rows time a warm serve. The
    two connected-components names (``dedup_connected_components`` and
    ``dedup_groups_star``) are one query over one groups artifact, so
    whichever runs second has a cold row that times a warm serve."""
    import shutil

    from k_means_in_mapreduce_spark.artifacts import _scratch

    root = _scratch(sf_dir)
    if not os.path.isdir(root):
        return 0
    removed = len(os.listdir(root))
    shutil.rmtree(root, ignore_errors=True)
    return removed


def main() -> None:
    import __spark_entry__ as E
    from perfbench.counters import SparkCounters

    keep_artifacts = "--keep-artifacts" in sys.argv[1:]
    cleared = 0 if keep_artifacts else clear_artifact_cache(SF_DIR)

    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/session AND the Python workers (fork + numpy/pandas
    # import) so query 1 doesn't absorb startup cost — a long-lived
    # cluster runs against warm executors.
    force(spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1000))
    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    warm = spark.range(CPUS * 4).repartition(CPUS)
    warm.mapInPandas(_warm, "id long").write.mode("overwrite").format(
        "noop"
    ).save()
    counters = SparkCounters(spark)

    # Headline k-means grid FIRST, against a clean JVM: measured last, the
    # n=400k point swung 0.39 -> 1.44 s/iter purely from the GC/memory
    # pressure left behind by 111 queries (isolated re-run: 0.43).
    hl_start = read_host_load()
    km = bench_kmeans_iteration(spark, counters)
    # 400k point: median-of-5 (VERDICT r6 item 3 — the 3-run mllib spread
    # was 2.4x). The pre-run GC + extra repeats stabilized the MEDIAN
    # (mllib_400k median fit 9.0 -> 1.75 s); the recorded min..max spread
    # remains box-bound: isolated experiments swung the same fit 1.7-6.3 s
    # within minutes regardless of driver memory (8g vs 16g) or a GC
    # settle sleep, so the spread list is reported as-is and the median
    # is the comparable number.
    km4 = bench_kmeans_iteration(spark, counters, BENCH_N_LARGE, repeats=5)
    cli4 = bench_cli_reference(counters)
    # a one-task CLI fit: 100k×64 text of 122 MiB, under the 128 MiB limit
    cli1 = bench_cli_reference(counters, "cli_100k", BENCH_N, 64)
    hl_after_kmeans = read_host_load()

    per_query: dict[str, float] = {}
    per_query_cold: dict[str, float] = {}
    queries_profile: dict[str, dict] = {}
    for name, fn in sorted(E.queries().items()):
        try:
            per_query_cold[name], per_query[name], queries_profile[name] = (
                bench_query(spark, counters, name, fn)
            )
        except Exception as ex:  # a broken query shows up as -1, not a crash
            per_query[name] = per_query_cold[name] = -1.0
            print(f"# BENCH ERROR {name}: {type(ex).__name__}: {ex}", file=sys.stderr)

    hl_end = read_host_load()

    repo = os.path.dirname(os.path.abspath(__file__))
    result_file = os.path.join(repo, "BENCH_RESULT.json")

    per_query["_kmeans_100k_per_iter_arrow"] = round(km["arrow"]["sec_per_iter"], 3)
    per_query["_kmeans_100k_per_iter_mllib"] = round(km["mllib"]["sec_per_iter"], 3)
    # second published grid point (Fig 3.5: Hadoop ~26 s/iter, sequential
    # Python 0.24 s)
    per_query["_kmeans_400k_per_iter_arrow"] = round(km4["arrow"]["sec_per_iter"], 3)
    per_query["_kmeans_400k_per_iter_mllib"] = round(km4["mllib"]["sec_per_iter"], 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        # headline = the engine's own Arrow dataflow (assign -> CF agg),
        # the recommended production fit path; the MLlib numbers ride
        # alongside so no reader has to guess which path "value" is
        # (VERDICT r6 item 3: 0.325 matched neither label)
        "metric": "kmeans_sec_per_iteration_n100k_arrow",
        "value": round(km["arrow"]["sec_per_iter"], 3),
        "value_mllib": round(km["mllib"]["sec_per_iter"], 3),
        # min-of-reps companions (see iter_min): the load-robust
        # reading of the same grid — "value" stays the median so the
        # round-over-round trend keeps comparing like with like
        "value_min": iter_min(km["arrow"]),
        "value_min_mllib": iter_min(km["mllib"]),
        "unit": "sec",
        "queries": per_query,
        "queries_cold": per_query_cold,
        "cold_artifacts": not keep_artifacts,
        "artifact_dirs_cleared": cleared,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "kmeans": {
            "n": km["n"],
            "k": BENCH_K,
            "iterations": km["arrow"]["iterations"],
            "sec_per_iter_mllib": round(km["mllib"]["sec_per_iter"], 3),
            "total_wall_sec": round(km["arrow"]["wall"], 3),
        },
        # the reference's 7-argument CLI on 400k×30 text (bench_cli_reference)
        "cli_400k": {k: v for k, v in cli4.items() if k != "profile"},
        "cli_100k": {k: v for k, v in cli1.items() if k != "profile"},
        "kmeans_400k": {
            "n": km4["n"],
            "sec_per_iter_arrow": round(km4["arrow"]["sec_per_iter"], 3),
            "sec_per_iter_mllib": round(km4["mllib"]["sec_per_iter"], 3),
            "sec_per_iter_arrow_min": iter_min(km4["arrow"]),
            "sec_per_iter_mllib_min": iter_min(km4["mllib"]),
        },
        # at-run-time load evidence per phase: steal_frac / loadavg
        # recorded by the run itself
        "host_load": {
            "kmeans_grid": host_load_delta(hl_start, hl_after_kmeans),
            "queries": host_load_delta(hl_after_kmeans, hl_end),
            "run": host_load_delta(hl_start, hl_end),
        },
        # Spark's own counters per row (see profile); bench_diff calls
        # regressions from these, wall time only corroborates
        "queries_profile": queries_profile,
        "kmeans_profile": {
            "arrow_100k": km["arrow"]["profile"],
            "mllib_100k": km["mllib"]["profile"],
            "arrow_400k": km4["arrow"]["profile"],
            "mllib_400k": km4["mllib"]["profile"],
            "cli_400k": cli4["profile"],
            "cli_100k": cli1["profile"],
        },
        # per-method wall-clock spreads (sorted; BENCH_REPEATS fits per
        # 100k entry, 5 per 400k one) so variance is visible next to the
        # medians
        "kmeans_spreads": {
            "arrow_100k": km["arrow"]["spread"],
            "mllib_100k": km["mllib"]["spread"],
            "arrow_400k": km4["arrow"]["spread"],
            "mllib_400k": km4["mllib"]["spread"],
            "cli_400k": cli4["spread"],
            "cli_100k": cli1["spread"],
        },
        "total_query_sec": round(
            sum(v for v in per_query.values() if v > 0), 3
        ),
        "total_query_sec_cold": round(
            sum(v for v in per_query_cold.values() if v > 0), 3
        ),
        "n_queries": len(per_query),
        "n_errors": sum(1 for v in per_query.values() if v < 0),
        "result_file": result_file,
    }
    # Full per-query detail goes to a FIXED path the driver/judge can read
    # (plus a timestamped archive for round-over-round diffs).
    with open(result_file, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    outdir = os.path.join(repo, ".benchmarks")
    os.makedirs(outdir, exist_ok=True)
    stamp = time.strftime("%Y%m%d_%H%M%S")
    with open(os.path.join(outdir, f"bench_{stamp}_sf{sf}.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)

    spark.stop()
    # Compact line LAST, after spark.stop(), so no Spark output can trail
    # it: full "queries" is ~5 KB which overflows the driver's ~2000-char
    # stdout tail — summarize to the 10 slowest warm rows and point at
    # result_file for the rest.
    ranked = sorted(
        ((k, v) for k, v in per_query.items() if v > 0), key=lambda kv: -kv[1]
    )
    # host_load and the profiles stay file-only: they would crowd the
    # headline numbers out of the ~2000-char tail
    compact = {
        k: v
        for k, v in result.items()
        if k not in ("queries", "queries_cold", "host_load",
                     "queries_profile", "kmeans_profile")
    }
    # shrink the slowest-query summary until the line fits the driver's
    # ~2000-char tail — never die or overflow after a successful run
    for top in (10, 5, 2, 0):
        compact["queries"] = dict(ranked[:top])
        line = json.dumps(compact)
        if len(line) < 1900:
            break
    print(line)


if __name__ == "__main__":
    main()
