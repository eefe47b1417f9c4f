"""Metric names, the layer wrappers of a traced run, and the arithmetic
that turns op samples and spans into the reported metrics."""

from __future__ import annotations

import importlib
import statistics
from contextlib import contextmanager

from perfbench.workloads import PIPELINE_QUERIES

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
    "peak_rss_mb": "MB",
}

SPARK_FIELDS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "task_skew": "ratio",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "kmeans_df.iter_s": "s",
    "kmeans_df.jobs_per_iter": "count",
    "kmeans_df.init_s": "s",
    "kmeans_df.fit_self_s": "s",
    "text_points.parse_s": "s",
    "cli.self_s": "s",
    "spark.cached_mb_peak": "MB",
    "registry.plan_s": "s",
    "registry.exec_s": "s",
    "registry.fixture_collect_jobs": "count",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "artifacts.fingerprint_s": "s",
    "artifacts.serve_calls": "count",
    "artifacts.builds": "count",
    "artifacts.cold_builds": "count",
    "artifacts.build_s": "s",
    "dedup.cc_rounds": "count",
    "dedup.cc_jobs": "count",
    "streaming.query_s": "s",
    **{f"spark.{k}": u for k, u in SPARK_FIELDS.items()},
    "spark.cpu_util": "ratio",
    "spark.cold_jobs": "count",
    "trace.overhead_s": "s",
    **{f"query.{q}.{m}": u for q in PIPELINE_QUERIES
       for m, u in (("warm_s", "s"), ("cold_s", "s"), ("jobs", "count"))},
}

# (module under the package, attribute, span name)
LAYER_FUNCTIONS = (
    ("session", "get_session", "session.get_session"),
    ("sources.tables", "load_table", "tables.load_table"),
    ("sources.text_points", "parse_points", "text_points.parse_points"),
    ("cli", "main", "cli.main"),
    ("operators.kmeans_df", "fit", "kmeans_df.fit"),
    ("operators.kmeans_df", "sample_initial_centroids", "kmeans_df.init"),
    ("registry", "_fixed_centroids", "registry.fixture_collect"),
    ("artifacts", "source_fingerprint", "artifacts.fingerprint"),
    ("artifacts", "materialized_artifact", "artifacts.serve"),
    ("operators.dedup", "connected_components_star", "dedup.cc"),
)


def install(tracer, package: str) -> None:
    """Wrap the layer entry points named above, from the outside."""
    from pyspark.sql.classic.dataframe import DataFrame

    importlib.import_module(f"{package}.registry")  # loads every operator
    for mod, attr, name in LAYER_FUNCTIONS:
        tracer.patch(package, importlib.import_module(f"{package}.{mod}"), attr, name)
    kmeans_df = importlib.import_module(f"{package}.operators.kmeans_df")
    tracer.patch(package, kmeans_df, "cluster_features_arrow", "kmeans_df.iter",
                 after=tracer.sample_cached)

    artifacts = importlib.import_module(f"{package}.artifacts")
    build_lock = artifacts.build_lock

    @contextmanager
    def spanned_build_lock(*args, **kwargs):
        with tracer.span("artifacts.build"), build_lock(*args, **kwargs):
            yield

    tracer.replace(package, build_lock, spanned_build_lock)
    # one lazy local checkpoint per large-star/small-star round
    tracer.patch_counter(DataFrame, "localCheckpoint", "cc_round",
                         when=lambda self, eager=True, *a, **kw: not eager)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def warm(samples: list[float], per_query: dict[str, list[float]]) -> float:
    """The median warm op; for a pass of queries, the pass made of each
    query's median warm value, so that one slow query in one pass does
    not move it."""
    if per_query:
        return sum(_median(v) for v in per_query.values())
    return _median(samples)


def wall(runner) -> dict:
    """The wall-time twins of the CPU metrics, for the detail line."""
    return {"cold_s": _median(runner.samples["cold"]),
            "warm_s": warm(runner.samples["warm"], runner.query_samples["warm"])}


def end_to_end(runner, setup_s: float, peak_rss_mb: float) -> dict:
    values = {
        "setup_s": setup_s,
        "cold_cpu_s": _median(runner.cpu["cold"]),
        "warm_cpu_s": warm(runner.cpu["warm"], runner.query_cpu["warm"]),
        "peak_rss_mb": peak_rss_mb,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def per_layer(tracer, runner, nproc: int, session_s: float,
              untraced_warm: list[float]) -> dict:
    warm = [o for o in runner.ops if o["kind"] == "warm"]
    cold = [o for o in runner.ops if o["kind"] == "cold"]

    def spans(ops, name):
        return [s for o in ops for s in tracer.within(o["span"], name)]

    def jobs(s) -> int:
        return s.jobs + sum(c.jobs for c in tracer.within(s))

    def per_op(ops, fn) -> float:
        return _median(fn(o) for o in ops)

    def total(name, fn, ops=warm) -> float:
        return per_op(ops, lambda o: sum(fn(s) for s in tracer.within(o["span"], name)))

    def dur(s) -> float:
        return s.duration

    def one(_s) -> int:
        return 1

    iters = spans(warm, "kmeans_df.iter")
    v = {
        "session.start_s": session_s,
        "kmeans_df.iter_s": _median(s.duration for s in iters),
        "kmeans_df.jobs_per_iter": (sum(jobs(s) for s in iters) / len(iters)) if iters else 0.0,
        "kmeans_df.init_s": _median(s.duration for s in spans(warm, "kmeans_df.init")),
        "kmeans_df.fit_self_s": _median(tracer.self_time(s) for s in spans(warm, "kmeans_df.fit")),
        "text_points.parse_s": _median(s.duration for s in spans(cold, "text_points.parse_points")),
        "cli.self_s": _median(tracer.self_time(s) for s in spans(cold, "cli.main")),
        "spark.cached_mb_peak": tracer.cached_mb_peak,
        "registry.plan_s": total("registry.plan", dur),
        "registry.exec_s": total("registry.exec", dur),
        "registry.fixture_collect_jobs": total("registry.fixture_collect", jobs),
        "tables.load_calls": total("tables.load_table", one),
        "tables.load_s": total("tables.load_table", dur),
        "artifacts.fingerprint_s": total("artifacts.fingerprint", dur),
        "artifacts.serve_calls": total("artifacts.serve", one),
        "artifacts.builds": total("artifacts.build", one),
        "artifacts.cold_builds": total("artifacts.build", one, cold),
        "artifacts.build_s": total("artifacts.build", dur, cold),
        "dedup.cc_rounds": total("dedup.cc", lambda s: sum(
            c.counts.get("cc_round", 0) for c in [s, *tracer.within(s)])),
        "dedup.cc_jobs": total("dedup.cc", jobs),
        "streaming.query_s": per_op(warm, lambda o: sum(
            s.duration for s in tracer.within(o["span"])
            if s.name.startswith("query.stream_"))),
        "spark.cpu_util": per_op(warm, lambda o: o["work"].executor_cpu_s / (o["wall"] * nproc)),
        "spark.cold_jobs": per_op(cold, lambda o: o["work"].jobs),
        "trace.overhead_s": _median(runner.samples["warm"]) - _median(untraced_warm),
    }
    for f in SPARK_FIELDS:
        v[f"spark.{f}"] = per_op(warm, lambda o, f=f: getattr(o["work"], f))
    for q in PIPELINE_QUERIES:
        v[f"query.{q}.warm_s"] = total(f"query.{q}", dur)
        v[f"query.{q}.cold_s"] = total(f"query.{q}", dur, cold)
        v[f"query.{q}.jobs"] = total(f"query.{q}", jobs)
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
