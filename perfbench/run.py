#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload kmeans_lloyd --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
from a traced run. The line before it carries the run's detail: the
set-up phases, every op's wall and CPU time, host load and what went
wrong in every failed op. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "k_means_in_mapreduce_spark"
SETUP_REPS = 3
DRIVER_HEAP = "1g"
MIN_WARM = 4
MAX_WARM_OPS = 50
UNTRACED_REPS = 2


def process_start_time() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def process_tree(root: int) -> list[tuple[int, str, list[str]]]:
    """(pid, name, /proc/<pid>/stat fields from the state on) of `root`
    and its descendants: the driver, the JVM and the Python workers."""
    procs: dict[int, tuple[str, list[str]]] = {}
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                name, rest = fh.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue  # exited while we looked
        fields = rest.split()
        procs[int(pid)] = (name.split("(", 1)[1], fields)
        children.setdefault(int(fields[1]), []).append(int(pid))
    out = []
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in procs:
            continue
        name, fields = procs[pid]
        out.append((pid, name, fields))
        kids = children.get(pid, [])
        if name == "java":
            # a child the JVM is starting shares the JVM's pages and
            # reports the JVM's size until it execs its program
            java = _exe(pid)
            kids = [k for k in kids if _exe(k) != java]
        todo.extend(kids)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and its descendants, counting
    the children each has waited for. Time the hypervisor gave to other
    guests is not in it, so it moves far less than wall time with the
    load on a shared host."""
    ticks = sum(sum(int(f[i]) for i in (11, 12, 13, 14))  # u/s/cu/cs time
                for _pid, _name, f in process_tree(root))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled from /proc. `peak_parts` splits
    the peak by process name."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval, self.peak_kb = interval, 0
        self.peak_parts: dict[str, int] = {}
        self._stop_evt = threading.Event()

    @staticmethod
    def tree_kb(root: int) -> dict[str, int]:
        """KiB resident per process name, over `root` and its descendants."""
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        parts: dict[str, int] = {}
        for pid, name, fields in process_tree(root):
            name = "driver" if pid == root else name
            parts[name] = parts.get(name, 0) + int(fields[21]) * page_kb
        return parts

    def run(self) -> None:
        while not self._stop_evt.is_set():
            parts = self.tree_kb(os.getpid())
            if sum(parts.values()) > self.peak_kb:
                self.peak_kb, self.peak_parts = sum(parts.values()), parts
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


def host_probe_s(reps: int = 5) -> float:
    """Median time of a fixed NumPy loop: how fast this host ran at the
    end of the run, to tell a slow host from slow code."""
    import numpy as np

    a = np.random.default_rng(0).random((256, 256))
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        for _ in range(20):
            np.sort(a @ a, axis=None)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class Runner:
    """Times ops and counts failures; in a traced run it also records each
    op's span and Spark work."""

    def __init__(self, wl, counters, tracer=None) -> None:
        self.wl, self.counters, self.tracer = wl, counters, tracer
        self.samples: dict[str, list[float]] = {"cold": [], "warm": []}
        self.cpu: dict[str, list[float]] = {"cold": [], "warm": []}  # CPU seconds
        self.ops: list[dict] = []  # traced ops: kind, span, work, wall
        self.outputs: list[tuple[str, int, object]] = []  # checked after timing
        # kind -> query -> its wall time and CPU seconds in each pass
        self.query_samples: dict[str, dict[str, list[float]]] = {"cold": {}, "warm": {}}
        self.query_cpu: dict[str, dict[str, list[float]]] = {"cold": {}, "warm": {}}
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def run(self, kind: str) -> None:
        i = len(self.samples[kind])
        tr = self.tracer if self.tracer is not None and self.tracer.enabled else None
        if tr is None:
            self.counters.set_group(f"{kind}-{i}")
        out = None
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with tr.span(f"op.{kind}") if tr else nullcontext() as span:
            if hasattr(self.wl, "queries"):
                self._pass(kind, self.wl.queries(kind), tr)
            else:
                self.attempted += 1
                try:
                    out = self.wl.cold() if kind == "cold" else self.wl.warm()
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    self.fail(f"{kind}-{i}: {traceback.format_exc(limit=3)}")
            if tr:
                tr.sample_cached()
        wall = time.perf_counter() - t0
        self.samples[kind].append(wall)
        self.cpu[kind].append(tree_cpu_s(os.getpid()) - c0)
        if tr:
            work = self.counters.read_new()
            tr.charge(work, span)
            self.ops.append({"kind": kind, "span": span, "work": work, "wall": wall})
        else:
            self.counters.set_group(None)
        if out is not None:
            self.outputs.append((kind, i, out))

    def _pass(self, kind: str, queries, tr) -> None:
        for name, plan, sink in queries:
            self.attempted += 1
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                if tr:
                    with tr.span(f"query.{name}"):
                        with tr.span("registry.plan"):
                            df = plan()
                        with tr.span("registry.exec"):
                            sink(df)
                else:
                    sink(plan())
            except Exception:  # noqa: BLE001 - a failed query is counted
                self.fail(f"{kind} {name}: {traceback.format_exc(limit=3)}")
            self.query_samples[kind].setdefault(name, []).append(
                time.perf_counter() - t0)
            self.query_cpu[kind].setdefault(name, []).append(
                tree_cpu_s(os.getpid()) - c0)

    def check_ops(self) -> None:
        """Check every op's output, after the timed region: the checks'
        own Spark jobs then fall in no op."""
        if self.tracer is not None:
            self.tracer.enabled = False
        for kind, i, out in self.outputs:
            try:
                for err in self.wl.check(kind, out):
                    self.fail(f"{kind}-{i}: {err}")
            except Exception:  # noqa: BLE001 - a check that cannot run fails the op
                self.fail(f"{kind}-{i} check: {traceback.format_exc(limit=3)}")
        for name, err in self.wl.check_outputs().items():
            self.fail(f"output {name}: {err}")

    def loop(self, seconds: float) -> None:
        """One cold op, then warm ops until they took `seconds` and at
        least MIN_WARM of them ran."""
        self.run("cold")
        while len(self.samples["warm"]) < MAX_WARM_OPS and (
            len(self.samples["warm"]) < MIN_WARM
            or sum(self.samples["warm"]) < seconds
        ):
            self.run("warm")


def main(argv: list[str]) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bench
        import k_means_in_mapreduce_spark as pkg
    except ImportError as ex:
        print(f"perfbench: the package is not in {ROOT}: {ex}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {PACKAGE} imported from outside {ROOT}", file=sys.stderr)
        return 2
    from perfbench import metrics
    from perfbench.counters import SparkCounters
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's shuffle and block files, and JVM and Python temporaries, stay
    # inside the work directory
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    # also for the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    wl = WORKLOADS[args.workload](ROOT, work, args.seed, nproc)

    rss = RssSampler()
    rss.start()
    load_before = bench.read_host_load()
    wl.before_session()

    from k_means_in_mapreduce_spark import session

    t0 = time.time()
    spark = session.get_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        driver_memory=DRIVER_HEAP,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap: the JVM's resident size then does
            # not depend on when its collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        },
    )
    session_s = time.time() - t0
    imports_s = t0 - t_proc
    wl.spark = spark
    try:
        counters = SparkCounters(spark)
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(counters)
            metrics.install(tracer, PACKAGE)
        t = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t
        loads = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.load()
            loads.append(time.perf_counter() - t)
        setup_s = imports_s + session_s + generate_s + statistics.median(loads)

        runner = Runner(wl, counters, tracer)
        if tracer:
            tracer.enabled = True
        runner.loop(args.seconds)
        untraced: list[float] = []
        if tracer:
            # the same op with tracing off, for the tracing overhead
            tracer.enabled = False
            for _ in range(UNTRACED_REPS):
                runner.run("warm")
                untraced.append(runner.samples["warm"].pop())
                runner.cpu["warm"].pop()
        load = bench.host_load_delta(load_before, bench.read_host_load())
        load["probe_s"] = host_probe_s()
        peak_rss_mb = rss.stop()  # the checks below are not the engine's
        t = time.perf_counter()
        runner.check_ops()
        check_s = time.perf_counter() - t
        if tracer:
            out = metrics.per_layer(tracer, runner, nproc, session_s, untraced)
        else:
            out = metrics.end_to_end(runner, setup_s, peak_rss_mb)
    finally:
        spark.stop()
        _stop_jvm()
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "setup": {"imports_s": imports_s, "session_s": session_s,
                  "generate_s": generate_s, "load_s": loads},
        "check_s": check_s,
        "wall": metrics.wall(runner), "samples": runner.samples, "cpu": runner.cpu,
        "query_samples": runner.query_samples, "query_cpu": runner.query_cpu,
        "host_load": load,
        "peak_rss_mb_by_process": {k: v / 1024 for k, v in rss.peak_parts.items()},
        "errors": runner.errors,
    }))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": out,
    }))
    return 0


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit; its
    Python workers exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
