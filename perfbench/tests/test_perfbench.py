"""Tests of the benchmark's own parts: seeded generators, the reference
replays the output checks rely on, and the Spark counter helper.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.metrics import END_TO_END_UNITS, PER_LAYER_UNITS
from perfbench.workloads import WORKLOADS, lloyd

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digests(d: str) -> dict[str, str]:
    """sha256 of every file under `d`, by path relative to `d`."""
    out = {}
    for base, _dirs, files in os.walk(d):
        for f in files:
            path = os.path.join(base, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(seed: int, d: str) -> None:
    os.makedirs(d)
    x = gen.blobs(seed, n=2_000)
    gen.write_blobs(x, os.path.join(d, "blobs.parquet"), os.path.join(d, "blobs.txt"))
    gen.write_tables(seed, os.path.join(d, "tables"))


def _rows(d: str) -> dict[str, int]:
    with open(os.path.join(d, "blobs.txt")) as fh:
        out = {"blobs.txt": sum(1 for _ in fh)}
    out["blobs.parquet"] = pq.read_metadata(os.path.join(d, "blobs.parquet")).num_rows
    for f in os.listdir(os.path.join(d, "tables")):
        out[f] = pq.read_metadata(os.path.join(d, "tables", f)).num_rows
    return out


def test_same_seed_same_bytes_other_seed_same_sizes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    _write_all(7, a)
    _write_all(7, b)
    _write_all(8, c)
    da, dc = _digests(a), _digests(c)
    assert da == _digests(b)
    # region and nation are fixed reference tables; everything else moves
    fixed = {os.path.join("tables", f) for f in ("region.parquet", "nation.parquet")}
    assert da.keys() == dc.keys()
    assert all(da[f] != dc[f] for f in da if f not in fixed)
    assert _rows(a) == _rows(c)


def test_blob_text_parses_back_to_the_same_doubles(tmp_path):
    x = gen.blobs(3, n=200)
    txt = str(tmp_path / "p.txt")
    gen.write_blobs(x, str(tmp_path / "p.parquet"), txt)
    with open(txt) as fh:
        parsed = [[float(v) for v in line.strip()[1:-1].split(", ")] for line in fh]
    assert np.array_equal(np.array(parsed), x)


def test_lloyd_replay_redraws_on_empty_cluster():
    x = np.array([[0.0], [0.1], [10.0], [10.1]])
    # centroid 2 starts far away and loses every point -> one redraw
    draws = {0: [[0.0], [10.0], [100.0]], 1: [[0.0], [0.1], [10.0]]}
    c = lloyd(x, draws.__getitem__, iters=3)
    np.testing.assert_allclose(c, [[0.0], [0.1], [10.05]])


def test_tree_cpu_counts_children_waited_for():
    import subprocess
    import sys

    from perfbench.run import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.4


@pytest.fixture(scope="module")
def spark():
    from k_means_in_mapreduce_spark.session import get_session

    s = get_session(app_name="perfbench-tests", master="local[2]",
                    shuffle_partitions=2, driver_memory="1g")
    yield s


def test_counters_repeat_exactly(spark):
    from perfbench.counters import SparkCounters

    counters = SparkCounters(spark)

    def once():
        counters.set_group("tiny")
        (spark.range(10_000, numPartitions=4)
         .selectExpr("id % 7 AS k").groupBy("k").count().collect())
        counters.set_group(None)
        return counters.read_new()

    a, b = once(), once()
    assert a.jobs >= 1 and a.tasks >= 4 and a.shuffle_write_mb > 0
    assert set(a.groups) == {"tiny"}
    for f in ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb"):
        assert getattr(a, f) == getattr(b, f), f


def test_benchmark_json_names_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
