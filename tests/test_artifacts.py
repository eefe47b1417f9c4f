"""Artifact build-once machinery: version-directory freshness, the
rename commit, the cross-process build lock (two processes sharing an
sf_dir must not race overlapping writes into one build — ADVICE r5), and
the one scratch directory per sf_dir that every build lives under."""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import threading
import time

import pytest

from k_means_in_mapreduce_spark import artifacts as A


def _in_sf(sf_dir):
    return sf_dir


@pytest.fixture
def sf(tmp_path, monkeypatch):
    """An sf_dir holding one source file ``src``, whose artifact entries
    live inside it instead of the repo's ``.tmp``."""
    (tmp_path / "src").write_bytes(b"rows")
    monkeypatch.setattr(A, "_scratch", _in_sf)
    return str(tmp_path)


def _build(sf_dir, write, p=1):
    """``artifact_dir`` of entry ``t`` over ``<sf_dir>/src``, params
    ``{"p": p}``."""
    return A.artifact_dir(sf_dir, "src", "t", {"p": p}, write, A.__name__)


def _fake_write(log):
    """A ``write(dir)`` that writes an empty build and logs its dir."""

    def write(path):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
        log.append(path)

    return write


def _never_write(_path):  # pragma: no cover - the assertion is that it never runs
    raise AssertionError("write ran for a committed build")


def test_uncommitted_build_or_other_want_is_never_served(sf):
    """A build is served only once its ``<dir>.tmp`` is renamed into
    place, and only under its own ``want``."""
    built = []
    d1 = _build(sf, _fake_write(built))
    assert built == [d1 + ".tmp"] and os.path.basename(d1).startswith("v-")
    assert _build(sf, _never_write) == d1

    def dies(path):
        _fake_write(built)(path)
        raise RuntimeError("died before the commit")

    with pytest.raises(RuntimeError, match="before the commit"):
        _build(sf, dies, p=2)
    assert os.path.isdir(built[-1])  # the torn build is on disk, uncommitted
    d2 = _build(sf, _fake_write(built), p=2)  # rebuilt, not served
    assert d2 != d1 and built == [d1 + ".tmp", d2 + ".tmp", d2 + ".tmp"]


def test_locked_rebuild_waits_for_concurrent_builder(sf):
    """The flock loser blocks until the holder releases; if the holder
    committed exactly the wanted build, the loser serves it WITHOUT
    building (write() must not run)."""
    d = _build(sf, _fake_write([]))
    shutil.rmtree(d)  # nothing committed: the next call misses
    # flock conflicts apply between separate open file descriptions even
    # within one process, so a thread faithfully models a second process
    lock = os.path.join(sf, "t", ".build.lock")
    holder_fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(holder_fd, fcntl.LOCK_EX)

    def other_process():
        time.sleep(0.6)
        os.makedirs(d)  # the holder commits the same want
        os.close(holder_fd)  # releases the flock

    t = threading.Thread(target=other_process)
    t.start()
    t0 = time.monotonic()
    assert _build(sf, _never_write) == d
    t.join(timeout=30)
    assert not t.is_alive()
    assert time.monotonic() - t0 >= 0.5  # actually waited for the holder


def test_locked_rebuild_ignores_leftover_lock_file(sf):
    """A lock FILE left by a crashed builder holds no flock (the kernel
    released it with the process) — acquisition is immediate, no
    staleness heuristic involved."""
    os.makedirs(os.path.join(sf, "t"))
    with open(os.path.join(sf, "t", ".build.lock"), "w"):
        pass  # leftover file, nobody holds the flock

    built = []
    t0 = time.monotonic()
    d = _build(sf, _fake_write(built))
    assert time.monotonic() - t0 < 2.0  # no dead-wait
    assert built == [d + ".tmp"] and os.path.isdir(d)


def _race_worker(sf_dir, idx, log_path):
    """Subprocess body for the cross-process race test (module-level so
    multiprocessing can pickle it)."""
    A._scratch = _in_sf  # a spawned process does not inherit monkeypatch

    def write(path):
        # torn-write detector: mark in-progress, linger, then finish.
        # If two builders overlap, the second sees the first's marker.
        flag = os.path.join(path, "_IN_PROGRESS")
        os.makedirs(path, exist_ok=True)
        overlapped = os.path.exists(flag)
        with open(flag, "w"):
            pass
        time.sleep(0.5)
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
        os.remove(flag)
        with open(log_path, "a") as fh:
            fh.write(json.dumps({"idx": idx, "overlapped": overlapped}) + "\n")

    _build(sf_dir, write)


def test_locked_rebuild_excludes_concurrent_processes(sf, tmp_path):
    """Two real OS processes racing the same missing build: exactly one
    must build (the flock holder); the loser serves the winner's commit.
    No overlapping writes into one build."""
    import multiprocessing as mp

    log_path = str(tmp_path / "log.jsonl")
    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_race_worker, args=(sf, i, log_path))
        for i in range(2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    builds = [json.loads(ln) for ln in open(log_path)]
    assert len(builds) == 1, builds  # loser must NOT rebuild
    assert not builds[0]["overlapped"]
    assert os.path.isfile(os.path.join(_build(sf, _never_write), "_SUCCESS"))


def test_locked_rebuild_builds_a_changed_want(sf):
    """A changed ``want`` (here its params) builds a new version beside
    the committed one instead of serving or overwriting it."""
    built = []
    d1 = _build(sf, _fake_write(built))
    d2 = _build(sf, _fake_write(built), p=2)
    assert d2 != d1 and built == [d1 + ".tmp", d2 + ".tmp"]
    assert os.path.isdir(d1) and os.path.isdir(d2)


def test_entry_keeps_the_two_newest_versions(sf):
    """After builds under three ``want``s, with a build that raised in
    between, the entry holds exactly the two newest versions and its lock
    file: the commit sweeps older versions and ``.tmp`` leftovers."""
    _build(sf, _fake_write([]), p=1)
    d2 = _build(sf, _fake_write([]), p=2)

    def dies(path):
        os.makedirs(path, exist_ok=True)
        raise RuntimeError("died before the commit")

    with pytest.raises(RuntimeError, match="before the commit"):
        _build(sf, dies, p=9)
    d3 = _build(sf, _fake_write([]), p=3)
    assert sorted(os.listdir(os.path.join(sf, "t"))) == sorted(
        [".build.lock", os.path.basename(d2), os.path.basename(d3)]
    )


def _sf_copy(tmp_path, *tables):
    """A new sf_dir holding copies of sf0.001's ``tables``."""
    from .conftest import SF0001

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in tables:
        shutil.copyfile(f"{SF0001}/{t}.parquet", f"{sf}/{t}.parquet")
    return sf


def test_held_plan_survives_a_rebuild_on_rewritten_source(spark, tmp_path):
    """A ``lineitem_price_quantiles`` or ``bucketed_join_segment_revenue``
    DataFrame held across a rebuild (its sources rewritten with the same
    rows, so their fingerprints move) still collects its rows: the
    rebuild writes a new version beside the one the held plan lists."""
    import pyarrow.parquet as pq

    import bench
    from k_means_in_mapreduce_spark import registry

    sources = {
        "lineitem_price_quantiles": ("lineitem",),
        "bucketed_join_segment_revenue": ("customer", "orders"),
    }
    sf = _sf_copy(tmp_path, "lineitem", "customer", "orders")
    try:
        for name, tables in sources.items():
            q = registry.QUERIES[name]
            rows = sorted(q(spark, sf).collect())
            held = q(spark, sf)
            for t in tables:
                src = f"{sf}/{t}.parquet"
                before = A.source_fingerprint(src)
                pq.write_table(pq.read_table(src), src)  # the same rows, a new file
                assert A.source_fingerprint(src) != before
            assert sorted(q(spark, sf).collect()) == rows, name  # rebuilt
            assert sorted(held.collect()) == rows, name
    finally:
        bench.clear_artifact_cache(sf)


@pytest.mark.parametrize(
    "name",
    [
        "csv_roundtrip_orders_by_status",
        "json_roundtrip_events_daily",
        "partitioned_sink_pruned_scan",
        "orc_roundtrip_lineitem_status",
        "csv_corrupt_records_audit",
        "text_points_ingest",
        "points_text_export_roundtrip",
    ],
)
def test_held_round_trip_survives_a_second_call(spark, tmp_path, name):
    """A file round trip's DataFrame held across a second call collects
    the second call's rows: that call serves the committed sink instead
    of rewriting the files the held plan lists."""
    import bench
    from k_means_in_mapreduce_spark import registry

    sf = _sf_copy(tmp_path, "orders", "events", "lineitem", "embeddings")
    q = registry.QUERIES[name]
    try:
        held = q(spark, sf)
        rows = sorted(q(spark, sf).collect())
        assert rows
        assert sorted(held.collect()) == rows
    finally:
        bench.clear_artifact_cache(sf)


def test_held_plan_survives_a_rebuild_under_changed_code(
    spark, tmp_path, monkeypatch
):
    """A DataFrame planned before a rebuild under a changed code
    fingerprint still collects its rows after that rebuild."""
    import bench
    from k_means_in_mapreduce_spark import gate_ledger, registry

    sf = _sf_copy(tmp_path, "lineitem")
    code = ["A"]
    monkeypatch.setattr(
        gate_ledger, "module_fingerprint", lambda dotted, ref=None: code[0]
    )
    q = registry.QUERIES["lineitem_price_quantiles"]
    try:
        held = q(spark, sf)
        rows = sorted(held.collect())
        code[0] = "B"
        assert sorted(q(spark, sf).collect()) == rows  # rebuilt
        assert sorted(held.collect()) == rows
    finally:
        bench.clear_artifact_cache(sf)


def test_interrupted_ivf_rebuild_is_never_served(spark, tmp_path, monkeypatch):
    """Code A builds the IVF index; under code B a rebuild dies after its
    cells are written. Back on A (say, after a checkout) A's committed
    index is served, cells and centroids, without a re-fit: B's torn
    build never replaced it. The next call under B re-fits."""
    from pyspark.sql.readwriter import DataFrameWriter

    import bench
    from k_means_in_mapreduce_spark import gate_ledger
    from k_means_in_mapreduce_spark.operators import kmeans_df as KDF
    from k_means_in_mapreduce_spark.operators.similarity import build_ivf_index

    from .conftest import SF0001

    sf = str(tmp_path)
    shutil.copyfile(f"{SF0001}/embeddings.parquet", f"{sf}/embeddings.parquet")
    code = ["A"]
    monkeypatch.setattr(
        gate_ledger, "module_fingerprint", lambda dotted, ref=None: code[0]
    )
    fits = []
    real_fit = KDF.fit

    def counting_fit(*args, **kwargs):
        fits.append(code[0])
        return real_fit(*args, **kwargs)

    monkeypatch.setattr(KDF, "fit", counting_fit)
    real_parquet = DataFrameWriter.parquet

    def dies_after_cells(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        raise RuntimeError("rebuild died after the cells were written")

    try:
        centroids, idx = build_ivf_index(spark, sf)
        files = sorted(idx.inputFiles())
        build_ivf_index(spark, sf)
        assert fits == ["A"]  # the warm call serves A's build
        code[0] = "B"
        monkeypatch.setattr(DataFrameWriter, "parquet", dies_after_cells)
        with pytest.raises(RuntimeError, match="after the cells"):
            build_ivf_index(spark, sf)
        monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
        code[0] = "A"
        served, idx = build_ivf_index(spark, sf)
        assert fits == ["A", "B"]
        assert served == centroids and sorted(idx.inputFiles()) == files
        code[0] = "B"
        build_ivf_index(spark, sf)
        assert fits == ["A", "B", "B"]
    finally:
        bench.clear_artifact_cache(sf)


def test_clear_artifact_cache_matches_known_names_and_exact_tag(
    spark, tmp_path
):
    """Clearing an sf_dir removes all of its scratch (an artifact, a file
    round trip and both bucketed copies, each under its known name) and no
    other sf_dir's scratch directory; clearing "/" removes no other root.
    The bucketed join still runs after its copies were cleared under the
    live session."""
    import bench
    from k_means_in_mapreduce_spark import registry

    from .conftest import SF0001

    sf = tmp_path / "data" / "sf"
    names = (
        "lineitem_price_quantiles",
        "csv_roundtrip_orders_by_status",
        "bucketed_join_segment_revenue",
    )
    entries = ["bkt_customer", "bkt_orders", "lineitem_quantiles", "orders_csv"]
    bucketed = registry.QUERIES["bucketed_join_segment_revenue"]
    root = A._scratch(str(sf))
    tmp_root = os.path.dirname(root)
    try:
        sf.mkdir(parents=True)
        for t in ("lineitem", "customer", "orders"):
            shutil.copyfile(f"{SF0001}/{t}.parquet", sf / f"{t}.parquet")
        for n in names:
            registry.QUERIES[n](spark, str(sf)).collect()
        assert sorted(os.listdir(root)) == entries
        joined = sorted(bucketed(spark, str(sf)).collect())

        others = set(os.listdir(tmp_root)) - {os.path.basename(root)}
        assert bench.clear_artifact_cache(str(sf)) == len(entries)
        assert not os.path.exists(root)
        assert others <= set(os.listdir(tmp_root))
        assert bench.clear_artifact_cache(str(sf)) == 0

        others = set(os.listdir(tmp_root))
        bench.clear_artifact_cache("/")
        assert others - {os.path.basename(A._scratch("/"))} <= set(
            os.listdir(tmp_root)
        )

        assert sorted(bucketed(spark, str(sf)).collect()) == joined
    finally:
        bench.clear_artifact_cache(str(sf))


def test_scratch_entry_pattern_adversarial_suffix_dirs():
    """Property over adversarial sf_dir pairs where one path is a
    path-suffix of the other (/data/sf1 vs /other/data/sf1): each gets a
    scratch directory of its own, neither inside the other, and clearing
    either one leaves every entry of the other in place. Property over
    any two distinct absolute paths, spelled from '/', '_', '%' and the
    characters of their escapes (``/a/b`` vs ``/a_b`` among them): their
    scratch directories are distinct siblings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import bench

    seg = st.text(alphabet="abxz059.-", min_size=1, max_size=8).filter(
        lambda s: s not in (".", "..")  # path steps, not names
    )
    zone = "/bench_test_zone"

    def fill(sf_dir):
        for e in ("art_pairs", "bkt_orders", "centroids_text"):
            os.makedirs(os.path.join(A._scratch(sf_dir), e, "v-0"))

    @settings(max_examples=100, deadline=None)
    @given(
        inner=st.lists(seg, min_size=1, max_size=3),
        extra=st.lists(seg, min_size=1, max_size=2),
    )
    def run(inner, extra):
        a = zone + "/" + "/".join(inner)
        b = "/" + "/".join(extra) + a  # b's path ends with a's FULL path
        ra, rb = A._scratch(a), A._scratch(b)
        assert ra != rb
        assert not rb.startswith(ra + os.sep)
        assert not ra.startswith(rb + os.sep)
        try:
            for first, second in ((a, b), (b, a)):
                fill(first)
                fill(second)
                assert bench.clear_artifact_cache(first) == 3
                assert not os.path.exists(A._scratch(first))
                assert sorted(os.listdir(A._scratch(second))) == [
                    "art_pairs", "bkt_orders", "centroids_text",
                ]
                assert bench.clear_artifact_cache(second) == 3
        finally:
            for sf_dir in (a, b):
                shutil.rmtree(A._scratch(sf_dir), ignore_errors=True)

    run()
    assert A._scratch("/a/b") != A._scratch("/a_b")

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.text(alphabet="ab_/%.-2F", max_size=10), min_size=2,
                    max_size=2, unique_by=lambda p: os.path.abspath("/" + p)))
    def injective(paths):
        # distinct absolute paths: distinct sibling directories under .tmp
        ra, rb = (A._scratch("/" + p) for p in paths)
        assert ra != rb
        assert os.path.dirname(ra) == os.path.dirname(rb)
        assert not rb.startswith(ra + os.sep)
        assert not ra.startswith(rb + os.sep)

    injective()


def test_only_artifacts_names_scratch_paths():
    """Every scratch path comes from ``artifact_dir``: no package module
    but ``artifacts.py`` references ``_scratch``, so every scratch file
    lives under the directory ``bench.clear_artifact_cache`` removes."""
    import pathlib

    pkg = pathlib.Path(A.__file__).parent
    users = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "_scratch" in p.read_text(encoding="utf-8")
    )
    assert users == ["artifacts.py"]


# ---------------------------------------------------------------------------
# source_fingerprint walks the source on every call. These tests pin the
# regeneration-rebuilds guarantee: a rewritten file, an overwrite-recreated
# directory, a rewritten _SUCCESS marker, and a data file rewritten in
# place at a directory's root must all change the fingerprint.
# ---------------------------------------------------------------------------
def test_source_fingerprint_changes_on_root_in_place_rewrite(tmp_path):
    """A data file rewritten in place at the table root leaves the
    directory entry and _SUCCESS untouched; the fingerprint must still
    change (a stat signature of the root alone would miss it)."""
    d = tmp_path / "table.parquet"
    d.mkdir()
    p = d / "part-0"
    p.write_bytes(b"aaaa")
    (d / "_SUCCESS").write_bytes(b"")
    os.utime(p, ns=(1_000, 1_000))
    fp1 = A.source_fingerprint(str(d))
    root_before = os.stat(d)
    success_before = os.stat(d / "_SUCCESS")

    with open(p, "r+b") as fh:  # same size, same inode, no new entry
        fh.write(b"bbbb")
    os.utime(p, ns=(2_000, 2_000))

    for before, path in ((root_before, d), (success_before, d / "_SUCCESS")):
        after = os.stat(path)
        assert (after.st_ino, after.st_mtime_ns, after.st_size) == (
            before.st_ino, before.st_mtime_ns, before.st_size
        )
    assert A.source_fingerprint(str(d)) != fp1


def test_source_fingerprint_changes_on_file_rewrite(tmp_path):
    f = tmp_path / "embeddings.parquet"
    f.write_bytes(b"v1")
    fp1 = A.source_fingerprint(str(f))
    f.write_bytes(b"v2-longer")  # size + mtime change
    assert A.source_fingerprint(str(f)) != fp1


def test_source_fingerprint_changes_on_dir_regeneration(tmp_path):
    d = tmp_path / "cells"
    d.mkdir()
    (d / "part-0").write_bytes(b"old")
    (d / "_SUCCESS").write_bytes(b"")
    fp1 = A.source_fingerprint(str(d))
    # Spark mode('overwrite') deletes and recreates the directory
    shutil.rmtree(d)
    d.mkdir()
    (d / "part-0").write_bytes(b"new!")
    (d / "_SUCCESS").write_bytes(b"")
    assert A.source_fingerprint(str(d)) != fp1


def test_source_fingerprint_changes_on_success_rewrite(tmp_path):
    """An in-place recommit that only rewrites _SUCCESS (dir entry count
    unchanged) must still invalidate the shallow signature."""
    d = tmp_path / "data"
    d.mkdir()
    p = d / "part-0"
    p.write_bytes(b"x" * 8)
    (d / "_SUCCESS").write_bytes(b"")
    fp1 = A.source_fingerprint(str(d))
    # rewrite the data file IN PLACE with different mtime, then recommit
    # _SUCCESS (what a writer that reuses the directory would do)
    os.utime(p, ns=(1, 1))
    (d / "_SUCCESS").write_bytes(b"")
    os.utime(d / "_SUCCESS", ns=(2, 2))
    assert A.source_fingerprint(str(d)) != fp1


def test_session_df_memo_capped(monkeypatch):
    class _S:  # weakref-able stand-in for a SparkSession
        pass

    s = _S()
    memo: dict = {}
    monkeypatch.setattr(A, "_PLAN_MEMO", memo)
    A.session_df_memo("hot", s, lambda: "hot-df")
    for i in range(3 * A._MEMO_CAP):
        A.session_df_memo(("k", i), s, lambda i=i: f"df{i}")
        # a hit between inserts keeps the first-inserted entry live:
        # eviction is least-recently-used, not insertion order
        assert A.session_df_memo("hot", s, lambda: "rebuilt") == "hot-df"
    assert len(memo) <= A._MEMO_CAP
    # newest entries survive
    assert ("k", 3 * A._MEMO_CAP - 1) in memo
    assert ("k", 0) not in memo


def test_package_keeps_one_module_level_memo():
    """The plan memo is the package's only in-process memo: every other
    freshness check reads disk on each call. A module-level empty dict
    is how a memo starts, so any new one fails here."""
    import ast
    import pathlib

    allowed = {
        "catalog.QUERIES",
        "catalog.ORACLES",
        "artifacts._PLAN_MEMO",
    }
    pkg = pathlib.Path(A.__file__).parent
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            empty_dict = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id == "dict"
                and not value.args
                and not value.keywords
            )
            if empty_dict:
                found |= {f"{mod}.{ast.unparse(t)}" for t in targets}
    assert found == allowed


def test_regenerated_sources_served_fresh_under_live_session(
    spark, tmp_path, monkeypatch
):
    """Regenerate three source tables under a live session after warming
    a loaded table, two artifacts and a stream schema probe: every path
    must serve the new data, not a plan memoized for the old files or a
    table built from them."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    import bench
    from k_means_in_mapreduce_spark import registry
    from k_means_in_mapreduce_spark.sources import load_table

    from .conftest import SF0001, TABLES, assert_oracle_match, make_duck_con

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in TABLES:
        shutil.copyfile(f"{SF0001}/{t}.parquet", f"{sf}/{t}.parquet")

    probed = []
    real_plan = A.parquet_plan

    def spy(spark_, path):
        df = real_plan(spark_, path)
        if path.endswith("embeddings.parquet"):
            probed.append(df.schema["embedding"].dataType.elementType)
        return df

    monkeypatch.setattr(A, "parquet_plan", spy)
    stream = registry.QUERIES["stream_kmeans_scoring"]
    quantiles = registry.QUERIES["lineitem_price_quantiles"]
    groups = registry.QUERIES["dedup_groups_star"]
    try:
        # warm: the table plan, the artifacts, and the stream schema probe
        assert load_table(spark, sf, "embeddings").count() == 500
        quantiles(spark, sf).collect()
        assert groups(spark, sf).count() > 0
        stream(spark, sf).collect()
        assert probed == [T.FloatType()]

        # regenerate: float64 elements and different rows; fewer lineitems
        emb = pq.read_table(f"{sf}/embeddings.parquet")
        vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        new_emb = pa.table({
            "vec_id": pa.array(range(300), pa.int64()),
            "embedding": pa.array(list(vecs[::-1][:300] * 2.0 + 0.5),
                                  pa.list_(pa.float64())),
            "label": pa.array([i % 7 for i in range(300)], pa.int32()),
        })
        pq.write_table(new_emb, f"{sf}/embeddings.parquet")
        li = pq.read_table(f"{sf}/lineitem.parquet")
        pq.write_table(li.slice(0, 2500), f"{sf}/lineitem.parquet")
        # near-dup groups {10, 11, 12} and {20, 21}; 30 and 31 share no
        # shingle with anything, so they get no row
        alpha = [f"alpha{i}" for i in range(20)]
        beta = [f"beta{i}" for i in range(20)]
        texts = {
            10: alpha,
            11: alpha[:-1] + ["alphax"],
            12: ["alphay"] + alpha[1:-1] + ["alphax"],
            20: beta,
            21: beta,
            30: [f"gamma{i}" for i in range(20)],
            31: [f"delta{i}" for i in range(20)],
        }
        docs = [" ".join(words) for words in texts.values()]
        pq.write_table(pa.table({
            "doc_id": pa.array(list(texts), pa.int64()),
            "text": pa.array(docs, pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["src0"] * len(docs), pa.string()),
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        }), f"{sf}/documents.parquet")

        got = load_table(spark, sf, "embeddings").orderBy("vec_id").collect()
        assert [r["vec_id"] for r in got] == list(range(300))
        assert got[0]["embedding"] == new_emb.column("embedding")[0].as_py()

        con = make_duck_con(sf)
        assert_oracle_match(
            quantiles(spark, sf), registry.ORACLES["lineitem_price_quantiles"], con
        )
        assert {(r.doc_id, r.component) for r in groups(spark, sf).collect()} == {
            (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)
        }
        assert_oracle_match(
            groups(spark, sf), registry.ORACLES["dedup_groups_star"], con
        )
        assert_oracle_match(
            stream(spark, sf), registry.ORACLES["stream_kmeans_scoring"], con
        )
        con.close()
        assert probed[-1] == T.DoubleType()
    finally:
        bench.clear_artifact_cache(sf)
