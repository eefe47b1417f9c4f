"""Build-once artifact machinery and the package's one in-process memo —
a LEAF module by design.

- ``artifact_dir`` is the one path by which the package writes scratch
  files: the parquet of ``materialized_artifact``, the IVF index, the
  file-source round trips and the bucketed table copies. Each build is
  one ``.tmp/<tag>/<name>/v-<md5>`` directory, named by the source
  content, params and producing code it was built from, so every scratch
  file of an sf_dir lives under that sf_dir's ``.tmp/<tag>``;
  ``build_lock`` serializes builds across processes.
- ``source_fingerprint`` is the content key every freshness check uses;
  it reads disk on every call.
- ``session_df_memo`` / ``parquet_plan`` memoize reader PLANS (never data
  or results) in ``_PLAN_MEMO``, keyed on the session and the source
  fingerprint, so regenerated files always get a fresh plan.

Nothing here imports from the package core (registry, operators,
sources), so this file adds only itself to a query's fingerprint cone;
every query reaches it through the table loader's plan memo.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_ROOT = __package__


def _scratch(sf_dir: str) -> str:
    """``.tmp/<tag>``: the one directory that holds every scratch file
    the package writes for ``sf_dir``. The tag is the absolute path
    percent-encoded with no safe character ('/' is ``%2F``, '%' is
    ``%25``): it is never empty and holds no '/', and it decodes back to
    the path, so two sf_dirs never share a directory (``/a/b`` and
    ``/a_b`` included) and neither's directory is inside the other's."""
    from urllib.parse import quote

    tag = quote(os.path.abspath(sf_dir), safe="")
    return os.path.join(_REPO_ROOT, ".tmp", tag)


def source_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet file/dir: name+size+mtime of
    every data file. Regenerated source data -> different fingerprint ->
    derived artifacts (bucketed copies, ANN indexes) are rebuilt instead
    of silently reused. Walks the path on every call: a single-file table
    costs one stat, so there is nothing for a memo to save, and a
    directory table rewritten in place is never missed."""
    import hashlib

    apath = os.path.abspath(path)
    parts = []
    if os.path.isdir(apath):
        for dirpath, _, files in sorted(os.walk(apath)):
            for fn in sorted(files):
                full = os.path.join(dirpath, fn)
                st = os.stat(full)
                # path RELATIVE to the fingerprinted root, not basename: a
                # data file moved across subdirectories (rename preserves
                # mtime) must change the fingerprint, or a stale bucketed
                # copy / IVF index would be silently reused
                rel = os.path.relpath(full, apath)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(apath)
        parts.append(f"{os.path.basename(apath)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


# The package's one in-process memo: key -> (session weakref, DataFrame
# plan). Building a parquet reader lists the path and reads footers on the
# driver (~0.1 s at sf0.01); a memo hit costs ~0.1 ms. Capped at _MEMO_CAP
# entries — far above the working set of ~10 tables plus a few artifacts
# per live session.
_PLAN_MEMO: dict = {}
_MEMO_CAP = 64


def session_df_memo(key: tuple, spark: SparkSession, build):
    """Serve an immutable DataFrame PLAN from :data:`_PLAN_MEMO`.

    A plan holds no data: every action over it still scans the files, so
    no results are ever cached. ``key`` must carry whatever identifies the
    plan's validity (source content fingerprint, applicationId); the
    stored session weakref must additionally point at the SAME session
    object, so a stopped or recreated session (CPython reuses addresses)
    is never served a stale plan. Entries whose session died are evicted
    on the next insert — a memoized plan strong-references its session —
    and the least-recently-used entry is dropped beyond _MEMO_CAP, which
    bounds the entries a live session leaves behind each time its source
    is regenerated (their keys carry a dead fingerprint)."""
    import weakref

    memo = _PLAN_MEMO
    hit = memo.get(key)
    if hit is not None and hit[0]() is spark:
        memo[key] = memo.pop(key, hit)  # a hit moves to the end: LRU eviction
        return hit[1]
    df = build()
    for k in [k for k, v in memo.items() if v[0]() is None]:
        del memo[k]
    while len(memo) >= _MEMO_CAP:
        del memo[next(iter(memo))]  # least recently used comes first
    memo[key] = (weakref.ref(spark), df)
    return df


def parquet_plan(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, memoized per session and per source
    content fingerprint, so rewritten files get a fresh plan."""
    apath = os.path.abspath(path)
    key = (spark.sparkContext.applicationId, apath, source_fingerprint(apath))
    return session_df_memo(key, spark, lambda: spark.read.parquet(path))


@contextmanager
def build_lock(root: str):
    """Exclusive cross-process lock for building the artifact rooted at
    ``root``: an ``flock``, because the kernel releases it when the holder
    dies (no staleness heuristic, whose steal path is racy between two
    waiters: the slower stealer can delete the lock the faster one just
    re-acquired). The lock FILE persists on disk; only the advisory lock
    matters, so a leftover file from a crashed run never blocks. Every
    artifact build takes it through :func:`artifact_dir`."""
    import fcntl

    os.makedirs(root, exist_ok=True)
    fd = os.open(os.path.join(root, ".build.lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)  # blocks until the holder releases/dies
        yield
    finally:
        os.close(fd)  # closing the fd releases the flock


def artifact_dir(
    sf_dir: str, source_file: str, name: str, params: dict, write, module: str
) -> str:
    """Directory of the committed build ``<root>/v-<md5 of want>`` of
    DETERMINISTIC derived data, ``<root>`` being ``.tmp/<tag>/<name>``;
    ``want`` is the content fingerprint of ``<sf_dir>/<source_file>``,
    the CODE fingerprint of ``module``'s intra-package import cone, and
    ``params``, so the build is fresh exactly when that directory exists.

    On a miss, under :func:`build_lock` and after a second check,
    ``write(dir)`` writes ``<dir>.tmp`` (``_``-prefixed side files
    included, which Spark's listing skips) and one rename commits it, so
    a torn build is never served. Still under the lock, every other
    directory of the root goes except the newest previous version: a plan
    one version old keeps its files, a plan two versions old does not."""
    import hashlib
    import importlib
    import json
    import shutil

    # importlib on purpose: gate_ledger provides the fingerprint MECHANISM
    # but its own content never changes any query's results, so it must
    # stay out of the AST fingerprint walk (a visible import here would
    # put gate_ledger.py — including its hand-edited PRIORITY_OVERRIDE —
    # into the fingerprint cone of every artifact-serving query).
    code_fp = importlib.import_module(
        f"{__package__}.gate_ledger"
    ).module_fingerprint(module)
    fp = source_fingerprint(os.path.join(sf_dir, source_file))
    want = {"fingerprint": fp, "code": code_fp, **params}
    key = hashlib.md5(json.dumps(want, sort_keys=True).encode()).hexdigest()
    root = os.path.join(_scratch(sf_dir), name)
    data_dir = os.path.join(root, f"v-{key}")
    if os.path.isdir(data_dir):
        return data_dir
    with build_lock(root):
        if os.path.isdir(data_dir):
            return data_dir
        tmp = data_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)  # left by a build that died
        write(tmp)
        os.rename(tmp, data_dir)  # the commit point
        with os.scandir(root) as entries:
            old = [e for e in entries if e.is_dir() and e.path != data_dir]
        built = [e for e in old if not e.name.endswith(".tmp")]
        keep = max(built, key=lambda e: e.stat().st_mtime_ns, default=None)
        for e in old:
            if e is not keep:
                shutil.rmtree(e.path, ignore_errors=True)
    return data_dir


def materialized_artifact(
    spark: SparkSession,
    sf_dir: str,
    source_file: str,
    name: str,
    params: dict,
    build,
) -> DataFrame:
    """The DETERMINISTIC DataFrame ``build()`` as build-once parquet in an
    :func:`artifact_dir` keyed on ``build``'s module, served as a reader
    plan of that build's version directory, which a rebuild never
    overwrites: the dedup pair, groups and truth tables, the exact k-NN
    truth and the exact-quantile results. At 100 TB these are the
    intermediates a pipeline persists as first-class tables."""

    def write(data_dir: str) -> None:
        build().write.mode("overwrite").parquet(data_dir)

    return parquet_plan(
        spark, artifact_dir(sf_dir, source_file, name, params, write, build.__module__)
    )
