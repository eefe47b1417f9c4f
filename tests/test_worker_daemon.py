"""The local worker daemon: a zipimporter re-reads its archive only when
the archive changed, and the Tier-1 session's workers run it while
``addPyFile`` keeps working."""

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

import k_means_in_mapreduce_spark as pkg
from k_means_in_mapreduce_spark.session import local_worker_conf

DAEMON = "k_means_in_mapreduce_spark.worker_daemon"


@pytest.fixture
def reads(monkeypatch):
    """Import the daemon module (never its ``manager()``) and count the
    zipimporter directory reads; the class is restored after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.delitem(sys.modules, DAEMON, raising=False)
    importlib.import_module(DAEMON)
    calls = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_zip_reread_only_when_archive_changes(reads, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"m.py": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    assert _load(importer, "m").VALUE == 1
    assert zipimport.zipimporter.invalidate_caches.__module__ == DAEMON

    importer.invalidate_caches()  # first call stamps the importer
    del reads[:]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"m.py": "VALUE = 1\n", "n.py": "VALUE = 2\n"})
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]
    assert _load(importer, "n").VALUE == 2

    os.remove(archive)
    importer.invalidate_caches()  # stock behaviour: no error, no files
    assert importer._files == {}


def test_live_workers_run_the_daemon_and_see_late_py_files(spark, tmp_path):
    """A task of the Tier-1 session reports the wrapper's module and the
    daemon's frozen objects; a module written and shipped after those
    tasks imports in a later task."""
    import pyarrow as pa

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON
    assert conf.get("spark.executorEnv.PYTHONPATH") == os.path.dirname(
        os.path.dirname(os.path.abspath(pkg.__file__))
    )

    df = spark.range(0, 4, 1, 4)

    def daemon_state(batches):
        import gc
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "m": [zipimport.zipimporter.invalidate_caches.__module__],
                "frozen": [gc.get_freeze_count() > 0],
            }
        )

    got = df.mapInArrow(daemon_state, "m string, frozen boolean").collect()
    assert {(r.m, r.frozen) for r in got} == {(DAEMON, True)}

    name = f"late_mod_{os.getpid()}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def late_value(batches):
        import importlib

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"v": [importlib.import_module(name).VALUE]}
        )

    got = {r.v for r in df.mapInArrow(late_value, "v long").collect()}
    assert got == {42}


def test_only_local_masters_get_the_daemon():
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert local_worker_conf(master) == {}
    assert set(local_worker_conf("local[2]")) == {
        "spark.python.daemon.module",
        "spark.executorEnv.PYTHONPATH",
    }
