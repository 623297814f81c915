"""The engine's Python worker daemon: unchanged zip archives are not
re-read per task, changed and newly added ones still import. Also the
driver JVM options ``get_spark`` sets beside it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from legal_knowledge_graph_spark import session, worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def patched_zipimport(monkeypatch):
    """Install the patch; monkeypatch restores the original zipimport."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    worker_daemon.install()


@pytest.mark.skipif(not worker_daemon.NEEDED, reason="Python 3.13+ re-reads lazily")
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch, patched_zipimport):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"lkg_zip_probe_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("lkg_zip_probe_a").A == 1
        assert reads == [archive]  # the importer's first read
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == [archive]

        _write_zip(archive, {"lkg_zip_probe_a": "A = 1\n", "lkg_zip_probe_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive, archive]
        assert importlib.import_module("lkg_zip_probe_b").B == 2
        importlib.invalidate_caches()
        assert reads == [archive, archive]
    finally:
        sys.modules.pop("lkg_zip_probe_a", None)
        sys.modules.pop("lkg_zip_probe_b", None)


def test_install_is_a_noop_from_python_313(monkeypatch):
    monkeypatch.setattr(worker_daemon, "NEEDED", False)
    before = (zipimport.zipimporter.invalidate_caches, zipimport._read_directory)
    worker_daemon.install()
    assert (zipimport.zipimporter.invalidate_caches, zipimport._read_directory) == before


def test_worker_python_path_merges_caller_value():
    root = session.PACKAGE_ROOT
    assert session._worker_python_path(None) == root
    merged = session._worker_python_path(os.pathsep.join(["/a", root, "", "/b"]))
    assert merged.split(os.pathsep) == [root, "/a", "/b"]


def test_session_runs_workers_from_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == session.DAEMON_MODULE
    assert conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[0] == session.PACKAGE_ROOT

    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(16, numPartitions=16).mapInPandas(report, "m string").collect()
    want = worker_daemon.__name__ if worker_daemon.NEEDED else "zipimport"
    assert [r["m"] for r in rows] == [want] * 16


def test_driver_jvm_runs_engine_options(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    for opt in session.JVM_OPTIONS.split():
        assert opt in args


def test_py_file_added_mid_session_imports_in_udf(spark, tmp_path):
    def identity(batches):
        yield from batches

    # workers exist, and have run tasks, before the file is added
    assert spark.range(8, numPartitions=4).mapInPandas(identity, "id long").count() == 8
    archive = tmp_path / "lkg_added_dep.zip"
    _write_zip(archive, {"lkg_added_dep": "VALUE = 41\n"})
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import lkg_added_dep

        for b in batches:
            yield b.assign(id=b["id"] + lkg_added_dep.VALUE)

    rows = spark.range(8, numPartitions=4).mapInPandas(use, "id long").collect()
    assert sorted(r["id"] for r in rows) == list(range(41, 49))
