"""The engine's Python daemon (etlalchemy_spark/pyworker.py): a worker task
re-reads no unchanged zip archive, a changed one is still read, and
get_spark selects the daemon unless extra_conf says otherwise."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from etlalchemy_spark import pyworker
from etlalchemy_spark.session import session_conf


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_lazy_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_m1": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pyworker_m1", "pyworker_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyworker_m1").X == 1

    # install() patches the stdlib class; monkeypatch puts the method back
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(pyworker, "_stamps", {})
    pyworker.install()

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    importlib.invalidate_caches()
    assert reads.count(archive) == 0, "unchanged archive was re-read"

    _write_zip(archive, {"pyworker_m1": "X = 1\n", "pyworker_m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("pyworker_m2").Y == 2
    assert reads.count(archive) == 1


def test_worker_task_rereads_no_zip_archive(spark):
    """At the start of every task PySpark calls importlib.invalidate_caches();
    under the engine's daemon it must not re-read pyspark.zip, py4j or the
    Spark jar (stock pyspark.daemon on CPython 3.11: 16 reads a task)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    row = spark.range(1, numPartitions=1).mapInPandas(probe, "reads long, zips long").collect()[0]
    assert row.zips > 0, "no zip archive on the worker path: the probe shows nothing"
    assert row.reads == 0


def test_get_spark_selects_the_engine_daemon(spark):
    key = "spark.python.daemon.module"
    assert spark.sparkContext.getConf().get(key) == "etlalchemy_spark.pyworker"
    assert session_conf(4)[key] == "etlalchemy_spark.pyworker"
    assert session_conf(4, {key: "pyspark.daemon"})[key] == "pyspark.daemon"
