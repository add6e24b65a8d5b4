"""The local-session worker daemon re-reads a zip archive's directory
only after the archive changes on disk (sift_spark/worker_daemon.py)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from sift_spark.session import python_worker_conf
from sift_spark.worker_daemon import checked_invalidate


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zdaemon_probe_mod.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(monkeypatch, tmp_path):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "old")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zdaemon_probe_mod", raising=False)
    assert importlib.import_module("zdaemon_probe_mod").VALUE == "old"
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    stock_read = zipimport._read_directory
    reads = []

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        checked_invalidate(zipimport.zipimporter.invalidate_caches))

    importlib.invalidate_caches()  # first sight: read once, record the key
    assert reads.count(archive) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _write_zip(archive, "rewritten")  # a longer entry: the size changes
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    del sys.modules["zdaemon_probe_mod"]
    assert importlib.import_module("zdaemon_probe_mod").VALUE == "rewritten"


def test_worker_task_rereads_no_unchanged_archive(spark):
    def count_reads(batches):
        import pandas as pd

        stock_read = zipimport._read_directory
        reads = []

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "pid": [os.getpid()]})

    rows = spark.range(1, numPartitions=1).mapInPandas(
        count_reads, "reads long, pid long").collect()
    assert [r.reads for r in rows] == [0]


def test_only_local_masters_get_the_daemon():
    conf = python_worker_conf("local[4]")
    assert conf["spark.python.daemon.module"] == "sift_spark.worker_daemon"
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(
        sys.modules["sift_spark.worker_daemon"].__file__)))
    assert conf["spark.executorEnv.PYTHONPATH"] == pkg_parent
    for master in ("local-cluster[2,2,2048]", "spark://host:7077", "yarn",
                   "k8s://https://host:6443"):
        assert python_worker_conf(master) == {}, master
