"""The worker daemon's stat-checked zip importer invalidation: an
unchanged archive is not re-read, a changed one is, and the session's
Python workers run it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa

from affinity_propagation_mapreduce_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    zp = str(tmp_path / "graft_zip_probe.zip")
    _write_zip(zp, {"graft_zip_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(zp)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == zp:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert importlib.import_module("graft_zip_probe_a").VALUE == 1
    assert isinstance(sys.path_importer_cache[zp], zipimport.zipimporter)
    importlib.invalidate_caches()  # the importer's first call reads once
    n = len(reads)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == n

    _write_zip(zp, {"graft_zip_probe_a": "VALUE = 1\n", "graft_zip_probe_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("graft_zip_probe_b").VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    for name in ("graft_zip_probe_a", "graft_zip_probe_b"):
        sys.modules.pop(name, None)


def test_session_workers_run_the_daemon(spark):
    def kernel(it):
        import zipimport

        for _ in it:
            code = zipimport.zipimporter.invalidate_caches.__code__
            yield pa.RecordBatch.from_pydict({"f": [code.co_filename]})

    (row,) = spark.range(0, 1, 1, 1).mapInArrow(kernel, "f string").collect()
    assert os.path.samefile(row.f, worker_daemon.__file__)


def test_add_py_file_is_importable_in_a_later_task(spark, tmp_path):
    zp = tmp_path / "graft_pyfile_probe.zip"
    _write_zip(zp, {"graft_pyfile_probe": "VALUE = 41\n"})

    def kernel(it):
        import graft_pyfile_probe

        for _ in it:
            yield pa.RecordBatch.from_pydict({"v": [graft_pyfile_probe.VALUE + 1]})

    spark.range(0, 1, 1, 1).mapInArrow(lambda it: it, "id long").collect()
    spark.sparkContext.addPyFile(str(zp))
    try:
        (row,) = spark.range(0, 1, 1, 1).mapInArrow(kernel, "v long").collect()
    finally:
        sys.modules.pop("graft_pyfile_probe", None)
    assert row.v == 42
