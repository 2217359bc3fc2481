"""``session``: stat-checked zip revalidation in executor Python workers,
and ``ensure_parallelism`` on inputs that have no files."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd

from gmall_flink_210726_spark import session


def _write_zip(path, module, body):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", body)


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(monkeypatch, tmp_path):
    module = f"zipmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, module, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, module, raising=False)
    assert importlib.import_module(module).VALUE == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # registers the stdlib method, so teardown restores it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    session.revalidate_zips_by_stat()

    importlib.invalidate_caches()
    sys.path_importer_cache[archive].invalidate_caches()
    assert reads == []

    later_ns = os.stat(archive).st_mtime_ns + 10**9
    _write_zip(archive, module, "VALUE = 2222\n")
    os.utime(archive, ns=(later_ns, later_ns))
    importlib.invalidate_caches()
    assert len(reads) == 1
    del sys.modules[module]
    assert importlib.import_module(module).VALUE == 2222

    importlib.invalidate_caches()
    assert len(reads) == 1


def test_workers_revalidate_zips_by_stat_and_driver_does_not(spark):
    session.ship_package(spark)

    def probe(batches):
        import zipimport

        import gmall_flink_210726_spark  # noqa: F401
        from gmall_flink_210726_spark import session as worker_session

        for _ in batches:
            pass
        patched = getattr(worker_session, "_invalidate_zip_if_changed", None)
        yield pd.DataFrame({"patched": [zipimport.zipimporter.invalidate_caches is patched]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "patched boolean").collect()
    assert [r.patched for r in rows] == [True]

    import gmall_flink_210726_spark  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_ensure_parallelism_without_input_files_counts_partitions(spark):
    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100, numPartitions=1)
    assert narrow.inputFiles() == []
    assert session.ensure_parallelism(narrow).rdd.getNumPartitions() == target
    wide = spark.range(0, 100, numPartitions=target)
    assert session.ensure_parallelism(wide) is wide
