"""``session``: stat-checked zip revalidation in executor Python workers,
the local filesystem and checkpoint manager a session writes through, the
shipped package zip's lifetime, and ``ensure_parallelism`` on inputs that
have no files."""

from __future__ import annotations

import importlib
import os
import subprocess
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


def _hidden_files_under(root):
    """Hadoop's checksum sidecars (``.<name>.crc``) and a checkpoint
    manager's temp files (``.<name>.<uuid>.tmp``) are dot files. Spark's own
    state-file checksums (``<version>.delta.crc``) are not."""
    return [f for _, _, files in os.walk(root) for f in files if f.startswith(".")]


def test_file_scheme_resolves_to_the_raw_local_filesystem(spark):
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"


def test_parquet_write_leaves_no_checksum_sidecar(spark, tmp_path):
    out = str(tmp_path / "out")
    spark.range(0, 10, numPartitions=2).write.parquet(out)
    assert spark.read.parquet(out).count() == 10
    assert _hidden_files_under(out) == []


def test_restarted_stateful_stream_counts_and_leaves_no_sidecar_or_temp_file(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    name = f"ckpt_restart_{uuid.uuid4().hex}"

    def run(ids):
        spark.range(0, ids).selectExpr("id % 3 AS k").write.mode("append").parquet(src)
        q = (
            spark.readStream.schema("k long").parquet(src).groupBy("k").count()
            .writeStream.format("memory").queryName(name).outputMode("complete")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )  # fmt: skip
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()
        return {r.k: r["count"] for r in spark.table(name).collect()}

    assert run(10) == {0: 4, 1: 3, 2: 3}
    assert run(6) == {0: 6, 1: 5, 2: 5}
    assert os.path.exists(os.path.join(ckpt, "commits", "1"))
    assert _hidden_files_under(ckpt) == []


def test_shipped_package_zip_is_removed_at_exit(tmp_path):
    script = (
        "from gmall_flink_210726_spark.session import get_spark, ship_package\n"
        "ship_package(get_spark('ship-exit', cpus=1))\n"
        "import glob, tempfile\n"
        "assert glob.glob(tempfile.gettempdir() + '/gmall_pkg_*.zip')\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    subprocess.run([sys.executable, "-c", script], cwd=repo, env=env, check=True, timeout=300)
    assert [n for n in os.listdir(tmp_path) if n.startswith("gmall_pkg_")] == []
