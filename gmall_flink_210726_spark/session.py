"""SparkSession factory.

The reference configures each Flink app by hand (parallelism, checkpoint
interval, state backend — e.g. dwd/BaseLogApp.java:31-44). Here one
factory produces a session whose defaults are chosen for the execution
tier:

- local[N] testing: shuffle partitions ≈ cores, AQE on, Arrow on.
- cluster (100 TB target): same declarative plans; AQE handles runtime
  coalescing/skew, so the only per-deployment knobs are cores/memory.
"""

from __future__ import annotations

import atexit
import os
import sys
import zipimport

from pyspark.sql import SparkSession

_reread_zip_directory = zipimport.zipimporter.invalidate_caches


def ship_package(spark: SparkSession) -> None:
    """Make this package importable by executor Python workers.

    Module-level Python functions (UDFs, applyInPandasWithState handlers)
    are pickled *by reference* — workers re-import the defining module.
    When the driver process runs from another cwd (the spark-graft
    driver does), the package isn't on the workers' path; shipping a
    zip via addPyFile fixes that once per SparkContext.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and CPython 3.11's ``zipimporter.invalidate_caches``
    re-reads the whole central directory of its archive each time. A
    worker holds one zip importer per imported package directory of
    pyspark.zip, the Spark jar and this zip, so that re-read cost about
    0.2 s of every Python task on 4 cores. The package's first import in
    a worker therefore installs ``revalidate_zips_by_stat``, which skips
    the re-read while the archive's (mtime, size) is unchanged; a
    rewritten archive is still re-read.
    """
    sc = spark.sparkContext
    if getattr(sc, "_gmall_pkg_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    stem = os.path.join(tempfile.gettempdir(), f"gmall_pkg_{os.getpid()}")
    archive = shutil.make_archive(
        stem, "zip", root_dir=os.path.dirname(pkg_dir), base_dir=os.path.basename(pkg_dir)
    )
    # executors fetch the zip after addPyFile returns, so it lives until
    # this interpreter exits
    atexit.register(_remove_quietly, archive)
    sc.addPyFile(archive)
    sc._gmall_pkg_shipped = True


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _zip_key(archive: str):
    """The archive's (st_mtime_ns, st_size), or None if it cannot be stat'ed."""
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_zip_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its (mtime, size) differs from the last read.

    The stat comes before the read, so an archive rewritten during the
    read is seen as changed by the next call."""
    key = _zip_key(self.archive)
    if key is not None and key == getattr(self, "_gmall_zip_key", None):
        return
    _reread_zip_directory(self)
    self._gmall_zip_key = key


def revalidate_zips_by_stat() -> None:
    """Make every zip importer in this process re-read its archive on
    ``invalidate_caches`` only when the archive changed on disk.

    Importers already cached are taken as current as of now: in a worker
    this runs during a task, just after that task's
    ``importlib.invalidate_caches()`` re-read them all."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._gmall_zip_key = _zip_key(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_zip_if_changed


def ensure_parallelism(df):
    """Round-robin repartition IFF the plan's scan parallelism is below
    the cluster's core count.

    Per-row-heavy operators (shingling, signatures, matmuls) inherit the
    scan's partitioning. A small benchmark table is often a single
    parquet file → a single input split → one task doing all the Python/
    codegen work while every other core idles. At real scale (100 TB =
    many splits) the condition is false and this is a NO-OP — no extra
    shuffle is ever added on big inputs; on small ones the shuffle moves
    only the operator's projected columns (call after .select).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # probe scan parallelism via the file list (sub-ms) instead of
    # df.rdd.getNumPartitions(), which forces a full physical plan
    # (~1 s of driver time per call). File count underestimates split
    # count for multi-split files; the worst case is an unnecessary
    # repartition of a small input, never a lost split. A plan with no
    # file scan (range, local rows, a checkpoint) lists no files.
    n_inputs = len(df.inputFiles())
    if n_inputs == 0:
        n_inputs = df.rdd.getNumPartitions()
    if n_inputs < target:
        return df.repartition(target)
    return df


def default_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "gmall_flink_210726_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Session timezone is pinned to UTC so event-time semantics are
    deterministic and oracle-comparable (DuckDB timestamps are UTC-naive).
    """
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are parquet TIMESTAMP(isAdjustedToUTC=false);
        # read them as TimestampType UTC instants (not TIMESTAMP_NTZ) so
        # unix_micros()/window() apply and values match the UTC-naive
        # DuckDB oracle under the UTC session timezone pinned above
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # This Spark ships without libhadoop, so Hadoop's local filesystem
        # forks a child process for most metadata calls. The checksummed
        # default LocalFileSystem writes a .crc sidecar beside every file,
        # which doubles the `chmod` fork setPermission pays per created
        # file; the raw filesystem writes none.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # The default FileContext-based checkpoint manager forks `readlink`
        # 8 times per atomic write of an offset, commit, source-log, state
        # delta or schema file. The FileSystem-based one renames with one
        # rename(2), which on a local disk is atomic and overwrites. That
        # is safe here because the session is local[N] and each checkpoint
        # has one writer; a cluster deployment whose checkpoints live on
        # another filesystem must revisit this conf.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Keep shuffle spill + broadcast thresholds at defaults; AQE
        # auto-broadcasts small sides and coalesces tiny partitions.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
