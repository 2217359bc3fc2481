"""Sinks — K3/K4/K5 (SURVEY §2.2).

The reference writes dimension rows to Phoenix/HBase with hand-built
upsert SQL + auto-DDL (func/DimSinkFunction.java:28-72,
func/TableProcessFunction.java:97-148) and stats rows to ClickHouse via
a reflective JDBC batcher (util/ClickHouseUtil.java:16-54).

Spark-first equivalents on a parquet-backed store (no Delta jar in this
environment — with Delta, ``upsert_dim_table`` is literally
``MERGE INTO dim USING updates ON pk``; the emulation below is the
documented anti-join + union pattern):

- K4 ``upsert_dim_table``  — last-write-wins upsert by primary key.
- K5 ``create_table_if_not_exists`` — schema-only bootstrap (the
  reference's all-varchar auto-DDL).
- K3 ``append_stats_table`` — whole-micro-batch append (the JDBC
  batch of 2 rows / 2 s becomes the trigger interval).

Scale note: the upsert shuffles the existing table once on the pk
anti-join; at warehouse scale this is exactly what a Delta MERGE plans
(minus file-level pruning). Updates are deduped to one row per pk
(latest by a monotonic column when given) before merging.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gmall_flink_210726_spark.operators.stateful import first_per_key


def create_table_if_not_exists(
    spark: SparkSession, path: str, schema: StructType
) -> bool:
    """K5 — bootstrap an empty parquet table with a declared schema.
    Returns True when the table was created. (The reference's Phoenix
    DDL at func/TableProcessFunction.java:107-130 — including its
    'if not exist' typo and never-executed statement — is intended
    semantics here.)"""
    if os.path.exists(path):
        return False
    spark.createDataFrame([], schema).write.parquet(path)
    return True


_POINTER = "_CURRENT"
_LOCK = "_LOCK"


class _WriterLock:
    """Held writer mutex: the lock file plus a heartbeat thread that
    refreshes its mtime every ``stale_after / 4`` seconds, so a LIVE
    holder whose Spark merge runs longer than ``stale_after`` is never
    judged stale by a waiter (the stale test measures heartbeat age,
    not upsert duration). The heartbeat recreates the file if a
    misjudging breaker removed it — self-healing for the (tiny,
    inode-guarded) wrong-break window."""

    def __init__(self, lock: str, stale_after: float) -> None:
        self.path = lock
        self._stop = threading.Event()
        interval = max(min(stale_after / 4.0, 15.0), 0.05)
        self._thread = threading.Thread(
            target=self._beat, args=(interval,), daemon=True
        )
        self._thread.start()

    def _beat(self, interval: float) -> None:
        while not self._stop.wait(interval):
            try:
                os.utime(self.path)
            except FileNotFoundError:
                try:  # wrongly broken by a misjudging waiter: restore
                    fd = os.open(
                        self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                    os.close(fd)
                except OSError:
                    pass
            except OSError:
                pass

    def release(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)
        try:
            os.remove(self.path)
        except OSError:
            pass  # stale-broken by a peer after a long stall — harmless


def _break_stale_lock(lock: str, seen_ino: int) -> None:
    """Break a lock judged stale WITHOUT the remove() TOCTOU: rename it
    to a unique name (atomic — exactly one breaker wins; the loser gets
    FileNotFoundError and re-waits), then fstat the renamed file and
    compare inodes with what we judged stale. An inode mismatch means a
    new holder re-created the lock between our stat and our rename —
    restore it via ``os.link`` (atomic, fails if a lock re-appeared)
    and back off; the holder's heartbeat also self-heals this case."""
    broken = f"{lock}.broken.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        os.rename(lock, broken)
    except OSError:
        return  # another breaker won, or the holder released — re-wait
    try:
        fresh = os.stat(broken).st_ino != seen_ino
    except OSError:
        return
    if fresh:
        try:  # we grabbed a NEW holder's lock — put it back atomically
            os.link(broken, lock)
        except OSError:
            pass  # a lock already re-exists; heartbeat covers the holder
    try:
        os.remove(broken)
    except OSError:
        pass


def _acquire_writer_lock(
    path: str, timeout: float, stale_after: float
) -> _WriterLock:
    """Claim the table's single-writer mutex with ``O_CREAT|O_EXCL``
    (atomic on POSIX): the whole read-merge-write-commit runs under it,
    so two concurrent upserts serialize instead of both computing
    ``v{n+1}`` and racing the pointer. The returned ``_WriterLock``
    heartbeats the file's mtime, so "stale" (older than
    ``stale_after``) really means CRASHED holder, not slow merge; a
    stale lock is broken atomically via rename + inode check
    (``_break_stale_lock``). A lock held by a LIVE writer makes us
    wait up to ``timeout`` then raise TimeoutError."""
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, _LOCK)
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, f"{os.getpid()} {time.time()}\n".encode())
            finally:
                os.close(fd)
            return _WriterLock(lock, stale_after)
        except FileExistsError:
            try:
                st = os.stat(lock)
            except OSError:
                continue  # holder released between open and stat — retry
            age = time.time() - st.st_mtime
            if age > stale_after:
                _break_stale_lock(lock, st.st_ino)
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"writer lock {lock} held for {age:.1f}s; "
                    f"gave up after {timeout}s"
                )
            time.sleep(0.05)


def _current_version(path: str) -> str | None:
    """Name of the committed version dir (``v{n}``) or None when `path`
    is absent / a legacy flat-parquet table / an empty bootstrap."""
    ptr = os.path.join(path, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        name = f.read().strip()
    return name or None


def read_dim_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Reader for a dim table written by ``upsert_dim_table``: resolve
    the ``_CURRENT`` pointer to the committed version dir. Falls back to
    reading `path` directly for legacy flat-parquet tables (including
    ``create_table_if_not_exists`` bootstraps).

    ``version`` pins a historical snapshot (time travel over the
    retained version dirs — how far back depends on the writer's
    ``keep_versions``/``gc_grace_seconds``); raises FileNotFoundError
    with the retained versions listed when it has been GC'd."""
    if version is not None:
        vdir = os.path.join(path, f"v{version}")
        if not os.path.isdir(vdir):
            have = sorted(
                int(n[1:])
                for n in (os.listdir(path) if os.path.isdir(path) else [])
                if n.startswith("v") and n[1:].isdigit()
            )
            raise FileNotFoundError(
                f"version v{version} not retained at {path}; available: {have}"
            )
        return spark.read.parquet(vdir)
    cur = _current_version(path)
    if cur is not None:
        return spark.read.parquet(os.path.join(path, cur))
    return spark.read.parquet(path)


def upsert_dim_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    pk: str,
    order_col: str | None = None,
    keep_versions: int = 2,
    lock_timeout: float = 60.0,
    lock_stale_after: float = 600.0,
    gc_grace_seconds: float = 0.0,
) -> None:
    """K4 — upsert (insert-or-replace by pk) into a parquet dim table.

    Equivalent of the reference's Phoenix `upsert into` per row
    (func/DimSinkFunction.java:59-72) done set-at-a-time: existing rows
    whose pk appears in the batch are replaced, others kept. The Redis
    cache invalidation at :39 is obsolete — readers broadcast the dim
    per micro-batch (SURVEY §2.6 J2).

    Commit protocol — version dirs + atomic pointer (the same shape as
    a Delta/Iceberg commit, minus the log): each upsert writes a fresh
    ``path/v{n+1}/`` parquet dir, then atomically replaces the one-line
    ``path/_CURRENT`` pointer file via ``os.replace`` (POSIX rename is
    atomic). A crash at ANY point leaves the pointer naming a complete
    version: before the rename readers still see ``v{n}``; after it
    they see ``v{n+1}``. Concurrent readers that resolved the pointer
    just before a commit keep reading their (still-present) ``v{n}``
    dir — the previous ``keep_versions - 1`` versions are retained and
    only older ones are GC'd, after the commit (``gc_grace_seconds``
    additionally spares any version dir younger than the grace window,
    so a scan straddling several rapid commits keeps its files). Use
    ``read_dim_table`` to read; it also understands legacy flat-parquet
    layouts and migrates them on the next upsert.

    Concurrent writers: the whole read-merge-write-commit runs under a
    per-table ``O_CREAT|O_EXCL`` lock file, so racing upserts serialize
    (no lost update, no pointer race). The holder heartbeats the lock
    mtime while the merge runs, so only a lock orphaned by a CRASH goes
    stale (after ``lock_stale_after`` seconds without a heartbeat) and
    is broken — atomically, via rename + inode check, so two waiters
    cannot double-break and a freshly re-created lock is never lost.
    """
    if order_col is not None:
        updates = first_per_key(updates, [pk], [F.col(order_col).desc()])
    else:
        updates = updates.dropDuplicates([pk])

    lock = _acquire_writer_lock(path, lock_timeout, lock_stale_after)
    try:
        # pointer + layout are resolved UNDER the lock: a writer queued
        # behind a commit must merge from the version that commit wrote
        cur = _current_version(path)
        is_version_artifact = lambda n: (  # noqa: E731
            (n.startswith("v") and n[1:].isdigit())
            or n in (_POINTER, _LOCK)
            or n.endswith(".tmp")
        )
        legacy = cur is None and any(
            not is_version_artifact(n) for n in os.listdir(path)
        )
        if cur is not None:
            current = spark.read.parquet(os.path.join(path, cur))
            cur_n = int(cur[1:])
        elif legacy:
            current = spark.read.parquet(path)  # flat layout: migrate below
            cur_n = 0
        else:
            current = None
            # a crash may have orphaned version dirs with no pointer;
            # write past them rather than into them
            orphans = [
                int(n[1:])
                for n in os.listdir(path)
                if n.startswith("v") and n[1:].isdigit()
            ]
            cur_n = max(orphans, default=0)

        if current is not None:
            kept = current.join(updates.select(pk), pk, "left_anti")
            merged = kept.unionByName(updates, allowMissingColumns=True)
        else:
            merged = updates

        next_v = f"v{cur_n + 1}"
        if legacy:
            # force the merge plan to materialize BEFORE writing under
            # `path`: the source files sit flat in `path` itself and the
            # listing must not pick up the new version dir mid-write
            merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(os.path.join(path, next_v))
        # ---- commit point: atomic pointer replace ----
        tmp_ptr = os.path.join(path, f"{_POINTER}.tmp")
        with open(tmp_ptr, "w") as f:
            f.write(next_v + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp_ptr, os.path.join(path, _POINTER))
        # ---- post-commit GC (crash here is harmless: extra files only) ----
        if legacy:
            for name in os.listdir(path):
                full = os.path.join(path, name)
                if os.path.isfile(full) and name not in (_POINTER, _LOCK):
                    os.remove(full)  # old flat parquet/_SUCCESS files
        floor = cur_n + 2 - max(keep_versions, 1)
        now = time.time()
        for name in os.listdir(path):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < floor:
                full = os.path.join(path, name)
                try:
                    if now - os.path.getmtime(full) < gc_grace_seconds:
                        continue  # reader grace window: spare young versions
                except OSError:
                    pass
                shutil.rmtree(full, ignore_errors=True)
    finally:
        lock.release()


def append_stats_table(df: DataFrame, path: str) -> None:
    """K3 — append a (micro-)batch to a stats table; the whole batch is
    one atomic append (≈ exactly-once when driven by a checkpointed
    foreachBatch, streaming/pipelines.write_foreach_batch)."""
    df.write.mode("append").parquet(path)


def append_stats_exactly_once(df: DataFrame, epoch_id: int, path: str) -> None:
    """K3/T9 — idempotent micro-batch append: each epoch writes its own
    ``epoch_id=N`` partition with overwrite, so a RETRIED epoch (crash
    after write, before checkpoint commit) replaces rather than
    duplicates its rows. This closes the at-least-once gap plain
    append() leaves; readers just scan ``path`` (partition column is
    pruned like any other).

        stream.writeStream.foreachBatch(
            lambda b, e: append_stats_exactly_once(b, e, out)) ...
    """
    df.write.mode("overwrite").parquet(os.path.join(path, f"epoch_id={epoch_id}"))


def compact_stats_table(
    spark: SparkSession, path: str, target_partitions: int = 1
) -> int:
    """Small-file compaction for the K3 stats sink — the operational
    counterpart of frequent micro-batch appends: every 2-second epoch
    writes its own files, and at warehouse scale a day of epochs is
    tens of thousands of tiny parquet files that throttle every scan
    on listing + open cost.

    PRECONDITION — the writer must be quiesced: stop the streaming
    query (or pause the foreachBatch trigger) before calling. The
    compactor snapshots the file listing at ``spark.read.parquet``
    time, so epochs appended AFTER that instant would be silently
    dropped by the directory swap; the post-swap row-count check below
    turns that silent loss into a hard error, but only stopping the
    stream makes compaction safe. Readers racing the swap can
    transiently see no table between the two renames (retry), and a
    crash between them leaves ``_precompact`` intact for recovery.

    Rewrites the whole table into ``target_partitions`` files under a
    fresh ``_compact_tmp`` dir, then swaps it in via two renames (old
    table parked at ``_precompact``). The parked copy is removed ONLY
    after re-counting the swapped-in table equals the snapshot count —
    on mismatch (a writer raced the compaction) it raises and keeps
    ``_precompact`` for recovery. Readers of epoch-id partitioned
    layouts keep working: the epoch_id partition column is preserved
    as a normal column when present. Returns the row count."""
    df = spark.read.parquet(path)
    n_rows = df.count()
    tmp = path.rstrip("/") + "_compact_tmp"
    old = path.rstrip("/") + "_precompact"
    shutil.rmtree(tmp, ignore_errors=True)
    df.repartition(target_partitions).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    # loss check BEFORE discarding the parked original: epochs appended
    # after the listing snapshot travel with the rename into `old`, so
    # a racing writer shows up as old_count > n_rows (the swapped-in
    # table would equal the snapshot either way — counting it proves
    # nothing). Also verify the rewrite itself round-tripped.
    old_count = spark.read.parquet(old).count()
    post = spark.read.parquet(path).count()
    if old_count != n_rows or post != n_rows:
        raise RuntimeError(
            f"compaction of {path} unsafe: snapshot={n_rows}, "
            f"original-at-swap={old_count}, rewritten={post} — a writer "
            f"raced the compaction (stop the stream first); original "
            f"table preserved at {old}"
        )
    shutil.rmtree(old, ignore_errors=True)
    return n_rows
