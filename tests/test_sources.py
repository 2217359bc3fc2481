"""``sources.batch.load_table`` memoizes each file's inferred parquet
schema: a second load of an unchanged file plans with no Spark job, and
a file rewritten at the same path is inferred again."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from gmall_flink_210726_spark.sources.batch import load_table


def _jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    group = f"test_sources_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    table = pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    pq.write_table(table, tmp_path / "t.parquet")

    def load():
        return load_table(spark, str(tmp_path), "t")

    first, first_jobs = _jobs_in(spark, load)
    second, second_jobs = _jobs_in(spark, load)
    assert first_jobs >= 1  # the first load infers, so the count is live
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"

    def load():
        return load_table(spark, str(tmp_path), "t")

    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    assert load().columns == ["k"]
    later_ns = os.stat(path).st_mtime_ns + 10**9
    pq.write_table(pa.table({"k": [4, 5], "w": [1.5, 2.5]}), path)
    os.utime(path, ns=(later_ns, later_ns))
    after, after_jobs = _jobs_in(spark, load)
    assert after_jobs >= 1
    assert after.dtypes == [("k", "bigint"), ("w", "double")]
    assert sorted(after.collect()) == [(4, 1.5), (5, 2.5)]
    # the new version is memoized in turn
    again, again_jobs = _jobs_in(spark, load)
    assert again_jobs == 0
    assert again.dtypes == after.dtypes
