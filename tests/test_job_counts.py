"""Spark job counts of lifecycle paths, pinned.

Wall time on a shared host moves with its neighbours; the number of
Spark jobs an operation submits does not. These counts are the
regression signal that noise cannot hide: a planning change that adds
a listing job, an emptiness probe or a schema-inference pass shows up
here as an exact mismatch. Each count was measured once and is a
property of the code, not of the host.
"""

from __future__ import annotations

import os

from temp_data_pipeline_spark.operators.deletion_vectors import (
    commit_delete_mor,
)
from temp_data_pipeline_spark.operators.versioned import (
    _manifest_dirs,
    commit_version,
    empty_df,
    read_manifest,
    rollback,
    versions,
)
from temp_data_pipeline_spark.sql import SqlEngine

SCHEMA = "k long, part string, x double"


def _jobs(spark, group: str, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("job-counts-idle", "")
    return out, len(sc.statusTracker()._jtracker.getJobIdsForGroup(group))


def _df(spark, ks):
    return spark.createDataFrame(
        [(k, "a" if k % 2 else "b", k / 4) for k in ks], SCHEMA
    )


def _point_select(spark, path, group):
    eng = SqlEngine(spark, {"t": path})
    rows, n = _jobs(
        spark, group,
        lambda: eng.sql("SELECT k, x FROM t WHERE k = 5").collect(),
    )
    assert [tuple(r) for r in rows] == [(5, 1.25)]
    return n


def _chain(spark, path, n_dirs):
    v = commit_version(_df(spark, range(8)), path)
    for i in range(1, n_dirs):
        v = commit_version(_df(spark, range(8 * i, 8 * i + 8)), path,
                           carry_from=v)


def test_point_select_jobs_do_not_grow_with_dirs(spark, tmp_path):
    """A point SELECT runs one job whatever the number of dirs; a MOR
    table adds exactly one, the broadcast of its deletion vector."""
    root = str(tmp_path)
    one, six, mor = (os.path.join(root, n) for n in ("one", "six", "mor"))
    commit_version(_df(spark, range(40)), one)
    _chain(spark, six, 6)
    _chain(spark, mor, 5)
    commit_delete_mor(spark, mor, "k = 3")  # DV + a bare v=6 dir
    for p in (six, mor):
        assert len(_manifest_dirs(read_manifest(spark, p))) == 6
    counts = tuple(
        _point_select(spark, p, f"jobs-point-{os.path.basename(p)}")
        for p in (one, six, mor)
    )
    assert counts == (1, 1, 2)


def test_empty_commit_and_rollback_run_no_job(spark, tmp_path):
    path = os.path.join(str(tmp_path), "meta")
    v1 = commit_version(_df(spark, range(4)), path)
    schema = _df(spark, []).schema
    _, n_empty = _jobs(
        spark, "jobs-empty-commit",
        lambda: commit_version(empty_df(spark, schema), path, carry_from=v1),
    )
    _, n_rollback = _jobs(
        spark, "jobs-rollback", lambda: rollback(spark, path, v1)
    )
    assert versions(spark, path) == [1, 2, 3]
    assert (n_empty, n_rollback) == (0, 0)


def test_snapshot_past_listing_threshold_adds_no_job(spark, tmp_path):
    """Past Spark's parallel-listing threshold a multi-path relation
    would list its dirs with a Spark JOB; the snapshot scan splits its
    groups below the threshold instead, so the job count holds."""
    from temp_data_pipeline_spark.operators.versioned import read_version

    path = os.path.join(str(tmp_path), "wide")
    _chain(spark, path, 6)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        _, n = _jobs(
            spark, "jobs-wide",
            lambda: read_version(spark, path).filter("k = 5").collect(),
        )
        plan = read_version(spark, path)._jdf.queryExecution()
        plan = plan.executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert plan.count("FileScan parquet") == 2  # 4 + 2 dirs
    assert n == 1
