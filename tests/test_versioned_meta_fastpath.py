"""Pins the read-only / freshness contracts of the driver-side
metadata fast paths introduced in the r11 optimization wave:

- the manifest cache returns an isolated dict per call (a consumer
  mutating a returned manifest can never poison later reads) and
  invalidates on the file's stat identity;
- the registry's schema cache regenerates on file replacement;
- the local-path gates refuse ``file://`` URIs with a foreign
  authority and non-local default filesystems (ADVICE r11).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from temp_data_pipeline_spark.operators.versioned import (
    _local_meta_path,
    commit_version,
    empty_df,
    read_manifest,
    versions,
)


def _commit_two_rows(spark, path: str) -> int:
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    return commit_version(df, str(path))


def test_manifest_cache_mutation_isolation(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v = _commit_two_rows(spark, path)
    man = read_manifest(spark, path, v)
    pristine = json.loads(json.dumps(man))
    # mutate the returned dict deeply — top level and nested values
    man["data_dirs"].append("v=999")
    man["_schema"]["fields"] = []
    man["version"] = -1
    again = read_manifest(spark, path, v)
    assert again == pristine
    # and the two calls never share structure
    assert again is not man
    assert again["data_dirs"] is not man["data_dirs"]


def test_manifest_cache_stat_invalidation(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v = _commit_two_rows(spark, path)
    before = read_manifest(spark, path, v)
    mfile = tmp_path / "tbl" / "_manifest" / f"{v}.json"
    doc = json.loads(mfile.read_text())
    doc["_rewritten_marker"] = True
    mfile.write_text(json.dumps(doc))
    after = read_manifest(spark, path, v)
    assert after.get("_rewritten_marker") is True
    assert "_rewritten_marker" not in before


def test_schema_cache_regeneration_miss(spark, tmp_path):
    from temp_data_pipeline_spark.sources.registry import (
        _read_parquet_cached_schema,
    )

    f = str(tmp_path / "t.parquet")
    spark.sql("SELECT 1 AS a").coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "stage1")
    )
    part = next(
        p for p in os.listdir(tmp_path / "stage1") if p.endswith(".parquet")
    )
    os.replace(str(tmp_path / "stage1" / part), f)
    assert _read_parquet_cached_schema(spark, f).columns == ["a"]
    # warm hit: same file, same stat → declared-schema read
    assert _read_parquet_cached_schema(spark, f).columns == ["a"]
    # regenerate the file with a DIFFERENT schema (new inode/mtime)
    spark.sql("SELECT 2 AS b, 'x' AS c").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage2"))
    part = next(
        p for p in os.listdir(tmp_path / "stage2") if p.endswith(".parquet")
    )
    os.replace(str(tmp_path / "stage2" / part), f)
    assert _read_parquet_cached_schema(spark, f).columns == ["b", "c"]


def test_local_meta_path_authority():
    assert _local_meta_path("file:///a/b") == "/a/b"
    assert _local_meta_path("file://localhost/a/b") == "/a/b"
    assert _local_meta_path("file://otherhost/a/b") is None
    assert _local_meta_path("s3a://bucket/a") is None
    assert _local_meta_path("/plain/path") == "/plain/path"


def test_local_fs_dir_authority(tmp_path):
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        _local_fs_dir,
    )

    d = str(tmp_path)
    assert _local_fs_dir(d) == d
    assert _local_fs_dir(f"file://{d}") == d
    assert _local_fs_dir(f"file://localhost{d}") == d
    assert _local_fs_dir(f"file://otherhost{d}") is None
    assert _local_fs_dir("hdfs://nn/x") is None


def test_versions_nonlocal_defaultfs_uses_hadoop_listing(spark, tmp_path):
    """With the defaultFS memo forced non-local, scheme-less paths must
    resolve through the Hadoop listing (which still finds the local
    table here, since the real defaultFS IS local) — the gate must
    never silently return [] for an existing table."""
    path = str(tmp_path / "tbl")
    v = _commit_two_rows(spark, path)
    saved = getattr(spark, "_sg_defaultfs_local", None)
    try:
        spark._sg_defaultfs_local = False
        assert versions(spark, path) == [v]
        assert read_manifest(spark, path, v)["version"] == v
    finally:
        # an unset memo must stay unset: forcing True would pin every
        # later test in the session to the local fast path
        if saved is None:
            del spark._sg_defaultfs_local
        else:
            spark._sg_defaultfs_local = saved


def test_empty_commit_records_declared_nullability(spark, tmp_path):
    path = str(tmp_path / "typed")
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("name", StringType(), True),
        ]
    )
    v = commit_version(empty_df(spark, schema), path)
    man = read_manifest(spark, path, v)
    fields = {f["name"]: f for f in man["_schema"]["fields"]}
    assert fields["id"]["nullable"] is False
    assert fields["name"]["nullable"] is True
    # and the snapshot still reads back empty with the right columns
    from temp_data_pipeline_spark.operators.versioned import read_version

    got = read_version(spark, path, v)
    assert got.columns == ["id", "name"]
    assert got.count() == 0
