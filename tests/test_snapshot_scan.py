"""The grouped snapshot scan (operators/versioned.py::_scan_snapshot).

A version lists one data dir per commit since its last rewrite, and
the scan reads those dirs through as few Parquet relations as their
layout allows. The contract under test: for every layout a manifest
can describe, the grouped scan returns exactly the rows AND the
(``_dv_file``, ``_dv_pos``) tags of the per-dir form it replaced (one
relation per dir, tagged by ``_rel_file(d)``, unioned by name) —
deletion-vector and zone-map sidecars written by either form must keep
resolving — and an unpartitioned multi-dir version plans ONE scan.
"""

from __future__ import annotations

import os
from functools import reduce

import pytest
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.deletion_vectors import (
    commit_delete_mor,
    commit_update_mor,
)
from temp_data_pipeline_spark.operators.versioned import (
    _align_partition_types,
    _dir_root,
    _disk_schema_and_rename,
    _manifest_dirs,
    _rel_file,
    _scan_snapshot,
    commit_merge_cow,
    commit_version,
    read_manifest,
    read_version,
    rename_column,
    shallow_clone,
    versions,
)

# no column may be named ``v``: such tables keep one relation per dir
SCHEMA = "k long, part string, x long"


def _df(spark, ks, x=1):
    return spark.createDataFrame(
        [(k, "a" if k % 2 else "b", x * k) for k in ks], SCHEMA
    )


def _per_dir_reference(spark, path, man):
    """The per-dir position scan `_scan_snapshot` replaced: one relation
    per manifest dir, tagged by `_rel_file(d)`, unioned by name."""
    frames = []
    for d in _manifest_dirs(man):
        read_schema, align = _disk_schema_and_rename(man, d)
        r = spark.read.schema(read_schema)
        root = _dir_root(path, man, d)
        if "/" in d:
            r = r.option("basePath", f"{root}/{d.split('/', 1)[0]}")
        branch = r.parquet(f"{root}/{d}")
        tagged = branch.select(
            _rel_file(d).alias("_dv_file"),
            F.col("_metadata.row_index").alias("_dv_pos"),
            *branch.columns,
        )
        frames.append(
            align(tagged, keep=("_dv_file", "_dv_pos")) if align else tagged
        )
    return _align_partition_types(
        reduce(lambda a, b: a.unionByName(b), frames), man
    )


def _flat(spark, root):
    path = os.path.join(root, "flat")
    v = commit_version(_df(spark, range(8)), path)
    for i in range(1, 4):
        v = commit_version(_df(spark, range(10 * i, 10 * i + 3)), path,
                           carry_from=v)
    return path


def _nested_cow(spark, root):
    path = os.path.join(root, "cow")
    ts = F.lit(1).cast("long").alias("ts")
    commit_merge_cow(_df(spark, range(8)).select("*", ts), path, ["k"],
                     "ts", "part")
    upd = _df(spark, [1, 21], x=7).select(
        "*", F.lit(2).cast("long").alias("ts")
    )
    commit_merge_cow(upd, path, ["k"], "ts", "part")
    # a further partitioned append: top-level hive dir next to the
    # nested v=1/part=b entry
    commit_version(
        _df(spark, [30, 31]).select("*", F.lit(3).cast("long").alias("ts")),
        path, carry_from=versions(spark, path)[-1], partition_by=["part"],
    )
    assert any("/" in d for d in _manifest_dirs(read_manifest(spark, path)))
    return path


def _shallow_clone(spark, root):
    src = os.path.join(root, "src")
    v = commit_version(_df(spark, range(6)), src)
    commit_version(_df(spark, [40, 41]), src, carry_from=v)
    dst = os.path.join(root, "dst")
    shallow_clone(spark, src, dst)
    commit_version(_df(spark, [50, 51]), dst,
                   carry_from=versions(spark, dst)[-1])
    commit_delete_mor(spark, dst, "k = 2")
    return dst


def _renamed(spark, root):
    path = os.path.join(root, "ren")
    v = commit_version(_df(spark, range(6)), path)
    commit_version(_df(spark, [60, 61]), path, carry_from=v)
    rename_column(spark, path, "x", "y")
    commit_version(
        _df(spark, [70, 71]).withColumnRenamed("x", "y"), path,
        carry_from=versions(spark, path)[-1],
    )
    return path


def _layout_evolved(spark, root):
    path = os.path.join(root, "evo")
    v = commit_version(_df(spark, range(6)), path)  # flat
    v = commit_version(_df(spark, [80, 81]), path, carry_from=v,
                       partition_by=["part"])
    commit_version(_df(spark, [90, 91]), path, carry_from=v,
                   partition_by=["part"])
    return path


def _file_less(spark, root):
    path = _flat(spark, root)
    commit_delete_mor(spark, path, "k = 3")  # metadata-only: bare v=N
    commit_update_mor(spark, path, "k = 4", {"x": "x + 100"})
    man = read_manifest(spark, path)
    assert any(
        not [f for f in os.listdir(os.path.join(path, d))
             if f.endswith(".parquet")]
        for d in _manifest_dirs(man)
    )
    return path


LAYOUTS = {
    "flat": _flat,
    "nested_cow": _nested_cow,
    "shallow_clone": _shallow_clone,
    "renamed": _renamed,
    "layout_evolved": _layout_evolved,
    "file_less": _file_less,
}


def _rows(df):
    cols = sorted(df.columns)
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_grouped_scan_equals_per_dir_form(spark, tmp_path, layout):
    path = LAYOUTS[layout](spark, str(tmp_path))
    man = read_manifest(spark, path)
    want = _per_dir_reference(spark, path, man)
    got = _scan_snapshot(spark, path, man, tag="position")
    assert got.columns[:2] == ["_dv_file", "_dv_pos"]
    assert _rows(got) == _rows(want)
    data = [c for c in want.columns if c not in ("_dv_file", "_dv_pos")]
    assert _rows(read_version(spark, path)) == _rows(want.select(*data))
    # the file tag (zone maps, Bloom indexes) is the same relative form
    files = _scan_snapshot(spark, path, man, tag="file")
    assert sorted(r[0] for r in files.select("file").distinct().collect()) \
        == sorted(r[0] for r in want.select("_dv_file").distinct().collect())


@pytest.mark.parametrize("layout", ["flat", "nested_cow", "layout_evolved"])
def test_file_subset_scan_equals_per_dir_form(spark, tmp_path, layout):
    """An explicit relative-file subset (the zone-map survivor path)
    tags and reads exactly those files' rows."""
    path = LAYOUTS[layout](spark, str(tmp_path))
    man = read_manifest(spark, path)
    want = _per_dir_reference(spark, path, man)
    every = sorted(
        r[0] for r in want.select("_dv_file").distinct().collect()
    )
    pick = every[::2]
    got = _scan_snapshot(spark, path, man, files=pick, tag="position")
    assert _rows(got) == _rows(want.filter(F.col("_dv_file").isin(pick)))
    empty = _scan_snapshot(spark, path, man, files=[], tag="position")
    assert empty.columns[:2] == ["_dv_file", "_dv_pos"]
    assert sorted(empty.columns) == sorted(got.columns)
    assert empty.count() == 0


def _file_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "FileScan parquet"
    )


def test_unpartitioned_multi_dir_version_plans_one_scan(spark, tmp_path):
    path = _flat(spark, str(tmp_path))
    assert len(_manifest_dirs(read_manifest(spark, path))) == 4
    assert _file_scans(read_version(spark, path)) == 1
    # the layout-evolved version cannot share one relation: its flat
    # dir and its hive dirs each scan (and prune) on their own
    evo = _layout_evolved(spark, str(tmp_path))
    assert _file_scans(read_version(spark, evo)) == 3
