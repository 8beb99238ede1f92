"""Metadata-only column rename/drop (operators/versioned.py
rename_column / drop_column): Iceberg-style name mapping by stable
field id. Old files are never rewritten; readers align each data dir
to the current schema through the manifest's ``_dir_fields``.

The verdict r7 #7 matrix: add → rename → drop → add-same-name, plus
time travel, carry-commit propagation, COW/MOR after a rename,
compaction re-baselining, and fsck health.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.versioned import (
    commit_merge_cow,
    commit_version,
    compact_snapshot,
    drop_column,
    read_manifest,
    read_version,
    rename_column,
    verify_table,
    versions,
)

SCHEMA = "k long, part string, v long"


def _mk(spark, tmp_path, name="t", partitioned=True):
    path = os.path.join(str(tmp_path), name)
    commit_version(
        spark.createDataFrame(
            [(i, "a" if i < 3 else "b", 10 * i) for i in range(6)], SCHEMA
        ),
        path,
        partition_by=["part"] if partitioned else None,
    )
    return path


def _vals(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestRename:
    def test_rename_is_metadata_only_and_reads_old_files(
        self, spark, tmp_path
    ):
        path = _mk(spark, tmp_path)
        v2 = rename_column(spark, path, "v", "val")
        assert versions(spark, path) == [1, 2]
        # zero data rewritten: the new version's own dir holds no rows
        man = read_manifest(spark, path, v2)
        assert "v=1" in man["data_dirs"]
        cur = read_version(spark, path)
        assert cur.columns == ["k", "part", "val"]
        assert _vals(cur, "k", "val") == [(i, 10 * i) for i in range(6)]
        # time travel still reads the OLD name
        old = read_version(spark, path, 1)
        assert set(old.columns) == {"k", "part", "v"}
        assert verify_table(spark, path) == []

    def test_appends_after_rename_align_old_dirs(self, spark, tmp_path):
        path = _mk(spark, tmp_path)
        rename_column(spark, path, "v", "val")
        commit_version(
            spark.createDataFrame(
                [(6, "b", 60)], "k long, part string, val long"
            ),
            path,
            partition_by=["part"],
            carry_from=versions(spark, path)[-1],
        )
        cur = read_version(spark, path)
        assert _vals(cur, "k", "val") == [(i, 10 * i) for i in range(7)]
        # filters on the renamed column resolve against old files too
        assert cur.filter(F.col("val") == 20).count() == 1
        assert verify_table(spark, path) == []

    def test_rename_guards(self, spark, tmp_path):
        path = _mk(spark, tmp_path)
        with pytest.raises(ValueError, match="no column"):
            rename_column(spark, path, "nope", "x")
        with pytest.raises(ValueError, match="already exists"):
            rename_column(spark, path, "v", "k")
        with pytest.raises(ValueError, match="partition column"):
            rename_column(spark, path, "part", "p2")

    def test_rename_on_dv_table_refuses(self, spark, tmp_path):
        from temp_data_pipeline_spark.operators.deletion_vectors import (
            commit_delete_mor,
        )

        path = _mk(spark, tmp_path, partitioned=False)
        commit_delete_mor(spark, path, "k = 0")
        with pytest.raises(ValueError, match="merge-on-read"):
            rename_column(spark, path, "v", "val")

    def test_mor_delete_after_rename(self, spark, tmp_path):
        """The positional scan under a renamed schema must align old
        dirs too — DV positions keep pointing at the right rows."""
        from temp_data_pipeline_spark.operators.deletion_vectors import (
            commit_delete_mor,
            read_table,
        )

        path = _mk(spark, tmp_path, partitioned=False)
        rename_column(spark, path, "v", "val")
        commit_delete_mor(spark, path, "val = 20")
        got = read_table(spark, path)
        assert got.columns == ["k", "part", "val"]
        assert _vals(got, "k", "val") == [
            (i, 10 * i) for i in range(6) if i != 2
        ]
        assert verify_table(spark, path) == []

    def test_cow_merge_after_rename_carries_mapping(self, spark, tmp_path):
        path = _mk(spark, tmp_path)
        rename_column(spark, path, "v", "val")
        commit_merge_cow(
            spark.createDataFrame(
                [(0, "a", 999)], "k long, part string, val long"
            ),
            path,
            ["k"],
            "val",
            "part",
        )
        cur = read_version(spark, path)
        got = dict(_vals(cur, "k", "val"))
        assert got[0] == 999 and got[5] == 50  # carried part=b aligned
        assert verify_table(spark, path) == []

    def test_skipped_scan_after_rename(self, spark, tmp_path):
        """Zone-map skipped reads go through _read_files — old dirs
        must align there too."""
        from temp_data_pipeline_spark.operators.zonemap import (
            read_version_skipped,
            write_zone_maps,
        )

        path = _mk(spark, tmp_path, partitioned=False)
        rename_column(spark, path, "v", "val")
        v = versions(spark, path)[-1]
        write_zone_maps(spark, path, ["k", "val"], version=v)
        got = read_version_skipped(spark, path, [("k", "=", 2)], version=v)
        assert _vals(got, "k", "val") == [(2, 20)]
        # stats on the RENAMED column come from the old files' bytes
        # (on-disk name, aligned by field id), not from all-NULL reads
        # that would skip every pre-rename file
        got = read_version_skipped(spark, path, [("val", "=", 20)], version=v)
        assert _vals(got, "k", "val") == [(2, 20)]


class TestFullMatrix:
    def test_add_rename_drop_readd(self, spark, tmp_path):
        """add → rename → drop → add-same-name: the re-added column
        gets a FRESH field id, so pre-re-add files read NULL instead
        of resurrecting the dropped bytes."""
        path = _mk(spark, tmp_path)
        # ADD column w via evolved append
        commit_version(
            spark.createDataFrame(
                [(6, "b", 60, "w6")], "k long, part string, v long, w string"
            ),
            path,
            partition_by=["part"],
            carry_from=1,
            allow_evolution=True,
        )
        # RENAME v -> val
        rename_column(spark, path, "v", "val")
        cur = read_version(spark, path)
        assert set(cur.columns) == {"k", "part", "val", "w"}
        assert _vals(cur.filter("k = 6"), "val", "w") == [(60, "w6")]
        assert _vals(cur.filter("k = 1"), "val", "w") == [(10, None)]
        # DROP w
        drop_column(spark, path, "w")
        cur = read_version(spark, path)
        assert set(cur.columns) == {"k", "part", "val"}
        # RE-ADD a column named w: fresh id — old files read NULL
        commit_version(
            spark.createDataFrame(
                [(7, "a", 70, "fresh")],
                "k long, part string, val long, w string",
            ),
            path,
            partition_by=["part"],
            carry_from=versions(spark, path)[-1],
            allow_evolution=True,
        )
        cur = read_version(spark, path)
        by_k = {r["k"]: r["w"] for r in cur.collect()}
        assert by_k[7] == "fresh"
        assert by_k[6] is None  # dropped bytes never resurrect
        assert by_k[0] is None
        assert _vals(cur, "k", "val") == [
            (i, 10 * i) for i in range(8)
        ]
        assert verify_table(spark, path) == []
        # every historical version still reads under ITS schema
        assert set(read_version(spark, path, 1).columns) == {"k", "part", "v"}
        assert set(read_version(spark, path, 2).columns) == {
            "k", "part", "v", "w"
        }

    def test_compaction_rebaselines_identity(self, spark, tmp_path):
        path = _mk(spark, tmp_path)
        rename_column(spark, path, "v", "val")
        before = _vals(read_version(spark, path), "k", "val")
        v = compact_snapshot(spark, path)
        man = read_manifest(spark, path, v)
        # rewrite landed under current names: tracking fields gone
        assert "_field_ids" not in man and "_dir_fields" not in man
        assert _vals(read_version(spark, path), "k", "val") == before
        # a second rename after compaction starts a fresh baseline
        rename_column(spark, path, "val", "v2")
        assert _vals(read_version(spark, path), "k", "v2") == before
        assert verify_table(spark, path) == []

    def test_drop_guards(self, spark, tmp_path):
        path = _mk(spark, tmp_path)
        with pytest.raises(ValueError, match="no column"):
            drop_column(spark, path, "nope")
        with pytest.raises(ValueError, match="partition column"):
            drop_column(spark, path, "part")
        drop_column(spark, path, "v")
        with pytest.raises(ValueError, match="last data column"):
            drop_column(spark, path, "k")

    def test_double_rename_chains(self, spark, tmp_path):
        path = _mk(spark, tmp_path)
        rename_column(spark, path, "v", "val")
        rename_column(spark, path, "val", "value")
        cur = read_version(spark, path)
        assert cur.columns == ["k", "part", "value"]
        assert _vals(cur, "k", "value") == [(i, 10 * i) for i in range(6)]
        # change feed across the renames still prices by delta and the
        # snapshot_diff on the renamed schema works
        from temp_data_pipeline_spark.operators.versioned import (
            snapshot_diff,
        )

        d = snapshot_diff(spark, path, 2, 3, ["k"])
        assert d.count() == 0  # metadata-only commits change no rows


class TestAddColumn:
    """Metadata-only add_column (ALTER TABLE ... ADD COLUMN): no data
    rewritten, old files read the new column as typed NULL, DV tables
    allowed (positions untouched)."""

    def test_add_is_metadata_only_null_fill(self, spark, tmp_path):
        from temp_data_pipeline_spark.operators.versioned import (
            add_column,
        )

        path = _mk(spark, tmp_path)
        v = add_column(spark, path, "score", "double")
        assert v == 2
        cur = read_version(spark, path)
        assert set(cur.columns) == {"k", "part", "v", "score"}
        assert cur.schema["score"].dataType.simpleString() == "double"
        assert _vals(cur, "k", "score") == [(i, None) for i in range(6)]
        # metadata-only: the new version's own dir is empty, the base
        # dirs are carried by reference
        man = read_manifest(spark, path, 2)
        assert "v=1" in man["data_dirs"]
        # appends under the widened schema interleave with NULL reads
        commit_version(
            spark.createDataFrame(
                [(9, "b", 90, 0.5)],
                "k long, part string, v long, score double",
            ),
            path,
            partition_by=["part"],
            carry_from=2,
        )
        by_k = {r["k"]: r["score"] for r in read_version(spark, path).collect()}
        assert by_k[9] == 0.5 and by_k[1] is None
        # time travel: v1 predates the column
        assert set(read_version(spark, path, 1).columns) == {
            "k", "part", "v",
        }
        assert verify_table(spark, path) == []

    def test_add_after_drop_gets_fresh_id(self, spark, tmp_path):
        from temp_data_pipeline_spark.operators.versioned import (
            add_column,
        )

        path = _mk(spark, tmp_path)
        commit_version(
            spark.createDataFrame(
                [(6, "b", 60, "w6")],
                "k long, part string, v long, w string",
            ),
            path,
            partition_by=["part"],
            carry_from=1,
            allow_evolution=True,
        )
        drop_column(spark, path, "w")
        add_column(spark, path, "w", "string")
        by_k = {r["k"]: r["w"] for r in read_version(spark, path).collect()}
        assert by_k[6] is None  # dropped bytes never resurrect

    def test_add_on_dv_table_allowed(self, spark, tmp_path):
        """DV positions are untouched by an appended field — the DV
        meta rides the evolution commit and keeps subtracting."""
        from temp_data_pipeline_spark.operators.deletion_vectors import (
            commit_delete_mor,
            read_table,
        )
        from temp_data_pipeline_spark.operators.versioned import (
            add_column,
        )

        path = _mk(spark, tmp_path)
        commit_delete_mor(spark, path, "k = 2")
        add_column(spark, path, "note", "string")
        got = read_table(spark, path)
        assert "note" in got.columns
        assert sorted(r["k"] for r in got.collect()) == [0, 1, 3, 4, 5]

    def test_add_guards(self, spark, tmp_path):
        from temp_data_pipeline_spark.operators.versioned import (
            add_column,
        )

        path = _mk(spark, tmp_path)
        with pytest.raises(ValueError, match="already exists"):
            add_column(spark, path, "v", "long")
        with pytest.raises(ValueError, match="cannot parse column type"):
            add_column(spark, path, "x", "not_a_type(")

    def test_streaming_source_reads_added_column_null(
        self, spark, tmp_path
    ):
        """The Python DataSource reader null-fills a column added
        after a dir was written (the pa.nulls branch)."""
        from temp_data_pipeline_spark.operators.versioned import (
            add_column,
        )
        from temp_data_pipeline_spark.streaming.source import (
            register_versioned_source,
        )

        path = _mk(spark, tmp_path, partitioned=False)
        add_column(spark, path, "extra", "long")
        register_versioned_source(spark)
        out = os.path.join(str(tmp_path), "out")
        ck = os.path.join(str(tmp_path), "ck")
        (
            spark.readStream.format("versioned_table")
            .option("path", path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
        got = spark.read.parquet(out)
        assert "extra" in got.columns
        assert sorted(r["k"] for r in got.collect()) == list(range(6))
        assert all(r["extra"] is None for r in got.collect())


def test_default_follows_rename_and_drop(spark, tmp_path):
    from temp_data_pipeline_spark.operators.versioned import (
        add_column,
        column_defaults,
        drop_column,
        rename_column,
    )

    path = _mk(spark, tmp_path)
    add_column(spark, path, "score", "double", default="0.5")
    assert column_defaults(spark, path) == {"score": "0.5"}
    rename_column(spark, path, "score", "quality")
    assert column_defaults(spark, path) == {"quality": "0.5"}
    drop_column(spark, path, "quality")
    assert column_defaults(spark, path) == {}
