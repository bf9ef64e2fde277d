"""Small-file compaction (layout.compact_table) and partition-pruned
keyed upsert (sinks.merge.merge_upsert).

The claims under test are operational, so the assertions are
filesystem-level: file counts shrink, untouched partition files keep
their exact paths+mtimes, swapped content is byte-consistent with the
expected row set.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators import layout
from gedixr_spark.sinks.merge import merge_upsert


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------- compaction


def test_file_stats_counts_files(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(1000).repartition(7).write.parquet(path)
    st = layout.file_stats(spark, path)
    assert st["n_files"] == 7
    assert st["total_bytes"] > 0
    assert st["min_bytes"] <= st["avg_bytes"] <= st["max_bytes"]


def test_compact_reduces_file_count_in_place(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(2000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    before = _rows(spark.read.parquet(path))
    res = layout.compact_table(spark, path, target_mb=128)
    assert res["before"]["n_files"] == 40
    assert res["after"]["n_files"] == 1  # 40 tiny files ≪ 128 MB
    assert res["path"] == path
    assert _rows(spark.read.parquet(path)) == before
    # staging dir is gone
    assert not os.path.exists(path + ".__compacting")


def test_compact_to_out_path_preserves_source(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.range(500).repartition(10).write.parquet(src)
    layout.compact_table(spark, src, target_mb=64, out_path=dst)
    assert layout.file_stats(spark, src)["n_files"] == 10  # untouched
    assert _rows(spark.read.parquet(dst)) == _rows(spark.read.parquet(src))


def test_compact_sort_by_gives_disjoint_file_ranges(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10_000).withColumn("k", (F.col("id") * 7919) % 10_000)
    df.repartition(20).write.parquet(path)
    res = layout.compact_table(spark, path, sort_by=["k"], n_files=4)
    per_file = (
        spark.read.parquet(path)
        .select("k", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans
    assert res["after"]["n_files"] == len(spans)


def test_compact_empty_dir_raises(spark, tmp_path):
    p = tmp_path / "empty"
    p.mkdir()
    with pytest.raises(ValueError, match="no parquet data files"):
        layout.compact_table(spark, str(p))


# ------------------------------------------------------------- merge_upsert


@pytest.fixture()
def part_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(30)], "id long, val string, day int"
    )
    base.write.partitionBy("day").parquet(path)
    return path


def test_merge_upsert_updates_and_inserts(spark, part_table):
    updates = spark.createDataFrame(
        [(3, "NEW3", 0), (100, "NEW100", 0)], "id long, val string, day int"
    )
    res = merge_upsert(spark, part_table, updates, keys=["id"], partition_col="day")
    assert res == {"touched_partitions": [0], "n_upserted": 2}
    got = {r["id"]: r["val"] for r in spark.read.parquet(part_table).collect()}
    assert got[3] == "NEW3" and got[100] == "NEW100"
    assert len(got) == 31
    assert got[4] == "v4"  # untouched row carried


def test_merge_upsert_leaves_untouched_partitions_alone(spark, part_table):
    def files_with_mtime(day):
        d = os.path.join(part_table, f"day={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_1, before_2 = files_with_mtime(1), files_with_mtime(2)
    updates = spark.createDataFrame([(0, "X", 0)], "id long, val string, day int")
    merge_upsert(spark, part_table, updates, keys=["id"], partition_col="day")
    assert files_with_mtime(1) == before_1
    assert files_with_mtime(2) == before_2
    assert not os.path.exists(part_table + ".__merging")


def test_merge_upsert_multi_partition_batch(spark, part_table):
    updates = spark.createDataFrame(
        [(1, "A", 1), (2, "B", 2), (200, "C", 2)], "id long, val string, day int"
    )
    res = merge_upsert(spark, part_table, updates, keys=["id"], partition_col="day")
    assert res["touched_partitions"] == [1, 2]
    got = {r["id"]: (r["val"], r["day"]) for r in spark.read.parquet(part_table).collect()}
    assert got[1] == ("A", 1) and got[2] == ("B", 2) and got[200] == ("C", 2)
    assert len(got) == 31


def test_merge_upsert_unpartitioned_swap(spark, tmp_path):
    path = str(tmp_path / "flat")
    spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "id long, v long"
    ).write.parquet(path)
    updates = spark.createDataFrame([(5, 999), (10, 1000)], "id long, v long")
    res = merge_upsert(spark, path, updates, keys=["id"])
    assert res["n_upserted"] == 2
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[5] == 999 and got[10] == 1000 and len(got) == 11
    assert not os.path.exists(path + ".__merging")


def test_cdc_batches_then_partition_compaction(spark, part_table):
    """The operational pairing: repeated CDC batches fragment a hot
    partition (each merge rewrite adds task-count files); compacting
    the PARTITION LEAF directory in place restores file health without
    touching the rest of the table, and the table reads back whole."""
    for batch in range(4):
        updates = spark.createDataFrame(
            [(batch * 3 + j, f"b{batch}", 0) for j in range(3)],
            "id long, val string, day int",
        )
        merge_upsert(spark, part_table, updates, keys=["id"], partition_col="day")
    leaf = os.path.join(part_table, "day=0")
    frag = layout.file_stats(spark, leaf)
    assert frag["n_files"] > 1
    before = _rows(spark.read.parquet(part_table))
    res = layout.compact_table(spark, leaf, target_mb=128)
    assert res["after"]["n_files"] == 1
    assert _rows(spark.read.parquet(part_table)) == before


def test_merge_upsert_validates(spark, part_table):
    bad = spark.createDataFrame([(1, 0)], "id long, day int")  # missing val
    with pytest.raises(ValueError, match="missing target columns"):
        merge_upsert(spark, part_table, bad, keys=["id"], partition_col="day")
    ok = spark.createDataFrame([(1, "x", 0)], "id long, val string, day int")
    with pytest.raises(ValueError, match="at least one key"):
        merge_upsert(spark, part_table, ok, keys=[], partition_col="day")
    with pytest.raises(ValueError, match="must not be a merge key"):
        merge_upsert(spark, part_table, ok, keys=["day"], partition_col="day")


def test_vacuum_staging_removes_leftovers(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    # simulate crashed compaction + merge
    spark.range(3).write.parquet(path + ".__compacting")
    spark.range(3).write.parquet(path + ".__merging")
    removed = layout.vacuum_staging(spark, path)
    assert len(removed) == 2
    assert not os.path.exists(path + ".__compacting")
    assert not os.path.exists(path + ".__merging")
    assert spark.read.parquet(path).count() == 10  # target untouched
    assert layout.vacuum_staging(spark, path) == []  # idempotent


def test_merge_upsert_rejects_duplicate_key_batches(spark, part_table):
    dup = spark.createDataFrame(
        [(1, "a", 0), (1, "b", 0)], "id long, val string, day int"
    )
    with pytest.raises(ValueError, match="distinct"):
        merge_upsert(spark, part_table, dup, keys=["id"], partition_col="day")
