"""Bucketed co-located joins (catalog.write_bucketed): two tables
bucketed on the same key must join with ZERO shuffle exchanges —
the write-time pre-shuffle that makes repeated big joins affordable."""

from pyspark.sql import functions as F

from collector_spark.catalog import Catalog
from tests.plan_inspect import executed_plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    cat = Catalog(spark, root=str(tmp_path))
    orders = spark.range(0, 10000).select(
        F.col("id").alias("o_id"), (F.col("id") % 97).alias("k"), F.rand(1).alias("v")
    )
    items = spark.range(0, 30000).select(
        (F.col("id") % 10000).alias("o_id"), F.col("id").alias("item_id")
    )
    cat.write_bucketed(orders, "t_orders", ["o_id"], buckets=8)
    cat.write_bucketed(items, "t_items", ["o_id"], buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a real (non-broadcast) join so bucketing is what's tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = cat.read_bucketed("t_orders")
        b = cat.read_bucketed("t_items")
        joined = a.join(b, "o_id")
        assert joined.count() == 30000
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hash" not in plan, plan  # co-located: no shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders")
        spark.sql("DROP TABLE IF EXISTS t_items")


def test_compact_small_files(spark, tmp_path):
    """Compaction rewrites a many-small-files table into few files with
    identical rows, via write-to-temp + swap (crash never loses the
    table)."""
    from collector_spark.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    df = spark.range(0, 1000).withColumn("part", (F.col("id") % 3).cast("int"))
    # 40 appends → many small files
    for i in range(10):
        cat.append(df.filter(F.col("id") % 10 == i).repartition(4), "db.t")
    import glob, os

    path = os.path.join(str(tmp_path), "db", "t")
    before = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert before >= 20

    stats = cat.compact("db.t", target_file_mb=256)
    assert stats["rows"] == 1000
    assert stats["files_before"] == before
    assert stats["files_after"] < before
    out = cat.read_table("db.t")
    assert out.count() == 1000
    assert out.agg(F.sum("id")).first()[0] == 999 * 1000 // 2


def test_compact_with_partition_clustering(spark, tmp_path):
    from collector_spark.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    df = spark.range(0, 300).withColumn("part", (F.col("id") % 3).cast("int"))
    for i in range(5):
        cat.append(df.filter(F.col("id") % 5 == i), "db.p")
    stats = cat.compact("db.p", target_file_mb=256, partition_col="part")
    assert stats["rows"] == 300
    out = cat.read_table("db.p")
    assert out.count() == 300
    assert set(r.part for r in out.select("part").distinct().collect()) == {0, 1, 2}


def test_compact_crash_recovery(spark, tmp_path):
    """A crash inside compact()'s rename window (table renamed to
    .compact_old, new copy not yet in place) must leave the table
    readable: read_table heals it, and a subsequent compact() sweeps
    stale .compact_tmp/.compact_old leftovers instead of failing."""
    import os
    import shutil

    from collector_spark.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    df = spark.range(0, 200).withColumn("part", (F.col("id") % 3).cast("int"))
    for i in range(4):
        cat.append(df.filter(F.col("id") % 4 == i), "db.r")
    path = os.path.join(str(tmp_path), "db", "r")

    # simulate the mid-swap crash: backup exists, table path missing,
    # and a stale (complete) tmp dir is also left behind
    shutil.copytree(path, path + ".compact_tmp")
    os.rename(path, path + ".compact_old")
    assert not os.path.exists(path)

    out = cat.read_table("db.r")  # heals: backup renamed back
    assert out.count() == 200
    assert os.path.exists(path)
    assert not os.path.exists(path + ".compact_old")

    # stale tmp from the crash must not break (or corrupt) the next run
    stats = cat.compact("db.r", target_file_mb=256)
    assert stats["rows"] == 200
    assert not os.path.exists(path + ".compact_tmp")
    assert not os.path.exists(path + ".compact_old")
    assert cat.read_table("db.r").count() == 200


def test_recover_compaction_lost_race_counts_as_healed(tmp_path, monkeypatch):
    """A reader healing a compaction window can lose the race to the
    writer, which publishes the table path first: the heal rename then
    fails (the target now exists), and the read must go on, not crash.
    A failed rename with the table still missing is a real error."""
    import errno
    import os

    import pytest

    from collector_spark.catalog import Catalog

    path = str(tmp_path / "t")
    os.makedirs(path + ".compact_old")

    def writer_wins(src, dst):
        os.makedirs(dst)  # the writer's rename(tmp, path) landed first
        raise OSError(errno.ENOTEMPTY, "Directory not empty", dst)

    monkeypatch.setattr(os, "rename", writer_wins)
    Catalog._recover_compaction(path)
    assert os.path.isdir(path)

    os.rmdir(path)

    def rename_fails(src, dst):
        raise OSError(errno.EACCES, "Permission denied", dst)

    monkeypatch.setattr(os, "rename", rename_fails)
    with pytest.raises(OSError):
        Catalog._recover_compaction(path)
