"""A quarantine sink has two writers. When the batch is a LocalRelation,
the driver writes its dead letters with ``ParquetSink.write_rows``;
otherwise, or when the sink cannot take driver rows, Spark writes them
with ``ParquetSink.write``. Both give the same records, rows, schema and
visible directory layout, and a read over a root that mixes both
writers' ``batch_id=N`` directories sees one table."""

import os
import re
from collections import Counter

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
from collector_spark.sources.sources import lines_frame

DEAD_LETTER = StructType(
    [StructField("value", StringType(), True), StructField("fail_stage", StringType(), True)]
)
PART = re.compile(r"part-\d{5}-[0-9a-f-]{36}-c000\.snappy\.parquet")

CASES = {
    "empty": [],
    "none_fail": ['{"code": 200}', '{"code": 200, "i": 1}'],
    "non_ascii": [
        '{"code": 200, "msg": "héllo ☃"}',
        '{"code": 500, "msg": "日本語"}',
        "ünïcödé, not json",
        "� replacement �",
        "lone\ud800surrogate",  # enters Spark as U+FFFD
        None,
        "<13>\U0001F600",
    ],
}


def _pipe(tmp_path, name: str, **quarantine) -> Pipeline:
    return Pipeline(
        PipelineConfig(
            instance_id=name,
            processors=[{"kind": "cel", "rules": ["event.code == 200"]}],
            sinks=[SinkSpec("events", "file", None, {"path": str(tmp_path / name)})],
            quarantine={"kind": "parquet", "path": str(tmp_path / "q"), **quarantine},
        )
    )


def _layout(path) -> tuple[list[str], list[str]]:
    """(visible entries with part files named ``part``, hidden entries
    that are not checksum files)."""
    names = os.listdir(path)
    visible = sorted("part" if PART.fullmatch(n) else n for n in names if not n.startswith("."))
    hidden = [n for n in names if n.startswith(".") and not n.endswith(".crc")]
    return visible, hidden


def _rows(spark, path) -> Counter:
    return Counter(tuple(r) for r in spark.read.parquet(str(path)).collect())


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_and_spark_writers_agree(spark, tmp_path, case):
    """Batch 0's dead letters through the driver, batch 1's (the same
    lines) through Spark, into one root."""
    driver = _pipe(tmp_path, "driver")
    # a rotation option is one the driver's single file cannot honour
    spark_writer = _pipe(tmp_path, "spark", max_records_per_file=1000)
    assert driver.quarantine_sink.takes_rows
    assert not spark_writer.quarantine_sink.takes_rows

    df = lines_frame(spark, CASES[case])
    one = driver.run_batch(df, batch_id=0)
    two = spark_writer.run_batch(df, batch_id=1)
    for field in ("per_sink_counts", "per_stage_counts", "partition_counts", "per_sink_empty_counts"):
        assert getattr(one, field) == getattr(two, field), field

    q = tmp_path / "q"
    by_driver, by_spark = q / "batch_id=0", q / "batch_id=1"
    dead = _rows(spark, by_driver)
    assert dead == _rows(spark, by_spark)
    assert sum(dead.values()) == one.per_sink_counts["__quarantine__"]
    if case == "non_ascii":
        failed = [*CASES[case][1:4], "lone\ufffdsurrogate", None, "<13>\U0001F600"]
        assert dead == Counter((v, "stage_0_cel") for v in failed)
    else:
        assert not dead
    for path in (by_driver, by_spark):
        assert spark.read.parquet(str(path)).schema == DEAD_LETTER
    # Spark writes one part file per non-empty task (one for an empty
    # write) and a checksum file for each; the driver one file and no
    # checksum
    assert _layout(by_driver) == (["_SUCCESS", "part"], [])
    assert len(os.listdir(by_driver)) == 2
    visible, hidden = _layout(by_spark)
    assert set(visible) == {"_SUCCESS", "part"} and visible.count("_SUCCESS") == 1
    assert hidden == []
    assert sorted(os.listdir(q)) == ["batch_id=0", "batch_id=1"]

    # the benchmark's check reads the root: one schema, partitioned by batch
    everything = spark.read.parquet(str(q))
    assert everything.schema == StructType(
        DEAD_LETTER.fields + [StructField("batch_id", IntegerType(), True)]
    )
    n = sum(dead.values())
    assert sorted(r.batch_id for r in everything.collect()) == [0] * n + [1] * n


def test_replay_overwrites_a_driver_written_batch(spark, tmp_path):
    """Replaying a batch id (each run a restarted pipeline with no
    state_dir, so the batch is not committed) replaces its directory, as
    Spark's overwrite does: the same batch again holds its rows once,
    and a different one holds only the new rows. No temp directory is
    left."""
    first = lines_frame(spark, ['{"code": 200}', "bad 1", "bad 2"])
    second = lines_frame(spark, ["bad 3"])
    batch = tmp_path / "q" / "batch_id=4"
    for df, want in ((first, ["bad 1", "bad 2"]), (first, ["bad 1", "bad 2"]), (second, ["bad 3"])):
        record = _pipe(tmp_path, "replay").run_batch(df, batch_id=4)
        assert record.per_sink_counts["__quarantine__"] == len(want)
        assert sorted(r.value for r in spark.read.parquet(str(batch)).collect()) == want
        assert _layout(batch) == (["_SUCCESS", "part"], [])
        assert os.listdir(tmp_path / "q") == ["batch_id=4"]


def test_rewrite_clears_a_killed_writers_hidden_directories(tmp_path):
    """A writer killed before or inside its rename leaves ``.batch_id=N.tmp``
    or ``.batch_id=N.tmp.old``; the batch's next write removes both and
    leaves another batch's hidden names alone."""
    import pyarrow as pa

    from collector_spark.sinks.sinks import ParquetSink

    root = tmp_path / "q"
    leftovers = [root / ".batch_id=2.tmp", root / ".batch_id=2.tmp.old", root / ".batch_id=9.tmp"]
    for d in leftovers:
        d.mkdir(parents=True)
        (d / "part-00000-x-c000.snappy.parquet").write_bytes(b"partial")
    table = pa.table({"value": ["a"], "fail_stage": ["s"]})
    assert ParquetSink(str(root)).write_rows(table, batch_id=2) == 1
    assert sorted(os.listdir(root)) == [".batch_id=9.tmp", "batch_id=2"]
    assert _layout(root / "batch_id=2") == (["_SUCCESS", "part"], [])


def test_takes_rows_only_for_one_local_file_per_batch(tmp_path):
    """A ``file:`` URL is written at its path; another scheme, a
    partitioned sink or a rotating one keeps Spark's write."""
    import pyarrow as pa

    from collector_spark.sinks.sinks import ParquetSink

    sink = ParquetSink(f"file://{tmp_path}/q")
    assert sink.takes_rows and ParquetSink(str(tmp_path)).takes_rows
    table = pa.table({"value": ["a", None], "fail_stage": ["s", "s"]})
    assert sink.write_rows(table, batch_id=3) == 2
    assert sink.last_metrics == {"written": 2, "empty": 0}
    assert _layout(tmp_path / "q" / "batch_id=3") == (["_SUCCESS", "part"], [])
    for other in (
        ParquetSink("s3a://bucket/q"),
        ParquetSink(str(tmp_path), partition_by=("fail_stage",)),
        ParquetSink(str(tmp_path), max_records_per_file=10),
    ):
        assert not other.takes_rows
