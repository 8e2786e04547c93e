"""Driver-side rows enter Spark as Arrow, never as a pickled PythonRDD.

Every ``createDataFrame`` under ``collector_spark/`` goes through
``session.driver_frame``. Each converted call must give the schema and
rows that ``createDataFrame(<list>)`` gave. A batch up to
``LOCAL_RELATION_BYTES`` is a local relation, so no job over it scans an
RDD at all (``Scan ExistingRDD``)."""

import glob
import inspect
import os
import re

import pytest

from collector_spark import datagen, session
from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
from collector_spark.sources.sources import (
    FileSource,
    HttpPollerSource,
    QueuePollerSource,
    lines_frame,
)
from collector_spark.sources.syslog_listener import SyslogListenerSource
from tests.plan_inspect import executed_plan

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: NUL, a non-BMP character, an inner \r, a lone surrogate (the list
#: path's JVM unpickler makes it U+FFFD), two surrogate halves written
#: as separate code points
ODD = ["a\x00b", "x\U0001F600y", "c\rd", "lone\ud800x", "tail\udcff", "\ud83d\ude00"]
BATCHES = {"empty": [], "plain": ["one", "two", "three"], "odd": ODD}


def list_frame(spark, lines):
    """The list path every source used before."""
    return spark.createDataFrame([(l,) for l in lines] or [], "value: string")


def assert_same(got, want):
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "ExistingRDD" not in executed_plan(got)


@pytest.mark.parametrize("name", sorted(datagen.LOOKUP_SCHEMAS))
def test_lookup_dim_parity(spark, name):
    rows = {
        "lang_map": datagen.lang_map_rows(),
        "domain_map": datagen.domain_map_rows(7),
        "tld_map": datagen.tld_map_rows(),
    }[name]
    assert_same(datagen.lookup_dfs(spark, seed=7)[name], spark.createDataFrame(rows))


@pytest.mark.parametrize("batch", sorted(BATCHES))
def test_file_source_parity(spark, tmp_path, batch):
    lines = BATCHES[batch]
    path = tmp_path / "in.log"
    path.write_bytes(b"".join(l.encode("utf-8", "surrogatepass") + b"\n" for l in lines))
    df, _ = FileSource(str(path), spill_dir=str(tmp_path / "spill")).read_new(spark, None)
    # the file is decoded with errors="replace" before the frame is built
    decoded = [l.encode("utf-8", "surrogatepass").decode("utf-8", "replace") for l in lines]
    assert_same(df, list_frame(spark, decoded))


@pytest.mark.parametrize("batch", sorted(BATCHES))
def test_http_poller_parity(spark, batch):
    items = BATCHES[batch]
    src = HttpPollerSource(lambda start, end, token: (items, None), now_fn=lambda: "t1")
    df, state = src.read_new(spark, None)
    assert state == {"last_ts": "t1"}
    assert_same(df, list_frame(spark, items))


def test_http_poller_failed_window_parity(spark):
    def fetcher(start, end, token):
        raise OSError("down")

    df, state = HttpPollerSource(fetcher, now_fn=lambda: "t1").read_new(spark, None)
    assert state == {"last_ts": "1970-01-01T00:00:00"}
    assert_same(df, list_frame(spark, []))


@pytest.mark.parametrize("batch", sorted(BATCHES))
def test_queue_poller_parity(spark, batch):
    bodies = BATCHES[batch]
    df, _ = QueuePollerSource(lambda n: list(bodies)).read_new(spark, None)
    assert_same(df, list_frame(spark, bodies))


@pytest.mark.parametrize("batch", sorted(BATCHES))
def test_syslog_listener_parity(spark, batch):
    src = SyslogListenerSource(port=0, protocol="udp", format="raw").start()
    src.stop()
    src._messages = list(BATCHES[batch])
    df, state = src.read_new(spark, None)
    assert state == {"received": len(BATCHES[batch])}
    assert_same(df, list_frame(spark, BATCHES[batch]))


def test_big_batch_is_a_coalesced_arrow_rdd(spark, tmp_path):
    """Past LOCAL_RELATION_BYTES the lines come in as Spark's RDD of
    Arrow batches (decoded in the JVM, no Python worker), one partition
    per core instead of one per 10k-row batch."""
    lines = [f"line {i:07d} " + "x" * 40 for i in range(60_000)]
    assert sum(map(len, lines)) > session.LOCAL_RELATION_BYTES
    path = tmp_path / "in.log"
    path.write_text("".join(l + "\n" for l in lines))
    df, _ = FileSource(str(path), spill_dir=str(tmp_path / "spill")).read_new(spark, None)
    want = list_frame(spark, lines)
    assert df.schema == want.schema
    assert df.collect() == want.collect()
    assert "Scan ExistingRDD arrow" in executed_plan(df)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_lone_surrogate_becomes_replacement_char(spark):
    got = [r.value for r in lines_frame(spark, ODD).collect()]
    assert got[3:] == ["lone\ufffdx", "tail\ufffd", "\ufffd\ufffd"]


def test_quarantine_file_tick_plan(spark, tmp_path):
    """A daemon-style tick (syslog → kv cef → cel, quarantine on) scans a
    local relation, runs one Python stage (the kv/cef pandas UDF), and
    keeps the syslog stage out of the relation: ConvertToLocalRelation
    would evaluate it on the driver at optimization time."""
    log = tmp_path / "in.log"
    log.write_text(
        "<134>Apr 13 10:23:01 host1 CEF:0|synthetic|collector|1.0|e|E|5|src=10.0.0.1 seq=1\n"
        "<134>Apr 13 10:23:02 host2 not a cef body seq=2\n"
        "garbled line seq=3\n"
    )
    out = str(tmp_path / "out")
    pipe = Pipeline(
        PipelineConfig(
            instance_id="tick",
            input={"kind": "file", "path": str(log), "spill_dir": str(tmp_path / "spill")},
            processors=[
                {"kind": "syslog", "type": "rfc3164"},
                {"kind": "kv", "type": "cef", "as_json": True},
                {"kind": "cel", "rules": ['event.device_vendor == "synthetic"']},
            ],
            sinks=[SinkSpec("events", "file", None, {"path": f"{out}/events"})],
            quarantine={"kind": "parquet", "path": f"{out}/quarantine"},
        ),
        state_dir=str(tmp_path / "state"),
    )
    df, _ = pipe.source.read_new(spark, {})
    tagged = pipe.transform_tagged(df)
    plan = executed_plan(tagged)
    assert "ExistingRDD" not in plan
    assert plan.count("ArrowEvalPython") == 1
    optimized = tagged._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"LocalRelation \[value#\d+\]", optimized), optimized

    record = pipe.run_tick(spark)
    assert record.per_sink_counts == {"events": 1, "__quarantine__": 2}

    # the same tick with a quarantine sink the driver cannot write (a
    # rotation option) takes Spark's write and agrees on every count
    spark_write = Pipeline(
        PipelineConfig(
            **{
                **vars(pipe.config),
                "quarantine": {
                    "kind": "parquet",
                    "path": f"{out}/quarantine_spark",
                    "max_records_per_file": 100,
                },
            }
        ),
        state_dir=str(tmp_path / "state_spark"),
    )
    assert pipe.quarantine_sink.takes_rows and not spark_write.quarantine_sink.takes_rows
    again = spark_write.run_tick(spark)
    for field in ("per_sink_counts", "per_stage_counts", "partition_counts"):
        assert getattr(record, field) == getattr(again, field), field
    for path in ("quarantine", "quarantine_spark"):
        dead = spark.read.parquet(f"{out}/{path}").collect()
        assert sorted((r.value, r.fail_stage) for r in dead) == [
            ("<134>Apr 13 10:23:02 host2 not a cef body seq=2", "stage_1_kv"),
            ("garbled line seq=3", "stage_0_syslog"),
        ]


def test_driver_frame_is_the_only_create_dataframe():
    """No other code under collector_spark/ builds a frame from driver
    values: a list would become a pickled PythonRDD again."""
    allowed = inspect.getsource(session.driver_frame)
    offenders = []
    for path in glob.glob(os.path.join(ROOT, "collector_spark", "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            text = f.read().replace(allowed, "")
        if "createDataFrame(" in text:
            offenders.append(os.path.relpath(path, ROOT))
    assert offenders == []
