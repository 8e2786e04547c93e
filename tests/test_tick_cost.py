"""What one batch costs besides its rows: Spark jobs, and the driver's
plan build.

- Partition lineage is measured on the write pass: the kept rows per
  partition id come from the parent's Observation, and equal a
  ``groupBy(spark_partition_id())`` over the persisted parent.
- A quarantine-mode tick runs exactly one Spark job per write.
- Every sink write is a DataFrame action, so the Observations fire with
  the HTTP-family sinks as the only sink.
- A batch's plan build reuses the operators' compiled Columns: py4j
  round trips and eagerly analysed frames stay within a budget.
"""

import gc
import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from collector_spark import datagen
from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
from collector_spark.plans.pages_job import build_pages_agg


class LineageProbe:
    """Sink that reads its view's rows per partition id: the parent is
    persisted while it writes, so this is the lineage over the cache."""

    def __init__(self):
        self.reference = None

    def write(self, df, batch_id=None):
        rows = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        self.reference = {str(r.pid): r["count"] for r in rows}
        return sum(self.reference.values())


def _three_partitions(spark, rows: int = 30):
    """JSON lines over three partitions of ``rows // 3`` ids each; the
    middle partition's lines all fail ``event.code == 200``."""
    third = rows // 3
    ids = spark.range(0, rows, numPartitions=3)
    code = F.when(F.col("id").between(third, 2 * third - 1), 500).otherwise(200)
    line = F.format_string('{"code": %d, "i": %d}', code, F.col("id"))
    return ids.select(line.alias("value"))


@pytest.mark.parametrize("quarantine", [False, True], ids=["plain", "quarantine"])
@pytest.mark.parametrize("empty", [False, True], ids=["three_partitions", "empty"])
def test_lineage_matches_groupby_over_persisted_parent(spark, tmp_path, quarantine, empty):
    df = (
        spark.createDataFrame([], "value string")
        if empty
        else _three_partitions(spark)
    )
    config = PipelineConfig(
        instance_id="lin",
        processors=[{"kind": "cel", "rules": ["event.code == 200"]}],
        sinks=[SinkSpec("out", "file", None, {"path": str(tmp_path / "out")})],
        quarantine=(
            {"kind": "parquet", "path": str(tmp_path / "q")} if quarantine else None
        ),
    )
    pipe = Pipeline(config)
    probe = pipe.sinks["out"] = LineageProbe()
    record = pipe.run_batch(df, batch_id=0)

    assert record.partition_counts == probe.reference
    kept = 0 if empty else 20
    assert sum(record.partition_counts.values()) == kept
    assert record.per_stage_counts == {"stage_0_cel": kept}
    if not empty:  # the all-failing middle partition has no entry
        assert record.partition_counts == {"0": 10, "2": 10}


def test_quarantine_file_tick_runs_two_spark_jobs(spark, tmp_path):
    """One job per write (the events text sink, the quarantine parquet)
    and no other: the lineage and the stage counts ride on the first."""
    log = tmp_path / "app.log"
    config = {
        "instance_id": "jobs",
        "input": {"kind": "file", "path": str(log)},
        "processors": [{"kind": "cel", "rules": ["event.code == 200"]}],
        "sinks": [{"name": "events", "kind": "file", "config": {"path": str(tmp_path / "ev")}}],
        "quarantine": {"kind": "parquet", "path": str(tmp_path / "q")},
    }
    pipe = Pipeline(PipelineConfig.from_dict(config), state_dir=str(tmp_path / "state"))
    sc = spark.sparkContext

    def append_and_tick(lines, group):
        with open(log, "a") as f:
            f.writelines(line + "\n" for line in lines)
        sc.setJobGroup(group, group)
        try:
            return pipe.run_tick(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    append_and_tick(['{"code": 200}', "not json"], "tick-cost-warm")
    record = append_and_tick(
        ['{"code": 200, "i": 1}', '{"code": 500}', '{"code": 200, "i": 2}'], "tick-cost"
    )
    assert record.per_sink_counts == {"events": 2, "__quarantine__": 1}
    assert record.per_stage_counts == {"stage_0_cel": 2}
    assert sum(record.partition_counts.values()) == 2
    assert len(sc.statusTracker().getJobIdsForGroup("tick-cost")) == 2


def _run_with_timeout(fn, seconds: float = 180):
    """``fn()`` in a thread: a batch whose Observation never fires blocks
    in ``Observation.get`` forever, and this fails instead of hanging."""
    box = {}

    def target():
        try:
            box["value"] = fn()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            box["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"run_batch still running after {seconds} s"
    if "error" in box:
        raise box["error"]
    return box["value"]


def _http_family_sink(kind: str, marks):
    """(sink config, expected last_metrics) of one HTTP-family sink whose
    injected sender records each call under ``marks``; the http poster
    fails its first two calls."""

    def flaky_poster(url, body, headers):
        n = len(os.listdir(marks))
        open(marks / f"t{n}", "w").close()
        if n < 2:
            raise RuntimeError("503")
        return 200

    def poster(url, body, headers):
        open(marks / f"p{len(os.listdir(marks))}", "w").close()
        return 200

    def publisher(topic_path, data):
        open(marks / f"m{len(os.listdir(marks))}", "w").close()

    if kind == "http":
        return (
            {"url": "http://example.invalid/x", "poster": flaky_poster, "retry_wait": 0},
            {"written": 2, "empty": 2, "retries": 2},
        )
    if kind == "log_analytics":
        return (
            {"workspace_id": "w", "primary_key": "c2VjcmV0", "log_type": "T", "poster": poster},
            {"written": 2, "empty": 2, "retries": 0},
        )
    return (
        {"project_id": "p", "topic_id": "t", "publisher": publisher},
        {"written": 2, "empty": 2},
    )


@pytest.mark.parametrize("kind", ["http", "log_analytics", "pubsub"])
def test_http_family_sink_under_a_processor(spark, tmp_path, kind):
    """A cel stage and one HTTP-family sink as the only sink: the stage
    counts and the lineage arrive (the sink's write is a DataFrame
    action), and the sink's written/empty/retries are its own."""
    marks = tmp_path / "marks"
    marks.mkdir()
    sink_config, metrics = _http_family_sink(kind, marks)
    # columns-mode cel keeps the blank lines, so the sink tallies them
    rows = [("a", 200), ("", 200), ("b", 500), ("  ", 200), ("c", 200)]
    df = spark.createDataFrame(rows, "value string, code int").coalesce(1)
    config = PipelineConfig(
        instance_id=f"net_{kind}",
        processors=[{"kind": "cel", "rules": ["event.code == 200"], "mode": "columns"}],
        sinks=[SinkSpec("net", kind, None, sink_config)],
    )
    pipe = Pipeline(config, state_dir=str(tmp_path / "state"))
    record = _run_with_timeout(lambda: pipe.run_batch(df, batch_id=0))

    assert record.per_stage_counts == {"stage_0_cel": 4}
    assert record.partition_counts == {"0": 4}
    assert record.per_sink_counts == {"net": 2}
    assert pipe.sinks["net"].last_metrics == metrics
    assert record.per_sink_empty_counts == {"net": 2}
    assert record.per_sink_retry_counts == ({"net": 2} if kind == "http" else {})


class _PlanBuildCounter:
    """py4j round trips of this thread and DataFrames constructed (each
    one an eagerly analysed Dataset in the JVM) while the block runs.
    py4j's finalizer thread sends the releases of freed JavaObjects
    through the same client; those are not the build's, so only this
    thread's commands count, and the garbage collector is off."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.round_trips = 0
        self.frames: dict[int, DataFrame] = {}

    def __enter__(self):
        gc.collect()
        gc.disable()
        send, init = self.client.send_command, DataFrame.__init__
        builder = threading.get_ident()

        def counting_send(*args, **kwargs):
            self.round_trips += threading.get_ident() == builder
            return send(*args, **kwargs)

        def counting_init(frame, *args, **kwargs):
            self.frames[id(frame)] = frame  # __new__ calls __init__ too
            return init(frame, *args, **kwargs)

        self._init = init
        self.client.send_command = counting_send
        DataFrame.__init__ = counting_init
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # the class's method again
        DataFrame.__init__ = self._init
        gc.enable()

    @property
    def analysed(self) -> int:
        return len(self.frames)


DAEMON_CONFIG = {
    "instance_id": "budget",
    "processors": [
        {"kind": "syslog", "type": "rfc3164"},
        {"kind": "kv", "type": "cef", "as_json": True},
        {"kind": "cel", "rules": ['event.severity == "5" || event.name == "x"']},
    ],
    "sinks": [{"name": "events", "kind": "file", "config": {"path": "/nonexistent/events"}}],
    "quarantine": {"kind": "parquet", "path": "/nonexistent/q"},
}


def _second_tick_build(spark, config: dict) -> _PlanBuildCounter:
    """Counts the second build of a quarantine tick's plan (tag every
    stage, observe, split into kept/dead-letter, route) on a fresh
    frame."""
    pipe = Pipeline(PipelineConfig.from_dict(config))

    def build(df):
        _, kept, quarantined = pipe.transform_tagged(df, {})
        return pipe.router.split(kept), quarantined

    build(spark.createDataFrame([("a",)], "value string"))
    fresh = spark.createDataFrame([("b",)], "value string")
    with _PlanBuildCounter(spark) as counter:
        built = build(fresh)
    assert built[0]["events"].columns == ["value"]
    return counter


def test_tick_plan_build_budget(spark):
    """The operators' Columns are compiled once, and the parent's
    bookkeeping columns ride in the stages' own projections."""
    counter = _second_tick_build(spark, DAEMON_CONFIG)
    assert counter.round_trips <= 200, counter.round_trips
    assert counter.analysed <= 12, counter.analysed


@pytest.mark.parametrize(
    "stage",
    [
        {"kind": "grok", "pattern": "%{WORD:level}: %{GREEDYDATA:msg}"},
        {"kind": "csv", "schema": "code int, msg string"},
    ],
    ids=["grok", "csv"],
)
def test_parse_stage_quarantine_plan_build_budget(spark, stage):
    """grok and csv tag in quarantine mode within the daemon tick's
    budget: their rewrite and keep are compiled once, so the second
    build reuses them."""
    counter = _second_tick_build(spark, {**DAEMON_CONFIG, "processors": [stage]})
    assert counter.round_trips <= 200, counter.round_trips
    assert counter.analysed <= 12, counter.analysed


def test_pages_plan_build_budget(spark):
    """A second ``build_pages_agg``: its operators are module-level
    instances whose Columns were compiled by the first. Of its frames,
    the two lookup dims, their broadcast hints, the two joins and the
    aggregate are the plan itself."""
    pages = datagen.gen_pages_df(spark, 10, partitions=1)
    build_pages_agg(spark, pages)
    with _PlanBuildCounter(spark) as counter:
        agg = build_pages_agg(spark, pages)
    assert agg.columns == ["category", "ok", "errors", "all"]
    assert counter.round_trips <= 200, counter.round_trips
    assert counter.analysed <= 20, counter.analysed
