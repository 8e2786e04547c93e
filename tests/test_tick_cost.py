"""What one batch costs besides its rows: Spark jobs, and the driver's
plan build.

- Partition lineage is measured on the write pass: the kept rows per
  partition id come from the parent's Observation, and equal a
  ``groupBy(spark_partition_id())`` over the parent.
- A quarantine-mode tick of a small tail runs exactly one Spark job: the
  dead letters ride the events write's Observation and the driver
  writes them. A tail over ``LOCAL_RELATION_BYTES``, or a quarantine
  sink that cannot take driver rows, runs one job per write, with the
  same counts. The parent is persisted only for more than one job.
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
from collector_spark.session import LOCAL_RELATION_BYTES
from collector_spark.sources.sources import lines_frame
from collector_spark.plans.pages_job import build_pages_agg


class LineageProbe:
    """Sink that reads its view's rows per partition id (over the cache
    when the parent is persisted, else recomputed: the partitioning is
    the same)."""

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


def _ticker(spark, tmp_path, quarantine_kind: str = "parquet"):
    """(pipe, tick): a quarantine-mode file-source instance, and a
    function that appends lines to its log, runs one tick in a job group
    and returns the record and the group's Spark job count."""
    log = tmp_path / "app.log"
    config = {
        "instance_id": "jobs",
        "input": {"kind": "file", "path": str(log)},
        "processors": [{"kind": "cel", "rules": ["event.code == 200"]}],
        "sinks": [{"name": "events", "kind": "file", "config": {"path": str(tmp_path / "ev")}}],
        "quarantine": {"kind": quarantine_kind, "path": str(tmp_path / "q")},
    }
    pipe = Pipeline(PipelineConfig.from_dict(config), state_dir=str(tmp_path / "state"))
    sc = spark.sparkContext

    def tick(lines, group):
        with open(log, "a") as f:
            f.writelines(line + "\n" for line in lines)
        sc.setJobGroup(group, group)
        try:
            record = pipe.run_tick(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return record, len(sc.statusTracker().getJobIdsForGroup(group))

    return pipe, tick


TICK = ['{"code": 200, "i": 1}', '{"code": 500}', '{"code": 200, "i": 2}']


def test_quarantine_file_tick_runs_one_spark_job(spark, tmp_path):
    """The events write is the tick's only job: the lineage, the stage
    counts and the dead letters ride on it, and the driver writes the
    dead letters."""
    pipe, tick = _ticker(spark, tmp_path)
    tick(['{"code": 200}', "not json"], "tick-cost-warm")
    record, jobs = tick(TICK, "tick-cost")
    assert record.per_sink_counts == {"events": 2, "__quarantine__": 1}
    assert record.per_stage_counts == {"stage_0_cel": 2}
    assert sum(record.partition_counts.values()) == 2
    assert jobs == 1
    dead = spark.read.parquet(str(tmp_path / "q" / "batch_id=1")).collect()
    assert [(r.value, r.fail_stage) for r in dead] == [('{"code": 500}', "stage_0_cel")]


def test_file_quarantine_sink_keeps_a_job_per_write(spark, tmp_path):
    """A quarantine sink that cannot take driver rows (a text file sink)
    keeps its Spark write, with the same counts."""
    _, fast = _ticker(spark, tmp_path / "fast")
    _, spark_write = _ticker(spark, tmp_path / "file", quarantine_kind="file")
    for group in ("warm", "tick"):
        one, one_jobs = fast(TICK, f"quarantine-parquet-{group}")
        two, two_jobs = spark_write(TICK, f"quarantine-file-{group}")
    assert (one_jobs, two_jobs) == (1, 2)
    assert one.per_sink_counts == two.per_sink_counts == {"events": 2, "__quarantine__": 1}
    assert one.per_stage_counts == two.per_stage_counts
    assert one.partition_counts == two.partition_counts


def test_tail_over_local_relation_bytes_keeps_a_job_per_write(spark, tmp_path):
    """A tail over ``LOCAL_RELATION_BYTES`` (but under the source's
    ``max_driver_bytes``) is not a LocalRelation, so its dead letters
    take the quarantine sink's Spark write: every malformed line is
    quarantined."""
    pad = "x" * 80
    n = LOCAL_RELATION_BYTES // 80 + 2000
    lines = [
        f"bad line {i}" if i % 1000 == 7 else f'{{"code": 200, "i": {i}, "pad": "{pad}"}}'
        for i in range(n)
    ]
    pipe, tick = _ticker(spark, tmp_path)
    assert sum(len(line) + 1 for line in lines) < pipe.source.max_driver_bytes
    record, jobs = tick(lines, "tick-cost-big")
    bad = [line for line in lines if line.startswith("bad")]
    assert jobs == 2
    assert record.per_sink_counts == {"events": n - len(bad), "__quarantine__": len(bad)}
    dead = spark.read.parquet(str(tmp_path / "q" / "batch_id=0")).collect()
    assert sorted(r.value for r in dead) == sorted(bad)
    assert {r.fail_stage for r in dead} == {"stage_0_cel"}


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


class PersistProbe:
    """Sink that collects its view, then reads which RDDs are persisted:
    a persisted parent is built by the first action over it."""

    def __init__(self):
        self.persisted = None

    def write(self, df, batch_id=None):
        n = len(df.collect())
        self.persisted = _persisted(df.sparkSession)
        return n


@pytest.mark.parametrize("sinks", [1, 2])
def test_parent_is_persisted_only_for_more_than_one_job(spark, tmp_path, sinks):
    """One Spark job (one routed sink, dead letters written by the
    driver) persists nothing; two routed sinks share a persisted parent,
    which the batch unpersists."""
    config = PipelineConfig(
        instance_id="persist",
        processors=[{"kind": "cel", "rules": ["event.code == 200"]}],
        sinks=[SinkSpec(f"s{i}", "file", None, {"path": "/nonexistent"}) for i in range(sinks)],
        quarantine={"kind": "parquet", "path": str(tmp_path / "q")},
    )
    pipe = Pipeline(config)
    probes = [PersistProbe() for _ in range(sinks)]
    pipe.sinks = {f"s{i}": p for i, p in enumerate(probes)}
    df = lines_frame(spark, TICK)
    # earlier tests in the shared session may have left RDDs persisted
    before = _persisted(spark)
    record = pipe.run_batch(df, batch_id=0)
    assert record.per_sink_counts == {**{f"s{i}": 2 for i in range(sinks)}, "__quarantine__": 1}
    assert [len(p.persisted - before) for p in probes] == [sinks - 1] * sinks
    assert not _persisted(spark) - before


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
        {"kind": "json", "add": [{"key": "k", "value": "v"}], "engine": "native"},
    ],
    ids=["grok", "csv", "json_native"],
)
def test_parse_stage_quarantine_plan_build_budget(spark, stage):
    """grok, csv and the native json add tag in quarantine mode within
    the daemon tick's budget: their rewrite and keep are compiled once,
    so the second build reuses them."""
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
