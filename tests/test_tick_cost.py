"""What one batch costs besides its rows: Spark jobs, and the driver's
plan build.

- Partition lineage is measured on the write pass: the kept rows per
  partition id come from the parent's Observation, and equal a
  ``groupBy(spark_partition_id())`` over the parent.
- A small batch whose every sink takes driver rows runs exactly one
  Spark job and persists nothing: a quarantine-mode tick with a ``file``
  events sink and a parquet or ``file`` quarantine sink, and a fan-out
  to three local sinks. A tail over ``LOCAL_RELATION_BYTES``, or a sink
  that cannot take driver rows, runs one job per write, with the same
  counts. The parent is persisted only for more than one job.
- Every sink write is a DataFrame action, so the Observations fire with
  the HTTP-family sinks as the only sink.
- A batch's plan build reuses the operators' compiled Columns: py4j
  round trips and eagerly analysed frames stay within a budget.
"""

import gc
import json
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


def _ticker(spark, tmp_path, **quarantine):
    """(pipe, tick): a quarantine-mode file-source instance, and a
    function that appends lines to its log, runs one tick in a job group
    and returns the record and the group's Spark job count."""
    log = tmp_path / "app.log"
    config = {
        "instance_id": "jobs",
        "input": {"kind": "file", "path": str(log)},
        "processors": [{"kind": "cel", "rules": ["event.code == 200"]}],
        "sinks": [{"name": "events", "kind": "file", "config": {"path": str(tmp_path / "ev")}}],
        "quarantine": {"kind": "parquet", "path": str(tmp_path / "q"), **quarantine},
    }
    pipe = Pipeline(PipelineConfig.from_dict(config), state_dir=str(tmp_path / "state"))

    def tick(lines, group):
        with open(log, "a") as f:
            f.writelines(line + "\n" for line in lines)
        return _in_group(spark, group, lambda: pipe.run_tick(spark))

    return pipe, tick


def _in_group(spark, group, fn):
    """``fn()`` run in a Spark job group, and the group's job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


TICK = ['{"code": 200, "i": 1}', '{"code": 500}', '{"code": 200, "i": 2}']
_Q = "__quarantine__"


def test_quarantine_file_tick_runs_one_spark_job(spark, tmp_path):
    """The tick's only job is one ``toArrow()``: the lineage and the
    stage counts ride on it, and the driver writes the events and the
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
    """A ``file`` quarantine sink takes driver rows too: its tick runs
    one job. A quarantine sink that cannot take them (a rotating text
    sink) is the tick's one job, a Spark write whose Observation brings
    the events rows. Over a non-local input both sinks are Spark writes,
    one job each. All agree on the counts and lines."""
    _, fast = _ticker(spark, tmp_path / "fast")
    _, text = _ticker(spark, tmp_path / "text", kind="file")
    _, spark_write = _ticker(spark, tmp_path / "file", kind="file", max_records_per_file=1000)
    all_spark, _ = _ticker(spark, tmp_path / "spark", kind="file", max_records_per_file=1000)
    for b, group in enumerate(("warm", "tick")):
        one, one_jobs = fast(TICK, f"quarantine-parquet-{group}")
        lines, text_jobs = text(TICK, f"quarantine-text-{group}")
        two, two_jobs = spark_write(TICK, f"quarantine-file-{group}")
        df = lines_frame(spark, TICK).filter(F.lit(True))
        three, three_jobs = _in_group(spark, f"quarantine-spark-{group}", lambda: all_spark.run_batch(df, batch_id=b))
    assert text_jobs == 1
    assert (one_jobs, two_jobs, three_jobs) == (1, 1, 2)
    for record in (lines, two, three):
        assert one.per_sink_counts == record.per_sink_counts == {"events": 2, "__quarantine__": 1}
        assert one.per_stage_counts == record.per_stage_counts
        assert one.partition_counts == record.partition_counts
    by_driver, by_observation, by_spark = (
        sorted(spark.read.text(str(tmp_path / d / "q")).collect()) for d in ("text", "file", "spark")
    )
    assert by_driver == by_observation == by_spark and [r.value for r in by_driver] == ['{"code": 500}'] * 2
    events = [sorted(spark.read.text(str(tmp_path / d / "ev")).collect()) for d in ("text", "file", "spark")]
    assert events[0] == events[1] == events[2] and len(events[0]) == 4


def test_small_fanout_batch_runs_one_spark_job(spark, tmp_path):
    """Three local sinks, two of them predicated parquet sinks and one a
    catch-all text sink, over a LocalRelation: one Spark job, nothing
    persisted at any point, and the same rows as Spark's writes. With a
    rotating ``ok`` sink the batch is still one job, ``ok``'s write;
    over a non-local input every sink is a Spark write, a job each."""
    lines = ['{"code": 200, "i": 1}', '{"code": 500, "i": 2}', '{"code": 404, "i": 3}', "  "]

    def pipe(root, **parquet):
        sinks = [
            SinkSpec("ok", "parquet", "event.code == 200", {"path": str(root / "ok"), **parquet}),
            SinkSpec("errors", "parquet", "event.code >= 400", {"path": str(root / "errors")}),
            SinkSpec("archive", "file", None, {"path": str(root / "archive")}),
        ]
        return Pipeline(PipelineConfig(instance_id="fan", sinks=sinks))

    driver, spark_write = pipe(tmp_path / "driver"), pipe(tmp_path / "spark", max_records_per_file=100)
    seen = []
    write_rows = driver.sinks["archive"].write_rows
    driver.sinks["archive"].write_rows = lambda *a, **k: seen.append(_persisted(spark)) or write_rows(*a, **k)
    before = _persisted(spark)
    local = lines_frame(spark, lines)
    batches = (
        (driver, "fanout-warm", local),
        (driver, "fanout", local),
        (spark_write, "fanout-mixed", local),
        (spark_write, "fanout-spark", local.filter(F.lit(True))),
    )
    runs = [_in_group(spark, group, lambda: p.run_batch(df, batch_id=b)) for b, (p, group, df) in enumerate(batches)]
    _, (one, one_jobs), (two, two_jobs), (three, three_jobs) = runs
    assert (one_jobs, two_jobs, three_jobs) == (1, 1, 3)
    assert [s - before for s in seen] == [set(), set()] and not _persisted(spark) - before
    for record in (two, three):
        assert one.per_sink_counts == record.per_sink_counts == {"ok": 1, "errors": 2, "archive": 3}
        assert one.per_sink_empty_counts == record.per_sink_empty_counts == {"archive": 1}
        assert one.partition_counts == record.partition_counts
    for sink, read in (("ok", spark.read.parquet), ("errors", spark.read.parquet), ("archive", spark.read.text)):
        got = [
            sorted(read(str(tmp_path / d / sink / f"batch_id={b}")).collect())
            for d, b in (("driver", 1), ("spark", 2), ("spark", 3))
        ]
        assert got[0] == got[1] == got[2], sink


@pytest.mark.parametrize(
    "spark_sinks",
    [(), ("__quarantine__",), ("ok",), ("ok", "archive")],
    ids=["all_rows", "quarantine", "one_route", "two_routes"],
)
def test_small_batch_runs_a_job_per_spark_write(spark, tmp_path, spark_sinks):
    """The one rule: a LocalRelation batch runs ``max(1, sinks that
    cannot take rows)`` Spark jobs (here a sink cannot when it rotates),
    persists the parent only for two or more of them, and leaves nothing
    persisted. Every mix agrees with an all-Spark run over a non-local
    input."""
    lines = ['{"code": 200, "i": 1}', '{"code": 500, "i": 2}', "not json", '{"code": 200, "i": 3}']

    def pipe(root):
        def at(name):
            return {"path": str(root / name), "max_records_per_file": 100 if name in spark_sinks else 0}

        return Pipeline(
            PipelineConfig(
                instance_id="mix",
                processors=[{"kind": "cel", "rules": ["has(event.code)"]}],
                sinks=[SinkSpec("ok", "parquet", "event.code == 200", at("ok")), SinkSpec("archive", "file", None, at("archive"))],
                quarantine={"kind": "parquet", **at(_Q)},
            )
        )

    mixed, all_spark = pipe(tmp_path / "mixed"), pipe(tmp_path / "spark")
    sinks = {**mixed.sinks, _Q: mixed.quarantine_sink}
    assert [name for name, sink in sinks.items() if not sink.takes_rows] == list(spark_sinks)
    before = _persisted(spark)
    persisted = {}

    def spy(name, write):
        def call(*args, **kwargs):
            written = write(*args, **kwargs)
            persisted[name] = len(_persisted(spark) - before)
            return written

        return call

    for name, sink in sinks.items():
        method = "write" if name in spark_sinks else "write_rows"
        setattr(sink, method, spy(name, getattr(sink, method)))
    local = lines_frame(spark, lines)
    mixed.run_batch(local, batch_id=0)  # warm
    one, jobs = _in_group(spark, "mix-" + "-".join(spark_sinks), lambda: mixed.run_batch(local, batch_id=1))
    assert jobs == max(1, len(spark_sinks))
    shared = 1 if len(spark_sinks) >= 2 else 0
    assert persisted == {name: shared if name in spark_sinks else 0 for name in sinks}
    assert not _persisted(spark) - before
    two = all_spark.run_batch(local.filter(F.lit(True)), batch_id=1)
    for field in ("per_sink_counts", "per_sink_empty_counts", "per_stage_counts", "partition_counts"):
        assert getattr(one, field) == getattr(two, field), field
    assert one.per_sink_counts == {"ok": 2, "archive": 3, _Q: 1}
    for name, read in (("ok", spark.read.parquet), ("archive", spark.read.text), (_Q, spark.read.parquet)):
        got = [sorted(read(str(tmp_path / d / name / "batch_id=1")).collect()) for d in ("mixed", "spark")]
        assert got[0] == got[1], name


@pytest.mark.parametrize("rotating", [False, True], ids=["stdout", "stdout_and_rotating"])
def test_stdout_beside_local_sinks_observes_every_partition(spark, tmp_path, capsys, rotating):
    """A ``stdout`` sink shows only ``num_rows`` rows, which a limit may
    read from the first partition alone. It still reads all of its view
    first, so the row Observation that feeds the local sinks, and the
    stage and lineage counts, hold every partition: the same counts and
    rows as an all-Spark run. With a rotating sink beside it both Spark
    writes read one persisted frame."""
    lines = [json.dumps({"code": 200 if i % 3 else 500, "i": i}) if i % 7 else "not json" for i in range(80)]

    def pipe(root):
        archive = {"path": str(root / "archive"), "max_records_per_file": 100 if rotating else 0}
        return Pipeline(
            PipelineConfig(
                instance_id="show",
                processors=[{"kind": "cel", "rules": ["has(event.code)"]}],
                sinks=[
                    SinkSpec("show", "stdout", None, {"num_rows": 2}),
                    SinkSpec("ok", "parquet", "event.code == 200", {"path": str(root / "ok")}),
                    SinkSpec("archive", "file", None, archive),
                ],
                quarantine={"kind": "parquet", "path": str(root / _Q)},
            )
        )

    local = lines_frame(spark, lines)
    assert min(local.groupBy(F.spark_partition_id()).count().toPandas()["count"]) > 3
    one = pipe(tmp_path / "mixed").run_batch(local, batch_id=0)
    two = pipe(tmp_path / "spark").run_batch(local.filter(F.lit(True)), batch_id=0)
    for field in ("per_sink_counts", "per_sink_empty_counts", "per_stage_counts", "partition_counts"):
        assert getattr(one, field) == getattr(two, field), field
    assert one.per_sink_counts == {"show": 68, "ok": 45, "archive": 68, _Q: 12}
    for name, read in (("ok", spark.read.parquet), ("archive", spark.read.text), (_Q, spark.read.parquet)):
        got = [sorted(read(str(tmp_path / d / name / "batch_id=0")).collect()) for d in ("mixed", "spark")]
        assert got[0] == got[1], name
    assert capsys.readouterr().out.count("only showing top 2 rows") == 2


@pytest.mark.parametrize("kind", ["parquet", "file"])
def test_mixed_batch_dead_letters_ride_the_routed_write(spark, tmp_path, kind):
    """A routed sink that takes no driver rows (a rotating text sink)
    beside a quarantine sink that does: the routed write is the batch's
    one job, its Observation brings the dead letters, and the driver
    writes them as Spark's writer does."""
    lines = ['{"code": 200}', '{"code": 500}', "not json", "  "]

    def pipe(root):
        return Pipeline(
            PipelineConfig(
                instance_id="mixed",
                processors=[{"kind": "cel", "rules": ["event.code == 200"]}],
                sinks=[SinkSpec("events", "file", None, {"path": str(root / "ev"), "max_records_per_file": 100})],
                quarantine={"kind": kind, "path": str(root / "q")},
            )
        )

    driver, spark_write = pipe(tmp_path / "driver"), pipe(tmp_path / "spark")
    batches = (
        (driver, lines_frame(spark, lines)),
        (driver, lines_frame(spark, lines)),
        (spark_write, lines_frame(spark, lines).filter(F.lit(True))),
    )
    _, (one, one_jobs), (two, two_jobs) = [
        _in_group(spark, f"mixed-{kind}-{b}", lambda: p.run_batch(df, batch_id=b))
        for b, (p, df) in enumerate(batches)
    ]
    assert (one_jobs, two_jobs) == (1, 2)
    dead = {"parquet": 3, "file": 2}[kind]
    assert one.per_sink_counts == two.per_sink_counts == {"events": 1, "__quarantine__": dead}
    assert one.per_sink_empty_counts == two.per_sink_empty_counts
    assert one.per_stage_counts == two.per_stage_counts
    read = spark.read.parquet if kind == "parquet" else spark.read.text
    by_driver, by_spark = (sorted(read(str(tmp_path / d / "q" / f"batch_id={b}")).collect()) for d, b in (("driver", 1), ("spark", 2)))
    assert by_driver == by_spark and len(by_driver) == dead


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
    stage, observe, a view per sink) on a fresh frame."""
    pipe = Pipeline(PipelineConfig.from_dict(config))

    def build(df):
        return pipe.views(pipe.transform_tagged(df, {}))

    build(spark.createDataFrame([("a",)], "value string"))
    fresh = spark.createDataFrame([("b",)], "value string")
    with _PlanBuildCounter(spark) as counter:
        built = build(fresh)
    assert built["events"].columns == ["value"]
    assert built["__quarantine__"].columns == ["value", "fail_stage"]
    return counter


class _Action(Exception):
    """Raised in place of a batch's action."""


def _no_action(frame, *_, **__):
    raise _Action


def test_tick_plan_build_budget(spark, monkeypatch):
    """The operators' Columns are compiled once, the parent's
    bookkeeping columns ride in the stages' own projections, and a view
    selects plain names and renames compiled once. A mixed small batch
    (a rotating events sink is a Spark write, the dead letters ride it
    as driver rows) builds the sinks' columns once for its row plan and
    its view."""
    counter = _second_tick_build(spark, DAEMON_CONFIG)
    assert counter.round_trips <= 106, counter.round_trips
    assert counter.analysed <= 12, counter.analysed

    rotating = {"name": "events", "kind": "file", "config": {"path": "/nonexistent/events", "max_records_per_file": 100}}
    pipe = Pipeline(PipelineConfig.from_dict({**DAEMON_CONFIG, "sinks": [rotating]}))
    monkeypatch.setattr(pipe.sinks["events"], "write", _no_action)

    def build(df):
        with pytest.raises(_Action):
            pipe.run_batch(df, batch_id=0)

    build(lines_frame(spark, ["a"]))
    fresh = lines_frame(spark, ["b"])
    with _PlanBuildCounter(spark) as counter:
        build(fresh)
    assert counter.round_trips <= 145, counter.round_trips
    assert counter.analysed <= 9, counter.analysed


def test_tick_build_before_its_action(spark, monkeypatch):
    """What a small quarantine tick builds up to its one action: the
    tagged parent and its Observation, and no view, as no sink is a
    Spark write; then the action's projection of the sinks' flags and
    row columns."""
    pipe = Pipeline(PipelineConfig.from_dict(DAEMON_CONFIG))
    monkeypatch.setattr(DataFrame, "toArrow", _no_action)

    def build(df):
        with pytest.raises(_Action):
            pipe.run_batch(df, batch_id=0)

    build(lines_frame(spark, ["a"]))
    fresh = lines_frame(spark, ["b"])
    row_plan, before_plan = pipe._row_plan, []
    with _PlanBuildCounter(spark) as counter:
        monkeypatch.setattr(pipe, "_row_plan", lambda *a: before_plan.append(counter.analysed) or row_plan(*a))
        build(fresh)
    assert before_plan[0] <= 6, before_plan
    assert counter.analysed <= 7, counter.analysed
    assert counter.round_trips <= 150, counter.round_trips


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
