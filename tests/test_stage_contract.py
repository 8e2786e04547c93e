"""One stage contract: every built-in processor defines ``tag_columns``
only, and plain mode and quarantine mode are derived from it, so the two
modes keep, drop and count the same rows.

The property test runs random 1-3-stage chains over random line corpora
through ``Pipeline.run_batch`` twice, without and with a quarantine
sink: the routed counts, the per-stage counts and the kept rows agree,
and the dead letters are exactly the inputs plain mode drops. Its
parquet variant writes the dead letters to a parquet quarantine sink
both ways (by the driver, off the events write's Observation, and by
Spark) and reads them back. The route property test sends random
chains to random route predicates, with and without a quarantine sink,
by the small-batch path (one ``toArrow()``, the driver writes every
sink) and by Spark's writers, and compares counts and rows."""

import json
import os
import tempfile
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
from collector_spark.registry import PROCESSOR_REGISTRY
from collector_spark.session import driver_frame


def test_builtins_define_only_tag_columns():
    """``apply`` comes from the base class, for every built-in."""
    for kind, cls in PROCESSOR_REGISTRY.items():
        if not cls.__module__.startswith("collector_spark."):
            continue  # a test's plugin
        assert "tag_columns" in vars(cls), kind
        assert "tag" not in vars(cls), kind
        assert "apply" not in vars(cls), kind


STAGES = [
    {"kind": "syslog", "type": "raw"},
    {"kind": "syslog", "type": "rfc3164"},
    {"kind": "syslog", "type": "rfc5424"},
    {"kind": "kv", "type": "raw", "as_json": True},
    {"kind": "kv", "type": "raw"},
    {"kind": "kv", "type": "cef", "as_json": True},
    {"kind": "kv", "type": "cef"},
    {"kind": "cel", "rules": ["event.code == 200", "has(event.level)"]},
    {"kind": "cel", "rules": ["event.code >= 400"], "action": "reject"},
    {"kind": "json", "add": [{"key": "env", "value": "prod"}]},
    {
        "kind": "json",
        "remove": [{"key": "msg"}],
        "replace": [{"key": "code", "value": 200, "new_value": 201}],
    },
    {"kind": "grok", "pattern": "%{WORD:level}: %{GREEDYDATA:msg}"},
    {"kind": "grok", "pattern": "%{INT:code}"},
    {"kind": "csv", "schema": "code int, msg string"},
    {"kind": "json", "add": [{"key": "out", "value": "x"}], "engine": "native"},
    {
        "kind": "json",
        "add": [
            {"key": "code", "value": 1},
            {"key": "env", "value": "$1 \\ x"},
            {"key": "code", "value": 2},
        ],
        "engine": "native",
    },
]

LINES = [
    "",
    "   ",
    "<13>",
    "<13>   ",
    "<13>hello",
    "<13>code=200 level=info",
    "<13>ERROR: disk full",
    "<13>200,ok",
    "<34>Jan  1 00:00:00 host code=200 msg=up",
    "<34>Jan  1 00:00:00 host ",
    "<34>Jan  1 00:00:00 host CEF:0|v|p|1|id|name|5|code=200",
    "<34>1 2003-10-11T22:14:15.003Z host app 123 ID47 - WARN: x",
    "<34>1 2003-10-11T22:14:15.003Z host app 123 ID47 - ",
    "<34>1 2003-10-11T22:14:15.003Z host app 123 ID47 - {\"code\": 200}",
    "CEF:0|v|p|1|id|name|5|code=500 level=warn",
    "CEF:broken",
    "code=200 level=info",
    "=broken line=",
    '{"code": 200, "msg": "ok"}',
    '{"code": 500}',
    '{"level": "info"}',
    '{"a":1x',
    "[1, 2]",
    "not json at all",
    "ERROR: disk full",
    "200",
    "200,ok",
    '"unterminated,x',
    "x,y,z",
    "no-space\x01tail",
]

_CORPUS = st.lists(
    st.one_of(
        st.sampled_from(LINES),
        st.text(alphabet="<>13 =,:{}\"|aCEF0", max_size=12),
    ),
    max_size=10,
)
_CHAIN = st.lists(st.sampled_from(STAGES), min_size=1, max_size=3)


class CollectSink:
    """Collects the rows of its view (a DataFrame action, so the
    parent's Observations fire)."""

    def __init__(self):
        self.rows = []

    def write(self, df, batch_id=None):
        self.rows = df.collect()
        return len(self.rows)


def _run(spark, chain, lines, quarantine):
    config = PipelineConfig(
        instance_id="contract",
        processors=chain,
        sinks=[SinkSpec("out", "file", None, {"path": "/nonexistent/out"})],
        quarantine={"kind": "parquet", "path": "/nonexistent/q"} if quarantine else None,
    )
    pipe = Pipeline(config)
    out = pipe.sinks["out"] = CollectSink()
    dead = CollectSink()
    if quarantine:
        pipe.quarantine_sink = dead
    df = spark.createDataFrame(list(enumerate(lines)), "id long, value string")
    record = pipe.run_batch(df, batch_id=0)
    kept = Counter((r.id, r.value) for r in out.rows)
    return record, kept, Counter(r.value for r in dead.rows)


@settings(
    max_examples=30,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(chain=_CHAIN, lines=_CORPUS)
# a line whose MSG strips to empty: plain mode once kept it as ""
@example(chain=[STAGES[0]], lines=["<13>", "<13>hello"])
@example(chain=[STAGES[2], STAGES[11]], lines=[LINES[11], LINES[12], "<34>1 x"])
@example(chain=[STAGES[13], STAGES[7]], lines=["200,ok", "x,y,z", '{"a":1x', ""])
# the native json add on non-object and duplicate-key lines: quarantine
# mode once ran the oracle engine, which keeps them
@example(chain=[STAGES[14]], lines=["[1, 2]", "5", "null", '{"a":1,"a":2}', '{"a": 1}', '{"a":1x'])
def test_plain_and_quarantine_modes_agree(spark, chain, lines):
    plain, plain_kept, _ = _run(spark, chain, lines, quarantine=False)
    tagged, tagged_kept, dead = _run(spark, chain, lines, quarantine=True)

    counts = dict(tagged.per_sink_counts)
    assert counts.pop("__quarantine__", 0) == sum(dead.values())
    assert plain.per_sink_counts == counts
    assert plain.per_stage_counts == tagged.per_stage_counts
    assert plain_kept == tagged_kept
    kept_ids = {i for i, _ in plain_kept}
    dropped = Counter(v for i, v in enumerate(lines) if i not in kept_ids)
    assert dropped == dead


ID_LINES = StructType([StructField("id", LongType()), StructField("value", StringType())])


def _run_parquet(spark, chain, lines, root, **quarantine):
    """``_run`` with a parquet quarantine sink at ``root`` over a
    LocalRelation; the dead letters are read back."""
    config = PipelineConfig(
        instance_id="contract_parquet",
        processors=chain,
        sinks=[SinkSpec("out", "file", None, {"path": "/nonexistent/out"})],
        quarantine={"kind": "parquet", "path": root, **quarantine},
    )
    pipe = Pipeline(config)
    out = pipe.sinks["out"] = CollectSink()
    df = driver_frame(spark, ID_LINES, list(range(len(lines))), lines)
    record = pipe.run_batch(df, batch_id=0)
    dead = spark.read.parquet(f"{root}/batch_id=0").collect()
    return record, Counter((r.id, r.value) for r in out.rows), Counter(r.value for r in dead)


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(chain=_CHAIN, lines=_CORPUS)
@example(chain=[STAGES[1], STAGES[5]], lines=LINES[8:14])
def test_parquet_dead_letters_agree_on_both_write_paths(spark, chain, lines):
    plain, plain_kept, _ = _run(spark, chain, lines, quarantine=False)
    with tempfile.TemporaryDirectory() as root:
        one = _run_parquet(spark, chain, lines, f"{root}/driver")
        # a rotation option keeps the sink's Spark write
        two = _run_parquet(spark, chain, lines, f"{root}/spark", max_records_per_file=1 << 20)
        # the driver's writer leaves no checksum files, Spark's does
        assert not any(n.endswith(".crc") for n in os.listdir(f"{root}/driver/batch_id=0"))

    (record, kept, dead), (record2, kept2, dead2) = one, two
    for field in ("per_sink_counts", "per_stage_counts", "partition_counts"):
        assert getattr(record, field) == getattr(record2, field), field
    assert (kept, dead) == (kept2, dead2)
    counts = dict(record.per_sink_counts)
    assert counts.pop("__quarantine__") == sum(dead.values())
    assert plain.per_sink_counts == counts
    assert plain.per_stage_counts == record.per_stage_counts
    assert plain_kept == kept
    kept_ids = {i for i, _ in kept}
    assert dead == Counter(v for i, v in enumerate(lines) if i not in kept_ids)


PREDICATES = [None, "event.code == 200", "event.code >= 400", "has(event.level)", 'event.msg == "ok"']
# a sink that rotates files cannot take driver rows: a LocalRelation
# batch then mixes Spark writes with the driver's
_ROTATION = st.sampled_from([0, 1 << 20])
_ROUTES = st.lists(
    st.tuples(st.sampled_from(PREDICATES), st.sampled_from(["parquet", "file"]), _ROTATION),
    min_size=1,
    max_size=3,
)


def _run_routes(spark, chain, routes, lines, quarantine, root, local):
    """One batch of ``lines`` through ``chain`` to a sink per route under
    ``root``, and to a parquet quarantine sink unless ``quarantine`` is
    None (else its rotation), over a LocalRelation (the driver writes
    every sink that takes rows) or the same relation behind a no-op
    filter (Spark writes them all); every sink is read back."""
    config = PipelineConfig(
        instance_id="routes",
        processors=chain,
        sinks=[
            SinkSpec(f"s{i}", kind, predicate, {"path": f"{root}/s{i}", "max_records_per_file": rotation})
            for i, (predicate, kind, rotation) in enumerate(routes)
        ],
        quarantine=(
            None
            if quarantine is None
            else {"kind": "parquet", "path": f"{root}/q", "max_records_per_file": quarantine}
        ),
    )
    df = driver_frame(spark, ID_LINES, list(range(len(lines))), lines)
    record = Pipeline(config).run_batch(df if local else df.filter(F.lit(True)), batch_id=0)
    read = {"parquet": spark.read.parquet, "file": spark.read.text}
    back = {
        name: Counter(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in read[kind](f"{root}/{name}/batch_id=0").collect()
        )
        for name, kind in _kinds(routes, quarantine).items()
    }
    return record, back


def _kinds(routes, quarantine) -> dict[str, str]:
    kinds = {f"s{i}": kind for i, (_, kind, _) in enumerate(routes)}
    return kinds if quarantine is None else {**kinds, "q": "parquet"}


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    chain=st.lists(st.sampled_from(STAGES), max_size=2),
    routes=_ROUTES,
    lines=_CORPUS,
    quarantine=st.none() | _ROTATION,
)
@example(chain=[STAGES[4]], routes=[(None, "file", 0), ("event.code == 200", "parquet", 0)], lines=LINES, quarantine=0)
@example(chain=[STAGES[4]], routes=[(None, "file", 1 << 20), ("event.code == 200", "parquet", 0)], lines=LINES, quarantine=0)
@example(chain=[STAGES[4]], routes=[(None, "file", 0), ("has(event.level)", "parquet", 0)], lines=LINES, quarantine=1 << 20)
def test_driver_and_spark_paths_agree_over_random_routes(spark, chain, routes, lines, quarantine):
    """The small-batch path (the driver filters one Arrow table and
    writes every sink that takes rows; the rest are Spark writes) and
    the Spark path (one write per sink) give the same per-sink, empty,
    stage and partition counts and the same rows."""
    rotates = {f"s{i}": bool(rotation) for i, (_, _, rotation) in enumerate(routes)}
    if quarantine is not None:
        rotates["q"] = bool(quarantine)
    with tempfile.TemporaryDirectory() as root:
        one, rows = _run_routes(spark, chain, routes, lines, quarantine, f"{root}/driver", True)
        two, rows2 = _run_routes(spark, chain, routes, lines, quarantine, f"{root}/spark", False)
        # Spark's writer leaves checksum files, the driver's does not
        for name in rows:
            crc = any(n.endswith(".crc") for n in os.listdir(f"{root}/driver/{name}/batch_id=0"))
            assert crc == rotates[name], name
            assert any(n.endswith(".crc") for n in os.listdir(f"{root}/spark/{name}/batch_id=0"))
    for field in ("per_sink_counts", "per_sink_empty_counts", "per_stage_counts", "partition_counts"):
        assert getattr(one, field) == getattr(two, field), field
    assert rows == rows2
    for i in range(len(routes)):
        assert sum(rows[f"s{i}"].values()) == one.per_sink_counts[f"s{i}"]
