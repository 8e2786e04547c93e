"""Parse each JSON line once: the VARIANT companion column.

Every json-mode reader (CEL and router predicates, the CEL validity
check, the native json add) reads ``cel.with_variant``'s parse of the
value instead of re-parsing the text. These tests pin the invariant
(while present, the column is the parse of the current value), the read
equivalence with ``get_json_object`` and its known divergences, and that
the column never reaches a sink.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from collector_spark.operators import cel as C
from collector_spark.operators.json_mutate import JsonMutator, _key_path
from collector_spark.operators.router import Route, Router
from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
from collector_spark.registry import PROCESSOR_REGISTRY, register_processor

PARSED = C.variant_col("value")

# ---------------------------------------------------------------------------
# Freshness: after every registered processor, as a Pipeline stage, a
# received column is the parse of the current value
# ---------------------------------------------------------------------------

#: valid objects, malformed and non-object JSON, plus lines each
#: rewriting processor turns INTO json (syslog frames, kv/cef, csv, grok)
MIXED = [
    '{"code": 200, "msg": "ok"}',
    '  {"code": 404, "pipeline": "old"}  ',
    '{"code": "abc", "nested": {"b": 1, "a": [1, 2]}}',
    '{"code": 200, "code": 500}',
    "{'code': 200}",
    '{"code": 1',
    "[1, 2, 3]",
    '"just a string"',
    "42",
    "",
    "not json at all",
    '<13>Oct 11 22:14:15 host {"code": 200, "via": "rfc3164"}',
    "<13>1 2024-01-05T10:00:00Z host app 1 ID47 - {\"code\": 500}",
    "a=1 b=two c=3",
    "CEF:0|Acme|Box|1.0|100|Login|5|src=10.0.0.1 act=allow",
    "7,alice,3.5",
    "GET /index.html 200",
]

#: one config per processor kind (and both JsonMutator engines); a kind
#: missing here fails test_every_processor_kind_is_covered
PROCESSOR_CONFIGS = {
    "cel": [{"rules": ["event.code == 200 || event.code >= 400"]}],
    "json": [
        {"add": [{"key": "pipeline", "value": "bench"}], "engine": "native"},
        {
            "add": [{"key": "pipeline", "value": "bench"}],
            "remove": [{"key": "msg"}],
            "replace": [{"key": "code", "value": 404, "new_value": 0}],
            "engine": "pandas",
        },
    ],
    "syslog": [{"type": "raw"}, {"type": "rfc3164"}, {"type": "rfc5424"}],
    "kv": [
        {"type": "raw"},
        {"type": "raw", "as_json": True},
        {"type": "cef", "as_json": True},
    ],
    "grok": [{"pattern": "%{WORD:method} %{NOTSPACE:path} %{NUMBER:status}"}],
    "csv": [{"schema": "id int, name string, score double"}],
}

CASES = [
    (kind, i, cfg)
    for kind, cfgs in PROCESSOR_CONFIGS.items()
    for i, cfg in enumerate(cfgs)
]


def test_every_processor_kind_is_covered():
    builtin = {
        kind
        for kind, factory in PROCESSOR_REGISTRY.items()
        if factory.__module__.startswith("collector_spark.")  # not a test's plugin
    }
    assert builtin == set(PROCESSOR_CONFIGS)


def _stale_rows(df):
    """Rows whose companion is not the parse of their value (VARIANT has
    no equality; its canonical JSON text does)."""
    fresh = F.to_json(F.try_parse_json(F.col("value")))
    return df.filter(~F.to_json(F.col(PARSED)).eqNullSafe(fresh)).select("value")


def _one_stage(kind, cfg) -> Pipeline:
    return Pipeline(PipelineConfig(instance_id=kind, processors=[{"kind": kind, **cfg}]))


@pytest.mark.parametrize(
    "kind,i,cfg", CASES, ids=[f"{kind}-{i}" for kind, i, _ in CASES]
)
def test_processor_keeps_received_variant_fresh(spark, kind, i, cfg):
    src = C.with_variant(spark.createDataFrame([(ln,) for ln in MIXED], "value string"))
    assert _stale_rows(src).count() == 0
    pipe = _one_stage(kind, cfg)
    outs = [pipe.transform(src)]
    if hasattr(pipe.stages[0][1], "tag_columns"):
        outs.append(pipe.transform_tagged(src))  # the quarantine path keeps every row
    for out in outs:
        assert PARSED in out.columns
        assert _stale_rows(out).collect() == []


def test_rewriter_without_a_received_variant_adds_none(spark):
    """Only a stage that received the column re-derives it: a rewrite on
    a frame without one (the native json add parses for its own reads)
    leaves none behind, so no parse runs that no reader asked for."""
    src = spark.createDataFrame([('{"code": 200}',)], "value string")
    for kind, cfg in (
        ("json", {"add": [{"key": "k", "value": "v"}], "engine": "native"}),
        ("json", {"add": [{"key": "k", "value": "v"}]}),
        ("syslog", {"type": "raw"}),
    ):
        assert PARSED not in _one_stage(kind, cfg).transform(src).columns


class UpperValue:
    """A plugin that rewrites the value and knows nothing of the
    companion column."""

    def __init__(self, value_col="value", **_):
        self.value_col = value_col

    def apply(self, df):
        return df.withColumn(self.value_col, F.upper(F.col(self.value_col)))


def test_plugin_rewrite_is_routed_on_the_new_value(spark, tmp_path):
    """cel parses the line; a plugin then upper-cases it, keys included.
    The route predicates must read the upper-cased line, never the parse
    cel left behind."""
    register_processor("upper_value_test", UpperValue)
    try:
        out = str(tmp_path)
        pipe = Pipeline(
            PipelineConfig(
                instance_id="upper",
                processors=[
                    {"kind": "cel", "rules": ['event.code == "ok" || event.code == "no"']},
                    {"kind": "upper_value_test"},
                ],
                sinks=[
                    SinkSpec("lower", "parquet", 'event.code == "ok"', {"path": f"{out}/lower"}),
                    SinkSpec("upper", "parquet", 'event.CODE == "OK"', {"path": f"{out}/upper"}),
                    SinkSpec("all", "parquet", None, {"path": f"{out}/all"}),
                ],
            )
        )
        lines = ['{"code": "ok"}', '{"code": "ok", "n": 1}', '{"code": "no"}', "not json"]
        df = spark.createDataFrame([(ln,) for ln in lines], "value string")
        counts = {"lower": 0, "upper": 2, "all": 3}
        assert pipe.run_batch(df, batch_id=0).per_sink_counts == counts
        assert {r.sink: r.cnt for r in pipe.sink_counts(df).collect()} == counts
        upper = spark.read.parquet(f"{out}/upper/batch_id=0")
        assert sorted(r.value for r in upper.collect()) == [
            '{"CODE": "OK", "N": 1}',
            '{"CODE": "OK"}',
        ]
    finally:
        PROCESSOR_REGISTRY.pop("upper_value_test", None)


def test_router_views_carry_no_variant(spark):
    """split() adds the column for its predicates and drops it again,
    whether or not the frame arrived with one."""
    router = Router([Route("ok", "event.code == 200"), Route("all", None)])
    df = spark.createDataFrame([('{"code": 200}',), ("x",)], "value string")
    for src in (df, C.with_variant(df)):
        views = router.split(src)
        assert {n: v.columns for n, v in views.items()} == {
            "ok": ["value"],
            "all": ["value"],
        }
        assert {n: v.count() for n, v in views.items()} == {"ok": 1, "all": 2}


def test_with_variant_adds_one_generate_only_when_missing(spark):
    from tests.plan_inspect import executed_plan

    df = spark.createDataFrame([('{"a": 1}',)], "value string")
    once = C.with_variant(C.with_variant(df))
    plan = executed_plan(once)
    assert plan.count("parseJson") == 1 and "Generate" in plan
    assert once.columns == ["value", PARSED]


# ---------------------------------------------------------------------------
# Read equivalence: variant read vs get_json_object
# ---------------------------------------------------------------------------

EDGE = [
    '{"a": 1}',
    '{"a": -7}',
    '{"a": 1.50}',
    '{"a": 1e3}',
    '{"a": 1E+2}',
    '{"a": 0.1e-2}',
    '{"a": 12345678901234567890}',
    '{"a": true}',
    '{"a": false}',
    '{"a": null}',
    '{"b": 1}',
    '{"a": "plain"}',
    '{"a": "x\\"y\\u00e9\\n\\t"}',
    '{"a": "héllo ✓"}',
    '{"a": ""}',
    '{"a": "[abc"}',
    '{"a": [1, 2.5, "x", null, true]}',
    '{"a": [1e3, 1.50]}',
    '{"a": []}',
    '{"a": {}}',
    '  {"a": 3}  ',
    "[1, 2]",
    "5",
    '"str"',
    "not json",
    "",
    '{"a": 1',
    # the divergences below (READ_DIVERGENCES)
    '{"a": {"z": 1, "b": [1, {"y": 2, "c": 3}]}}',
    '{"a": 1, "a": 2}',
    "{'a': 1}",
    '{"a": 1.0}',
    '{"a": -0.0}',
    '{"a": 100000000000000000000000000000000000000000}',
    '{"a": 3.141592653589793238462643383279}',
]

#: line → (get_json_object text, variant text) where the reads differ
READ_DIVERGENCES = {
    # object text comes back with sorted keys
    '{"a": {"z": 1, "b": [1, {"y": 2, "c": 3}]}}': (
        '{"z":1,"b":[1,{"y":2,"c":3}]}',
        '{"b":[1,{"c":3,"y":2}],"z":1}',
    ),
    # duplicate keys do not parse (CelFilter already rejected the line)
    '{"a": 1, "a": 2}': ("1", None),
    # single-quoted pseudo-JSON does not parse
    "{'a': 1}": ("1", None),
    # decimal text is normalized (trailing zeros, sign of zero); a number
    # past 38 digits becomes a double, one past double precision keeps
    # its digits. The numeric reading (try_cast to double) is unchanged.
    '{"a": 1.0}': ("1.0", "1"),
    '{"a": -0.0}': ("-0.0", "0"),
    '{"a": 100000000000000000000000000000000000000000}': (
        "100000000000000000000000000000000000000000",
        "1.0E41",
    ),
    '{"a": 3.141592653589793238462643383279}': (
        "3.141592653589793",
        "3.141592653589793238462643383279",
    ),
}


def test_variant_read_matches_get_json_object(spark):
    df = C.with_variant(spark.createDataFrame([(ln,) for ln in EDGE], "value string"))
    var = C.ColumnCompiler(mode="json").json_text(("a",))
    gjo = F.get_json_object("value", "$.a")
    rows = df.select(
        "value",
        gjo.alias("gjo"),
        var.alias("var"),
        gjo.try_cast("double").alias("gjo_num"),
        var.try_cast("double").alias("var_num"),
    ).collect()
    assert len(rows) == len(EDGE)
    diverged = {r.value: (r.gjo, r.var) for r in rows if r.gjo != r.var}
    assert diverged == READ_DIVERGENCES
    # a numeric reading is the same wherever the line parses
    assert {r.value for r in rows if r.gjo_num != r.var_num} == {
        '{"a": 1, "a": 2}',
        "{'a': 1}",
    }


@pytest.mark.parametrize("key", ["a-b", "a b", "a.b", "a'b"])
def test_json_add_key_paths_read_like_get_json_object(spark, key):
    """The native json add reads a key through a bracket-quoted path; it
    returns what a ``get_json_object`` read returns, and a present null
    counts as present, as it does for ``json_object_keys``."""
    line = json.dumps({"a-b": 1, "a b": [2], "a.b": {"c": 3}, "a'b": "four", "n": None})
    df = C.with_variant(spark.createDataFrame([(line,)], "value string"))
    # a dotted key is not a path through get_json_object's dot syntax
    gjo_path = f"$['{key}']" if "." in key else f"$.{key}"
    parsed = F.col(PARSED)
    row = df.select(
        F.get_json_object("value", gjo_path).alias("gjo"),
        F.try_variant_get(parsed, _key_path(key), "string").alias("var"),
        F.try_variant_get(parsed, _key_path(key), "variant").isNotNull().alias("present"),
        F.try_variant_get(parsed, _key_path("n"), "variant").isNotNull().alias("null_present"),
        F.try_variant_get(parsed, _key_path("zz"), "variant").isNotNull().alias("absent"),
    ).first()
    assert row.var == row.gjo and row.var is not None
    assert (row.present, row.null_present, row.absent) == (True, True, False)


def test_native_add_rejects_unaddressable_key():
    with pytest.raises(ValueError, match="both quote kinds"):
        JsonMutator(add=[{"key": "a'\"b", "value": 1}], engine="native")


def test_native_add_repeated_key_reads_the_earlier_add(spark):
    """A key added twice reads the value the first add wrote (or left in
    place, for a nested one): overwritten, never appended twice."""
    lines = ['{"x": 1}', '{"k": null}', '{"k": {"a": 1}}', "{}"]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    out = JsonMutator(
        add=[{"key": "k", "value": "a"}, {"key": "k", "value": "b"}], engine="native"
    ).apply(df)
    assert sorted(r.value for r in out.collect()) == [
        '{"k": "b"}',
        '{"k": {"a": 1}}',
        '{"k":"b"}',
        '{"x": 1,"k":"b"}',
    ]


# ---------------------------------------------------------------------------
# Nothing variant reaches a sink
# ---------------------------------------------------------------------------

SINK_LINES = [
    '{"code": 200, "id": 1}',
    '{"code": 404, "id": 2}',
    '{"code": 500, "id": 3}',
    '{"code": 302, "id": 4}',
    '{"code": 200, "id": 5, "pipeline": "old"}',
    "not json",
    "[1, 2]",
    "",
]


def _fanout_config(out: str, quarantine: bool) -> PipelineConfig:
    return PipelineConfig(
        instance_id="fanout",
        processors=[
            {"kind": "cel", "rules": ["event.code == 200 || event.code >= 400"]},
            {"kind": "json", "add": [{"key": "pipeline", "value": "bench"}]},
        ],
        sinks=[
            SinkSpec("ok", "parquet", "event.code == 200", {"path": f"{out}/ok"}),
            SinkSpec("errors", "parquet", "event.code >= 400", {"path": f"{out}/errors"}),
            SinkSpec("archive", "file", None, {"path": f"{out}/archive"}),
        ],
        quarantine={"kind": "parquet", "path": f"{out}/quarantine"} if quarantine else None,
    )


@pytest.mark.parametrize("quarantine", [False, True], ids=["plain", "quarantine"])
def test_no_variant_reaches_a_sink(spark, tmp_path, quarantine):
    out = str(tmp_path)
    pipe = Pipeline(_fanout_config(out, quarantine), state_dir=f"{out}/state")
    df = spark.createDataFrame([(ln,) for ln in SINK_LINES], "value string")
    record = pipe.run_batch(df, batch_id=0)
    counts = {"ok": 2, "errors": 2, "archive": 4}
    if quarantine:
        counts["__quarantine__"] = 4
    assert record.per_sink_counts == counts
    assert record.per_stage_counts == {"stage_0_cel": 4, "stage_1_json": 4}
    mutated = {
        i: f'{{"code":{code},"id":{i},"pipeline":"bench"}}'
        for i, code in ((1, 200), (2, 404), (3, 500), (5, 200))
    }
    for name, ids in (("ok", [1, 5]), ("errors", [2, 3])):
        written = spark.read.parquet(f"{out}/{name}/batch_id=0")
        assert written.schema.simpleString() == "struct<value:string>"
        assert sorted(r.value for r in written.collect()) == [mutated[i] for i in ids]
    archive = sorted(
        ln
        for path in glob.glob(f"{out}/archive/batch_id=0/*")
        if not os.path.basename(path).startswith((".", "_"))
        for ln in open(path).read().splitlines()
    )
    assert archive == sorted(mutated.values())
    if quarantine:
        dead = spark.read.parquet(f"{out}/quarantine/batch_id=0")
        assert dead.schema.simpleString() == "struct<value:string,fail_stage:string>"
        assert sorted((r.value, r.fail_stage) for r in dead.collect()) == [
            ("", "stage_0_cel"),
            ("[1, 2]", "stage_0_cel"),
            ("not json", "stage_0_cel"),
            ('{"code": 302, "id": 4}', "stage_0_cel"),
        ]
