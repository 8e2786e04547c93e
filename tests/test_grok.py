"""Grok %{PATTERN:field} extraction: config-time compilation, one-pass
Catalyst extraction, typed captures, drop/keep-unmatched, and the
pipeline processor (JSON line model)."""

import json

import pytest

from collector_spark.operators import grok as G


def test_compile_basic():
    regex, fields, types = G.compile_grok(
        "%{IP:client} %{WORD:method} %{INT:status}"
    )
    assert fields == ["client", "method", "status"]
    assert types == {"client": "string", "method": "string", "status": "bigint"}
    import re

    m = re.fullmatch(regex, "10.0.0.1 GET 200")
    assert m and m.group(1) == "10.0.0.1" and m.group(3) == "200"
    assert re.fullmatch(regex, "nope") is None


def test_compile_unnamed_and_literals():
    regex, fields, _ = G.compile_grok(r"%{SYSLOGPRI}%{GREEDYDATA:msg}")
    assert fields == ["msg"]
    import re

    assert re.fullmatch(regex, "<13>hello world").group(1) == "hello world"


def test_compile_rejections():
    with pytest.raises(G.GrokError):
        G.compile_grok("%{NOSUCH:x}")
    with pytest.raises(G.GrokError):
        G.compile_grok("%{WORD:a} %{INT:a}")  # duplicate field
    with pytest.raises(G.GrokError):
        G.compile_grok("%{WORD}")  # binds nothing
    with pytest.raises(G.GrokError):
        G.compile_grok(r"(?=x)%{WORD:a}")  # non-portable literal regex
    with pytest.raises(G.GrokError):
        G.compile_grok(r"(extra)%{WORD:a}")  # literal capturing group


def test_extra_patterns():
    regex, fields, _ = G.compile_grok(
        "%{SEV:sev}", extra_patterns={"SEV": r"P[1-4]"}
    )
    import re

    assert re.fullmatch(regex, "P2").group(1) == "P2"


LINES = [
    '203.0.113.9 - alice [2024-01-05T10:00:00] "GET /idx.html HTTP/1.1" 200 5120',
    '198.51.100.7 - bob [2024-01-05T10:00:01] "POST /api/v1 HTTP/1.1" 404 -",',
    "totally unparseable line",
]

ACCESS = (
    r'%{IP:client} - %{USER:user} \[%{TIMESTAMP_ISO8601:when}\] '
    r'"%{WORD:method} %{NOTSPACE:path} HTTP/1.1" %{INT:status} %{INT:bytes}'
)


def test_grok_extract_drop_unmatched(spark):
    df = spark.createDataFrame([(l,) for l in LINES], ["value"])
    out = G.grok_extract(df, ACCESS).collect()
    assert len(out) == 1  # line 2 has non-INT bytes, line 3 is garbage
    r = out[0]
    assert r.client == "203.0.113.9" and r.method == "GET"
    assert r.status == 200 and r.bytes == 5120  # typed bigint


def test_grok_extract_keep_unmatched_nulls(spark):
    df = spark.createDataFrame([(l,) for l in LINES], ["value"])
    out = G.grok_extract(df, ACCESS, drop_unmatched=False).collect()
    assert len(out) == 3
    assert sum(1 for r in out if r.client is None) == 2


def test_grok_single_field_match_flag(spark):
    df = spark.createDataFrame([("abc 1",), ("xyz",)], ["value"])
    out = G.grok_extract(df, "abc %{INT:n}").collect()
    assert [(r.n) for r in out] == [1]


def test_grok_field_collision_rejected(spark):
    df = spark.createDataFrame([("x",)], ["value"])
    with pytest.raises(G.GrokError):
        G.grok_extract(df, "%{WORD:value}")


def test_grok_processor_json_line_model(spark):
    from collector_spark.registry import make_processor

    proc = make_processor("grok", pattern="%{WORD:level}: %{GREEDYDATA:msg}")
    df = spark.createDataFrame(
        [("ERROR: disk full",), ("nope",), ("INFO: started",)], ["value"]
    )
    rows = [json.loads(r.value) for r in proc.apply(df).collect()]
    assert rows == [
        {"level": "ERROR", "msg": "disk full"},
        {"level": "INFO", "msg": "started"},
    ]


def test_grok_processor_config_validation():
    from collector_spark.registry import make_processor

    with pytest.raises(Exception):
        make_processor("grok")  # pattern required
    with pytest.raises(G.GrokError):
        make_processor("grok", pattern="%{NOSUCH:x}")  # config-time reject


def _quarantine_run(spark, tmp_path, pattern, lines):
    """One batch through a grok stage with a parquet quarantine sink:
    (kept values, {dead-letter value: fail_stage})."""
    from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec

    config = PipelineConfig(
        instance_id="grok_q",
        processors=[{"kind": "grok", "pattern": pattern}],
        sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / "out")})],
        quarantine={"kind": "parquet", "path": str(tmp_path / "q")},
    )
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    record = Pipeline(config).run_batch(df, batch_id=0)
    kept = [r.value for r in spark.read.parquet(str(tmp_path / "out" / "batch_id=0")).collect()]
    dead = spark.read.parquet(str(tmp_path / "q" / "batch_id=0")).collect()
    assert record.per_sink_counts == {"out": len(kept), "__quarantine__": len(dead)}
    return kept, {r.value: r.fail_stage for r in dead}


def test_grok_rejects_dead_letter(spark, tmp_path):
    """In quarantine mode the kept rows and the dead letters partition
    the input exactly — nothing is silently lost; a dead letter carries
    its original line and the grok stage's name."""
    kept, dead = _quarantine_run(spark, tmp_path, ACCESS, LINES)
    assert len(kept) + len(dead) == len(LINES)
    assert [json.loads(v)["user"] for v in kept] == ["alice"]
    assert dead == {LINES[1]: "stage_0_grok", LINES[2]: "stage_0_grok"}


def test_grok_marker_bearing_line_is_rejected_not_false_matched(spark, tmp_path):
    """A line containing raw \\x01 bytes must never false-match (the
    match test counts \\x01-delimited parts) — in quarantine mode it is a
    dead letter with its original value."""
    two_field = "%{WORD:a} %{WORD:b}"
    # crafted: unmatched by the pattern but contains exactly one \x01,
    # which would previously satisfy the 2-part count check
    evil = "no-space-here\x01tail!"
    ok = "hello world"
    df = spark.createDataFrame([(evil,), (ok,)], ["value"])

    out = G.grok_extract(df, two_field)
    assert [(r.a, r.b) for r in out.collect()] == [("hello", "world")]

    proc = G.GrokParser(two_field)
    assert proc.apply(df).count() == 1
    kept, dead = _quarantine_run(spark, tmp_path, two_field, [evil, ok])
    assert [json.loads(v) for v in kept] == [{"a": "hello", "b": "world"}]
    assert dead == {evil: "stage_0_grok"}

    # a MATCHED line whose capture carries \x01 would shift all later
    # fields — also a reject, not garbage output
    shifty = "a\x01b cd"  # matches %{NOTSPACE} %{WORD} shape
    df2 = spark.createDataFrame([(shifty,)], ["value"])
    out2 = G.grok_extract(df2, "%{NOTSPACE:x} %{WORD:y}")
    assert out2.count() == 0
    assert G.GrokParser("%{NOTSPACE:x} %{WORD:y}").apply(df2).count() == 0
