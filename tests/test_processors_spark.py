"""Spark-side processor parity vs the pure-Python oracle: kv/cef/syslog/
json-mutate pandas UDF & native-expression operators, plus the HTML
extract stage (byte-identical extracted text per url)."""

import json

import pytest
from pyspark.sql import functions as F

from collector_spark import datagen, oracle
from collector_spark.operators.extract import HtmlExtractor
from collector_spark.operators.json_mutate import JsonMutator
from collector_spark.operators.kv import KvParser
from collector_spark.operators.syslog import SyslogParser
from tests.test_oracle_fixtures import (
    CEF1,
    CEF2,
    CEF3,
    CEF4,
    CEF5,
    KV1,
    KV2,
    KV3,
    SYSLOG1,
    SYSLOG2,
    SYSLOG3,
)


def test_kv_parser_spark(spark):
    df = spark.createDataFrame([(KV1,), (KV2,), (KV3,), ("",)], ["value"])
    out = KvParser(type="raw").apply(df).select("value", "parsed").collect()
    assert len(out) == 1
    assert out[0].parsed == oracle.parse_kv(KV1)


def test_kv_native_engine_matches_oracle(spark):
    """The kv UDF plumbing (strip, NULL and blank-line handling) must
    agree with oracle.parse_kv on every line: same surviving rows, same
    maps (incl. first-'=' split, empty-value stripping, trailing-kv
    removal, last-dup-wins)."""
    lines = [
        KV1,
        KV2,
        KV3,
        "",
        "   ",
        "k=a=b c=d",             # value contains '=' → split at FIRST '='
        "a=1 a=2",               # duplicate key → last wins
        "k==v",                  # value starts with '=' → ParseError → drop
        "noequals",              # malformed token → drop
        "lead text k=v",         # leading non-kv → drop
        "empty= k=v",            # empty-valued key stripped
        "tail k=",               # trailing empty kv stripped... with space
        "a=b  c=d",              # multiple spaces between tokens
        "  a=b c= ",             # leading/trailing space + empty-valued kv
        "a=b tail=",             # trailing 'key=' at end of line stripped
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = {r.value: dict(r.parsed) for r in KvParser(type="raw").apply(df).collect()}
    expected = {}
    for l in lines:
        s = l.strip()
        if not s:
            continue
        try:
            expected[l] = oracle.parse_kv(s)
        except oracle.ParseError:
            pass
    assert got == expected, (got, expected)


def test_kv_native_engine_fuzz(spark):
    """200 seeded random kv-ish lines: the Spark and oracle paths must
    agree on which lines survive AND on every parsed map."""
    import random

    rng = random.Random(42)
    alphabet = "ab1=_ ."

    def rand_line():
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))

    lines = [rand_line() for _ in range(200)]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = {r.value: dict(r.parsed) for r in KvParser(type="raw").apply(df).collect()}
    expected = {}
    for l in lines:
        s = l.strip()
        if not s:
            continue
        try:
            expected[l] = oracle.parse_kv(s)
        except oracle.ParseError:
            pass
    assert got == expected


def _cef_expected(lines):
    out = {}
    for l in lines:
        s = l.strip()
        if not s:
            continue
        try:
            out[l] = oracle.parse_cef(s)
        except oracle.ParseError:
            pass
    return out


def _cef_rows(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    rows = KvParser(type="cef").apply(df).collect()
    return {
        r.value: {
            "version": r.parsed.version,
            "device_vendor": r.parsed.device_vendor,
            "device_product": r.parsed.device_product,
            "device_version": r.parsed.device_version,
            "device_event_class_id": r.parsed.device_event_class_id,
            "name": r.parsed.name,
            "severity": r.parsed.severity,
            "extensions": dict(r.parsed.extensions),
        }
        for r in rows
    }


def test_cef_native_engine_matches_oracle(spark):
    """Spark CEF path vs oracle on the reference fixture vectors +
    escape/placeholder edge cases (cef_test.go:5-156 semantics)."""
    lines = [
        CEF1,
        CEF2,
        CEF3,
        CEF4,
        CEF5,
        "",
        "0|v|p|1.0|id|nm|5|k=v other=x",         # headerless int version
        "CEF:0|a\\|b|p|1|i|n|3|",                 # escaped pipe in header (split quirk)
        "CEF:0|v|p|1|i|n|5|msg=hello world foo=1",  # non-kv spaces in value
        "CEF:0|v|p|1|i|n|5|eq=a\\=b tail=x",      # escaped '=' preserved
        "CEF:0|v|p|1|i|n|5|url=http://x/y a=b",   # colon placeholder path
        "notcef|only|three",                        # <7 fields → drop
        "X:0|v|p|1|i|n|5|a=b",                     # bad prefix → drop
    ]
    assert _cef_rows(spark, lines) == _cef_expected(lines)


def test_cef_native_engine_fuzz(spark):
    import random

    rng = random.Random(7)
    alphabet = "ab=|\\: 1.n"

    def rand_line():
        core = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
        return rng.choice(["CEF:0|", "1|", ""]) + core

    lines = list({rand_line() for _ in range(250)})
    assert _cef_rows(spark, lines) == _cef_expected(lines)


def test_cef_parser_spark(spark):
    lines = [CEF1, CEF2, CEF3, CEF4, CEF5]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    rows = KvParser(type="cef").apply(df).collect()
    parsed = {r.value: r.parsed.asDict(recursive=True) for r in rows}
    assert CEF4 not in parsed  # invalid dropped
    for line in (CEF1, CEF2, CEF3, CEF5):
        assert parsed[line] == oracle.parse_cef(line), line


def test_cef_as_json_matches_oracle(spark):
    df = spark.createDataFrame([(CEF3,)], ["value"])
    out = KvParser(type="cef", as_json=True).apply(df).collect()
    assert out[0].value == oracle.parse_cef_json(CEF3)


def test_syslog_spark_all_modes(spark):
    lines = [SYSLOG1, SYSLOG2, SYSLOG3]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    raw = [r.value for r in SyslogParser("raw").apply(df).collect()]
    assert raw == [oracle.syslog_raw(l) for l in lines]

    r3164 = {r.value for r in SyslogParser("rfc3164").apply(df).collect()}
    assert r3164 == {oracle.syslog_rfc3164(SYSLOG1), oracle.syslog_rfc3164(SYSLOG2)}

    r5424 = [r.value for r in SyslogParser("rfc5424").apply(df).collect()]
    assert r5424 == [oracle.syslog_rfc5424(SYSLOG3)]


def test_json_mutator_spark_matches_oracle(spark):
    lines = [
        '{"code": 200, "status": "success", "data": {"message": "hello"}}',
        '{"code": 500}',
        "not json",
        '{"a": {"b": 1}}',
    ]
    actions = dict(
        add=[{"key": "env", "value": "prod"}],
        remove=[{"key": "data.message"}],
        replace=[{"key": "code", "value": 500, "new_value": 599}],
    )
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = [r.value for r in JsonMutator(**actions).apply(df).collect()]
    expected = [v for v in (oracle.json_mutate(l, **actions) for l in lines) if v is not None]
    assert got == expected


def test_json_mutator_columns_mode(spark):
    df = spark.createDataFrame([(200, "x"), (500, "y")], ["code", "tag"])
    out = JsonMutator(
        add=[{"key": "env", "value": "prod"}],
        replace=[{"key": "code", "value": 500, "new_value": 599}],
        mode="columns",
    ).apply(df)
    rows = {r.tag: (r.code, r.env) for r in out.collect()}
    assert rows == {"x": (200, "prod"), "y": (599, "prod")}


def test_datagen_deterministic_and_distributed_equal(spark):
    n = 64
    local = datagen.gen_pages_local(n)
    dist = datagen.gen_pages_df(spark, n, partitions=8).collect()
    assert len(dist) == n
    by_url = {r.url: r for r in dist}
    for row in local:
        got = by_url[row["url"]]
        assert bytes(got.html) == row["html"]
        assert got.text == row["text"]
        assert got.lang == row["lang"]


def test_extract_text_byte_identical(spark):
    n = 128
    pages = datagen.gen_pages_df(spark, n, partitions=4)
    out = HtmlExtractor().apply(pages).select("url", "text", "extracted_text").collect()
    assert len(out) == n
    for r in out:
        assert r.extracted_text == r.text, r.url


def test_extract_log_lines_parseable(spark):
    pages = datagen.gen_pages_df(spark, 32, partitions=2)
    lines = HtmlExtractor().log_lines(pages)
    assert lines.count() == 32 * 3
    # the embedded KV lines parse
    kv_rows = KvParser(type="raw").apply(lines.filter(F.col("value").startswith("dvc="))).collect()
    assert len(kv_rows) == 32
    for r in kv_rows:
        assert set(r.parsed) == {"dvc", "rt", "cat"}
    # the embedded syslog-wrapped CEF lines parse end-to-end
    cef_lines = SyslogParser("raw").apply(lines.filter(F.col("value").startswith("<134>")))
    cef_lines = cef_lines.withColumn(
        "value", F.regexp_replace("value", r"^Apr 13 [0-9:]+ \S+ ", "")
    )
    cef = KvParser(type="cef").apply(cef_lines).collect()
    assert len(cef) == 32
    for r in cef:
        assert r.parsed.device_vendor == "synthetic"
        assert "requestCode" in r.parsed.extensions
    # the embedded JSON lines round-trip
    json_lines = [r.value for r in lines.filter(F.col("value").startswith("{")).collect()]
    assert len(json_lines) == 32
    for l in json_lines:
        assert set(json.loads(l)) == {"code", "status", "bytes", "path"}


def test_syslog_rfc5424_nil_sd_keeps_bracket_leading_msg(spark):
    """STRUCTURED-DATA is '-' XOR adjacent [..] elements: after a NIL
    SD, a '[...]'-leading MSG must survive intact (the old regex
    swallowed it as fake SD); adjacent SD elements also parse."""
    lines = [
        "<34>1 2003-10-11T22:14:15.003Z host app 123 ID47 - [warn] disk full",
        '<34>1 T H A P M [id a="1"][id2 b="2"] hello world',
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = [r.value for r in SyslogParser("rfc5424").apply(df).collect()]
    assert got == [oracle.syslog_rfc5424(l) for l in lines]
    assert got == ["[warn] disk full", "hello world"]


PRIS = ["0", "00", "013", "13", "099", "189", "191", "192", "200", "999", "0191", "1234"]


def test_syslog_rfc_pri_range_matches_oracle(spark):
    """The RFC modes take a PRI of 1-3 digits worth at most 191, zero
    padding allowed (``<013>``), exactly as the oracle does."""
    bodies = {
        "rfc3164": ("Jan  1 00:00:00 host hello", oracle.syslog_rfc3164),
        "rfc5424": ("1 2003-10-11T22:14:15.003Z host app 123 ID47 - hello", oracle.syslog_rfc5424),
    }
    for mode, (body, parse) in bodies.items():
        lines = [f"<{pri}>{body}" for pri in PRIS]
        df = spark.createDataFrame(list(enumerate(lines)), "id long, value string")
        got = {r.id: r.value for r in SyslogParser(mode).apply(df).collect()}
        want = {}
        for i, line in enumerate(lines):
            try:
                want[i] = parse(line)
            except oracle.ParseError:
                pass
        assert got == want, mode
        assert sorted(PRIS[i] for i in got) == ["0", "00", "013", "099", "13", "189", "191"]


def test_syslog_raw_strips_any_all_digit_pri(spark):
    lines = [f"<{pri}>x" for pri in PRIS] + ["<>x", "<1a>x", "<12345678901234567890>x"]
    df = spark.createDataFrame(list(enumerate(lines)), "id long, value string")
    got = {r.id: r.value for r in SyslogParser("raw").apply(df).collect()}
    assert got == {i: oracle.syslog_raw(l) for i, l in enumerate(lines)}
    assert got[PRIS.index("1234")] == "x"


def test_syslog_pri_over_191_is_dropped_or_quarantined(spark):
    from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec

    bad, good = "<999>Jan  1 00:00:00 host hello", "<13>Jan  1 00:00:00 host hi"
    df = spark.createDataFrame([(bad,), (good,)], ["value"])
    assert [r.value for r in SyslogParser("rfc3164").apply(df).collect()] == ["hi"]
    pipe = Pipeline(
        PipelineConfig(
            instance_id="pri",
            processors=[{"kind": "syslog", "type": "rfc3164"}],
            sinks=[SinkSpec("kept", "parquet", None, {"path": "/nonexistent/kept"})],
            quarantine={"kind": "parquet", "path": "/nonexistent/q"},
        )
    )
    views = pipe.views(pipe.transform_tagged(df))
    kept, quarantined = views["kept"], views["__quarantine__"]
    assert [r.value for r in kept.collect()] == ["hi"]
    assert [(r.value, r.fail_stage) for r in quarantined.collect()] == [(bad, "stage_0_syslog")]


def test_syslog_rfc_modes_take_ascii_digits_only(spark):
    """Digits are ASCII ``[0-9]``, as Go's ``\\d`` is: a PRI, a day or a
    version holding an Arabic-Indic digit (U+0661 is 1) makes no RFC
    line, so both modes drop it and the oracle rejects it."""
    from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec

    one = "\u0661"
    header = "1 2003-10-11T22:14:15.003Z host app 123 ID47 - "
    cases = {
        "rfc3164": (
            [f"<{one}3>Jan  1 00:00:00 host hello", f"<13>Jan  {one} 00:00:00 host hello"],
            "<13>Jan  1 00:00:00 host hi",
            oracle.syslog_rfc3164,
        ),
        "rfc5424": ([f"<{one}3>{header}hello", f"<13>1{one}{header[1:]}hello"], f"<13>{header}hi", oracle.syslog_rfc5424),
    }
    for mode, (bad, good, parse) in cases.items():
        for line in bad:
            with pytest.raises(oracle.ParseError):
                parse(line)
        df = spark.createDataFrame([(l,) for l in [*bad, good]], ["value"])
        assert [r.value for r in SyslogParser(mode).apply(df).collect()] == ["hi"], mode
        pipe = Pipeline(
            PipelineConfig(
                instance_id=f"ascii_{mode}",
                processors=[{"kind": "syslog", "type": mode}],
                sinks=[SinkSpec("kept", "parquet", None, {"path": "/nonexistent/kept"})],
                quarantine={"kind": "parquet", "path": "/nonexistent/q"},
            )
        )
        views = pipe.views(pipe.transform_tagged(df))
        kept, quarantined = views["kept"], views["__quarantine__"]
        assert [r.value for r in kept.collect()] == ["hi"], mode
        dead = sorted((r.value, r.fail_stage) for r in quarantined.collect())
        assert dead == sorted((l, "stage_0_syslog") for l in bad), mode


def test_syslog_drops_a_line_whose_msg_is_empty(spark):
    """A line whose MSG comes out empty or blank is dropped, as the
    reference's temp writer drops a line that is empty once trimmed
    (tmp_writer.go:54-56): ``apply`` drops it, and quarantine mode
    dead-letters it at the syslog stage, so both modes keep the same
    rows."""
    from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec

    header = "<34>1 2003-10-11T22:14:15.003Z host app 123 ID47 - "
    cases = {"raw": (["<13>", "<13>   "], "<13>hello"), "rfc5424": ([header], header + "hello")}
    for mode, (empty, line) in cases.items():
        df = spark.createDataFrame([(l,) for l in [*empty, line]], ["value"])
        assert [r.value for r in SyslogParser(mode).apply(df).collect()] == ["hello"]

        pipe = Pipeline(
            PipelineConfig(
                instance_id=f"syslog_{mode}",
                processors=[{"kind": "syslog", "type": mode}],
                sinks=[SinkSpec("kept", "parquet", None, {"path": "/nonexistent/kept"})],
                quarantine={"kind": "parquet", "path": "/nonexistent/q"},
            )
        )
        views = pipe.views(pipe.transform_tagged(df))
        kept, quarantined = views["kept"], views["__quarantine__"]
        assert [r.value for r in kept.collect()] == ["hello"]
        dead = sorted((r.value, r.fail_stage) for r in quarantined.collect())
        assert dead == sorted((l, "stage_0_syslog") for l in empty)


def test_cef_version_is_first_colon_segment_both_engines(spark):
    """cef.go:52-61 takes only the segment between the 1st and 2nd
    colon; non-Atoi bare versions are dropped."""
    line = "CEF:0:junk|v|p|1.0|id|name|5|src=1.2.3.4"
    df = spark.createDataFrame([(line,), ("1_2|v|p|1.0|id|name|5|src=a",)], ["value"])
    out = KvParser(type="cef").apply(df).collect()
    assert len(out) == 1  # the 1_2 version line is dropped
    assert out[0].parsed.version == "0"


def test_json_native_add_is_safe_on_nested_and_null_values(spark):
    """Native add: {'k':null} overwrites (no duplicate key); nested
    values / nested same-named keys are left UNCHANGED (documented
    fast-path limitation) instead of silently corrupted."""
    from collector_spark.operators.json_mutate import JsonMutator

    rows = [
        ('{"k":null}',),
        ('{"k":2}',),
        ('{"k":{"a":1}}',),
        ('{"meta":{"k":1},"k":2}',),
        ('{"x":1}',),
    ]
    df = spark.createDataFrame(rows, ["value"])
    out = [
        r.value
        for r in JsonMutator(add=[{"key": "k", "value": "v"}], engine="native")
        .apply(df)
        .collect()
    ]
    assert out == [
        '{"k":"v"}',
        '{"k":"v"}',
        '{"k":{"a":1}}',
        '{"meta":{"k":1},"k":2}',
        '{"x":1,"k":"v"}',
    ]


def test_extract_pandas_udf_handles_null_html(spark):
    from collector_spark.operators.extract import extract_text_udf

    df = spark.createDataFrame(
        [(1, b"<p>hello</p>"), (2, None)], "id long, html binary"
    )
    got = {r.id: r.t for r in df.select("id", extract_text_udf("html").alias("t")).collect()}
    assert got == {1: "hello", 2: None}


def test_router_rejects_sql_breaking_route_names(spark):
    from collector_spark.operators.router import Route, Router

    with pytest.raises(ValueError, match="route names"):
        Router([Route("my-route", None)])
    with pytest.raises(ValueError, match="route names"):
        Router([Route("o'brien", None)])
