"""Native (Catalyst) fast paths must be byte-identical to the oracle and
to the pandas-UDF general paths."""

import json

from pyspark.sql import functions as F

from collector_spark import datagen, oracle
from collector_spark.operators.extract import HtmlExtractor
from collector_spark.operators.json_mutate import JsonMutator


def test_native_extract_text_equals_oracle_and_udf(spark):
    pages = datagen.gen_pages_df(spark, 200, partitions=4)
    native = HtmlExtractor(engine="native").apply(pages)
    assert native.filter(F.col("extracted_text") != F.col("text")).count() == 0
    udf = HtmlExtractor(engine="pandas").apply(pages)
    assert udf.filter(F.col("extracted_text") != F.col("text")).count() == 0


def test_native_log_lines_equals_oracle(spark):
    n = 100
    pages = datagen.gen_pages_df(spark, n, partitions=4)
    got = HtmlExtractor(engine="native").log_lines(pages).collect()
    by_url: dict[str, list[str]] = {}
    for r in got:
        by_url.setdefault(r.url, []).append(r.value)
    local = datagen.gen_pages_local(n)
    assert len(by_url) == n
    for row in local:
        assert by_url[row["url"]] == oracle.extract_log_lines(row["html"]), row["url"]


def test_native_json_add_equals_oracle(spark):
    lines = [
        '{"code":200,"status":"success","bytes":72930,"path":"/p/3/175"}',
        "{}",
        '{"pipeline":"old","x":1}',        # existing key → overwritten
        '{"s":"quoted \\"str\\""}',
        "not json",
        "[1,2,3]",                          # non-object dropped by native path
        '{"a":1}\t',                       # JSON whitespace after the brace
        '{"a":1}\n',
        '{"a":1}\r\n',
        '\t{"a":1}',
    ]
    add = [{"key": "pipeline", "value": "bench"}]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    native = [r.value for r in JsonMutator(add=add, engine="native").apply(df).collect()]
    expected = [
        oracle.json_mutate(l, add=add)
        for l in lines
        if l.strip().startswith("{") and oracle.json_mutate(l, add=add) is not None
    ]
    assert native == expected


def test_native_json_add_numeric_and_dollar_values(spark):
    df = spark.createDataFrame([('{"a":1}',), ('{"k":"x"}',)], ["value"])
    add = [{"key": "k", "value": "has $1 and \\ back"}]
    native = [r.value for r in JsonMutator(add=add, engine="native").apply(df).collect()]
    expected = [oracle.json_mutate(l, add=add) for l in ['{"a":1}', '{"k":"x"}']]
    assert native == expected


def test_native_json_add_surgery_runs_once_in_a_generate(spark):
    """Plain mode filters on the rewritten value: the surgery is a
    Generate output, so the pushed filter reads the column and never
    re-runs the string rewrite."""
    from tests.plan_inspect import executed_plan

    df = spark.createDataFrame([('{"a":1}',), ("[1]",)], "value string")
    out = JsonMutator(add=[{"key": "k", "value": "v"}], engine="native").apply(df)
    surgery = [l for l in executed_plan(out).splitlines() if "regexp_replace" in l]
    assert len(surgery) == 1 and "Generate" in surgery[0], surgery
    assert "Filter" not in surgery[0]
    assert surgery[0].count("regexp_replace(") == 1  # one per added key
    assert [r.value for r in out.collect()] == ['{"a":1,"k":"v"}']


def test_native_rejects_unsupported_actions():
    import pytest

    with pytest.raises(ValueError):
        JsonMutator(remove=[{"key": "x"}], engine="native")
    with pytest.raises(ValueError):
        JsonMutator(add=[{"key": "a.b", "value": "x"}], engine="native")
