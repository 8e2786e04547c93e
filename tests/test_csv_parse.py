"""CSV/TSV delimited-record parser: typed extraction, quoting,
malformed-line drop, and the pipeline processor line model."""

import json

import pytest

from collector_spark.operators.csv_parse import CsvParser, csv_extract


def test_csv_extract_typed_and_drop_malformed(spark):
    rows = [
        ("1,click,2.5",),
        ('2,"has, comma",0.5',),   # quoted field with the separator
        ("not-a-number,x,y",),     # event_id fails the bigint -> dropped
        ("3,view",),               # short row -> dropped
    ]
    df = spark.createDataFrame(rows, ["value"])
    out = csv_extract(df, "event_id bigint, kind string, v double")
    got = {r.event_id: (r.kind, r.v) for r in out.collect()}
    assert got == {1: ("click", 2.5), 2: ("has, comma", 0.5)}


def test_csv_extract_keep_malformed_nulls(spark):
    df = spark.createDataFrame([("1,a,2.0",), ("zz",)], ["value"])
    out = csv_extract(
        df, "event_id bigint, kind string, v double", drop_malformed=False
    ).collect()
    assert len(out) == 2
    assert sum(1 for r in out if r.event_id is None) == 1


def test_csv_tsv_separator(spark):
    df = spark.createDataFrame([("7\tx",)], ["value"])
    out = csv_extract(df, "a bigint, b string", sep="\t").collect()
    assert out[0].a == 7 and out[0].b == "x"


def test_csv_processor_json_line_model(spark):
    from collector_spark.registry import make_processor

    proc = make_processor("csv", schema="n bigint, s string")
    df = spark.createDataFrame([("5,hello",), ("bad",)], ["value"])
    rows = [json.loads(r.value) for r in proc.apply(df).collect()]
    assert rows == [{"n": 5, "s": "hello"}]


def test_csv_processor_config_validation():
    from collector_spark.registry import make_processor

    with pytest.raises(Exception):
        make_processor("csv")  # schema required
    with pytest.raises(ValueError):
        make_processor("csv", schema="a array<int>, b string")  # flat only


def test_csv_rejects_dead_letter(spark, tmp_path):
    """In quarantine mode the kept rows and the dead letters partition
    the input exactly; a malformed line comes back as a dead letter with
    its original value and the csv stage's name."""
    from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec

    lines = ["1,a,2.0", "zz", "x,y,z"]
    config = PipelineConfig(
        instance_id="csv_q",
        processors=[{"kind": "csv", "schema": "event_id bigint, kind string, v double"}],
        sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / "out")})],
        quarantine={"kind": "parquet", "path": str(tmp_path / "q")},
    )
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    record = Pipeline(config).run_batch(df, batch_id=0)
    assert record.per_sink_counts == {"out": 1, "__quarantine__": 2}
    kept = spark.read.parquet(str(tmp_path / "out" / "batch_id=0")).collect()
    assert [json.loads(r.value) for r in kept] == [{"event_id": 1, "kind": "a", "v": 2.0}]
    dead = spark.read.parquet(str(tmp_path / "q" / "batch_id=0")).collect()
    assert {r.value: r.fail_stage for r in dead} == {
        "zz": "stage_0_csv",
        "x,y,z": "stage_0_csv",
    }


def test_csv_quoting_roundtrip_random(spark):
    """Rows rendered by Python's csv.writer (RFC-4180 quoting: embedded
    commas, double quotes, leading/trailing spaces) must parse back
    exactly through from_csv — one batched Spark job over 120 seeded
    random rows. Newlines are excluded: the pipeline's record model is
    one line per record (multiLine CSV is out of scope, like the
    reference's line reader)."""
    import csv as _csv
    import io
    import random

    rng = random.Random(42)
    alphabet = 'abc",\'; :x '
    rows = []
    for i in range(120):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        rows.append((i, s, rng.randint(-1000, 1000)))
    buf = io.StringIO()
    w = _csv.writer(buf, lineterminator="\n")
    for r in rows:
        w.writerow(r)
    lines = [(l,) for l in buf.getvalue().splitlines()]

    df = spark.createDataFrame(lines, ["value"])
    out = csv_extract(df, "i bigint, s string, n bigint")
    got = {r.i: (r.s, r.n) for r in out.collect()}
    # from_csv parses empty unquoted fields as NULL; csv.writer leaves
    # empty strings unquoted → map None back to "" for comparison
    assert len(got) == len(rows)
    for i, s, n in rows:
        gs, gn = got[i]
        assert (gs or "") == s, (i, s, gs)
        assert gn == n


def test_csv_schema_with_parenthesized_type(spark):
    """decimal(10,2) must parse as ONE field — the old comma-split
    yielded a bogus '2)' field that failed at analysis time."""
    df = spark.createDataFrame([("x,12.50",), ("y,0.25",)], ["value"])
    out = csv_extract(df, "name string, amount decimal(10,2)")
    assert out.columns[-2:] == ["name", "amount"]
    assert sorted(str(r.amount) for r in out.collect()) == ["0.25", "12.50"]


def test_csv_schema_field_validation(spark):
    import pytest

    df = spark.createDataFrame([("a,1",)], ["value"])
    with pytest.raises(ValueError, match="not 'name type'"):
        csv_extract(df, "name string, justaname")
    with pytest.raises(ValueError, match="duplicate"):
        csv_extract(df, "a string, a bigint")
    with pytest.raises(ValueError, match="unbalanced"):
        csv_extract(df, "a decimal(10, b string")
    # collision with an existing column (grok_extract parity)
    df2 = spark.createDataFrame([("a,1", "x")], ["value", "name"])
    with pytest.raises(ValueError, match="collide"):
        csv_extract(df2, "name string, n bigint")
