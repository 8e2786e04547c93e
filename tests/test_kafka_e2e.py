"""Kafka end-to-end against the in-process fake broker (tests/
fake_kafka.py, a PySpark 4 Python Data Source): produce → consume →
process → sink counts, @headers merge semantics vs a Go twin, offset
resume across restarts, and KafkaSink flush semantics — all through
the REAL KafkaSource/KafkaSink/pipeline config code paths (only the
wire format name is swapped, sources.py KafkaSource.fmt)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.fake_kafka import FakeKafkaDataSource, produce, read_topic


@pytest.fixture(scope="module")
def fake_kafka(spark):
    spark.dataSource.register(FakeKafkaDataSource)
    return spark


def _go_merge_twin(value: str, headers):
    """Python twin of the reference's addHeadersToJsonMessages
    (kafka.go:182-214): object payloads get @headers with JSON-decoded
    header values; everything else passes through unchanged."""
    try:
        obj = json.loads(value)
    except Exception:
        return value
    if not isinstance(obj, dict):
        return value
    hs = {}
    for k, v in headers or []:
        if v is None:
            hs[k] = ""  # Unmarshal(nil) fails → string(nil) == ""
            continue
        try:
            hs[k] = json.loads(v)
        except Exception:
            hs[k] = v
    obj["@headers"] = hs
    return json.dumps(obj)


MERGE_CASES = [
    # (payload, headers)
    ('{"code":200,"msg":"hi"}', [("trace", "abc"), ("n", "42")]),
    ('{"a":{"nested":true}}', [("meta", '{"x":1}')]),       # header value is JSON object
    ("{}", [("k", "v")]),                                    # empty object payload
    ('{"a":1}', []),                                         # no headers -> empty @headers
    ('  {"pad":1}  ', [("k", "v")]),                         # whitespace-padded object
    ('{"q":"she said \\"hi\\""}', [("quote", 'say "x"')]),   # escaping both sides
    ("plain text line", [("k", "v")]),                       # not JSON: unchanged
    ("5", [("k", "v")]),                                     # JSON scalar: unchanged
    ('["a","b"]', [("k", "v")]),                             # JSON array: unchanged
    ('{"f":1.5}', [("num", "3.14"), ("neg", "-7"), ("b", "true")]),  # typed headers
    ('{"a":1}', [("nil", None), ("k", "v")]),               # nil header value -> ""
]


def test_headers_merge_matches_go_twin(fake_kafka):
    """merge_kafka_headers (the Catalyst expression KafkaSource.stream
    uses) must agree with the Go reference twin on parsed JSON for
    every case — typed header values, escaping, non-object passthrough."""
    from collector_spark.sources.sources import merge_kafka_headers

    spark = fake_kafka
    rows = [
        (v, [(k, None if hv is None else hv.encode()) for k, hv in hs])
        for v, hs in MERGE_CASES
    ]
    df = spark.createDataFrame(
        rows, "value string, headers array<struct<key:string,value:binary>>"
    )
    got = [
        r.m for r in df.select(
            merge_kafka_headers(F.col("value"), F.col("headers")).alias("m")
        ).collect()
    ]
    for (v, hs), g in zip(MERGE_CASES, got):
        expected = _go_merge_twin(v, hs)
        try:
            assert json.loads(g) == json.loads(expected), (v, hs, g)
        except json.JSONDecodeError:
            assert g == expected, (v, hs, g)  # non-JSON passthrough: byte-equal


def test_kafka_pipeline_e2e_with_offset_resume(fake_kafka, tmp_path):
    """produce → KafkaSource.stream (fake wire format) → config-path
    pipeline (cel filter + routed sinks) → parquet out; headers merged
    with types preserved; restart after more produces resumes from the
    checkpointed offset (only new messages, as batch 1)."""
    from collector_spark.pipeline import load_instances
    from collector_spark.streaming import StreamingPipeline

    spark = fake_kafka
    broker = str(tmp_path / "broker")
    for i in range(5):
        produce(broker, "logs", json.dumps({"code": 200, "i": i}),
                headers=[("part", str(i)), ("src", "edge")])
    produce(broker, "logs", json.dumps({"code": 500, "i": 99}))
    produce(broker, "logs", "not json at all")

    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "kstream.conf").write_text(json.dumps({
        "input": {"kind": "kafka", "brokers": broker, "topic": "logs",
                  "include_headers": True, "fmt": "fake_kafka",
                  "security_protocol": "PLAINTEXT"},
        "processors": [{"kind": "cel", "rules": ["event.code == 200"]}],
        "sinks": [{"name": "out", "kind": "parquet",
                   "config": {"path": str(tmp_path / "out")}}],
    }))
    pipe = load_instances(str(conf_dir), state_dir=str(tmp_path / "state"))["kstream"]
    sp = StreamingPipeline(pipe, checkpoint_dir=str(tmp_path / "ckpt"))

    q = sp.start(pipe.source.stream(spark), trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(str(tmp_path / "out" / "batch_id=0"))
    rows = [json.loads(r.value) for r in out.collect()]
    # cel kept only code==200 (the 500 and the non-JSON line dropped —
    # non-JSON can't satisfy event.code)
    assert sorted(r["i"] for r in rows) == [0, 1, 2, 3, 4]
    # @headers merged INTO the object, values as JSON types (int stays int)
    for r in rows:
        assert r["@headers"] == {"part": r["i"], "src": "edge"}

    # resume: two more produces, restart with the same checkpoint
    produce(broker, "logs", json.dumps({"code": 200, "i": 100}),
            headers=[("part", "100"), ("src", "edge")])
    produce(broker, "logs", json.dumps({"code": 200, "i": 101}),
            headers=[("part", "101"), ("src", "edge")])
    q2 = sp.start(pipe.source.stream(spark), trigger_seconds=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    batches = sorted(d for d in os.listdir(tmp_path / "out")
                     if d.startswith("batch_id="))
    assert batches == ["batch_id=0", "batch_id=1"]
    b1 = [json.loads(r.value)
          for r in spark.read.parquet(str(tmp_path / "out" / "batch_id=1")).collect()]
    assert sorted(r["i"] for r in b1) == [100, 101]  # ONLY the new offsets


def test_kafka_sink_flush_semantics(fake_kafka, tmp_path):
    """KafkaSink through the fake wire format: non-empty values flushed
    to the topic (kafka.go:86-90 skips empty lines), counts from the
    write-side Observation, rows readable back from the broker."""
    from collector_spark.sinks.sinks import KafkaSink

    spark = fake_kafka
    broker = str(tmp_path / "broker")
    df = spark.createDataFrame(
        [("alpha",), ("",), ("beta",), ("  ",)], ["value"]
    )
    sink = KafkaSink(brokers=broker, topic="outbound", fmt="fake_kafka",
                     security_protocol="PLAINTEXT")
    assert sink.write(df, batch_id=0) == 2
    assert sink.last_metrics == {"written": 2, "empty": 2}
    assert sorted(m["value"] for m in read_topic(broker, "outbound")) == [
        "alpha", "beta"
    ]


def test_kafka_batch_reader_starting_offset(fake_kafka, tmp_path):
    """The fake broker's batch reader honors startingOffset — the seam a
    tick-mode consumer would use for manifest-tracked offsets."""
    spark = fake_kafka
    broker = str(tmp_path / "broker")
    for i in range(4):
        produce(broker, "t", f"m{i}")
    df = (spark.read.format("fake_kafka")
          .option("kafka.bootstrap.servers", broker)
          .option("subscribe", "t")
          .option("startingOffset", 2).load())
    got = sorted((r.offset, bytes(r.value).decode()) for r in df.collect())
    assert got == [(2, "m2"), (3, "m3")]
