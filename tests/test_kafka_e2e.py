"""Kafka end-to-end against the in-process fake broker (tests/
fake_kafka.py, a PySpark 4 Python Data Source): produce → Collector
tick → process → sink counts, @headers merge semantics vs a Go twin,
offset resume across reloads through the manifest, a crash between the
sink write and the commit, and KafkaSink flush semantics — all through
the REAL KafkaSource/KafkaSink/pipeline config code paths (only the
wire format name is swapped, sources.py KafkaSource.fmt)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from collector_spark.checkpoint import Manifest
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
    ('{"a":1}\n', [("h", "x")]),                            # JSON whitespace after the brace
    ('\t{"a":1}\r\n', [("h", "x")]),
    ('{"q":"she said \\"hi\\""}', [("quote", 'say "x"')]),   # escaping both sides
    ("plain text line", [("k", "v")]),                       # not JSON: unchanged
    ("5", [("k", "v")]),                                     # JSON scalar: unchanged
    ('["a","b"]', [("k", "v")]),                             # JSON array: unchanged
    ('{"f":1.5}', [("num", "3.14"), ("neg", "-7"), ("b", "true")]),  # typed headers
    ('{"a":1}', [("nil", None), ("k", "v")]),               # nil header value -> ""
]


def test_headers_merge_matches_go_twin(fake_kafka):
    """merge_kafka_headers (the Catalyst expression KafkaSource.read_new
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


def _instance(tmp_path, broker):
    """A ``.conf`` dir holding one Kafka instance: cel filter, parquet sink."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir(exist_ok=True)
    (conf_dir / "kstream.conf").write_text(json.dumps({
        "input": {"kind": "kafka", "brokers": broker, "topic": "logs",
                  "include_headers": True, "fmt": "fake_kafka",
                  "security_protocol": "PLAINTEXT"},
        "processors": [{"kind": "cel", "rules": ["event.code == 200"]}],
        "sinks": [{"name": "out", "kind": "parquet",
                   "config": {"path": str(tmp_path / "out")}}],
    }))
    return str(conf_dir)


def _collector(conf_dir, state_dir):
    """A daemon (re)start: the instances loaded from ``conf_dir``, their
    state resumed from the manifests under ``state_dir``."""
    from collector_spark.collector import Collector
    from collector_spark.pipeline import load_instances

    c = Collector(state_dir=state_dir)
    for iid, pipe in load_instances(conf_dir, state_dir=state_dir).items():
        c.start(iid, pipe.config)
    return c


def _out(spark, tmp_path, batch_id):
    path = str(tmp_path / "out" / f"batch_id={batch_id}")
    return [json.loads(r.value) for r in spark.read.parquet(path).collect()]


def _produce_ok(broker, ids):
    for i in ids:
        produce(broker, "logs", json.dumps({"code": 200, "i": i}),
                headers=[("part", str(i)), ("src", "edge")])


def test_kafka_pipeline_e2e_with_offset_resume(fake_kafka, tmp_path):
    """produce → Collector.tick (KafkaSource.read_new over the fake wire
    format) → config-path pipeline (cel filter + routed sinks) → parquet
    out; headers merged with types preserved; after more produces a
    reloaded collector resumes from the committed offsets (only new
    messages, as batch 1); a tick with nothing new reads no rows and
    keeps the offsets."""
    spark = fake_kafka
    broker = str(tmp_path / "broker")
    state = str(tmp_path / "state")
    _produce_ok(broker, range(5))
    produce(broker, "logs", json.dumps({"code": 500, "i": 99}))
    produce(broker, "logs", "not json at all")
    conf_dir = _instance(tmp_path, broker)

    c = _collector(conf_dir, state)
    record = c.tick(spark, "kstream")
    assert (record.batch_id, record.per_sink_counts) == (0, {"out": 5})
    rows = _out(spark, tmp_path, 0)
    # cel kept only code==200 (the 500 and the non-JSON line dropped —
    # non-JSON can't satisfy event.code)
    assert sorted(r["i"] for r in rows) == [0, 1, 2, 3, 4]
    # @headers merged INTO the object, values as JSON types (int stays int)
    for r in rows:
        assert r["@headers"] == {"part": r["i"], "src": "edge"}
    assert c.status("kstream").last_successful_result_count == 5

    # resume: two more produces, a reloaded collector over the same state
    _produce_ok(broker, [100, 101])
    c = _collector(conf_dir, state)
    assert c.tick(spark, "kstream").batch_id == 1
    batches = sorted(d for d in os.listdir(tmp_path / "out")
                     if d.startswith("batch_id="))
    assert batches == ["batch_id=0", "batch_id=1"]
    assert sorted(r["i"] for r in _out(spark, tmp_path, 1)) == [100, 101]  # ONLY the new offsets

    # nothing new: no rows, the committed offsets stay
    assert Manifest(state, "kstream").last_state() == {"logs": {"0": 9}}
    record = c.tick(spark, "kstream")
    assert (record.batch_id, record.per_sink_counts) == (2, {"out": 0})
    assert Manifest(state, "kstream").last_state() == {"logs": {"0": 9}}


def test_kafka_tick_crash_between_sink_write_and_commit(fake_kafka, tmp_path, monkeypatch):
    """Crash-matrix row: the sink wrote batch 1 but the commit failed.
    The next tick reuses batch id 1 from the committed offsets, re-reads
    the same messages (plus any produced since) and overwrites
    ``batch_id=1``, so the sink holds each message exactly once."""
    spark = fake_kafka
    broker = str(tmp_path / "broker")
    state = str(tmp_path / "state")
    conf_dir = _instance(tmp_path, broker)
    _produce_ok(broker, range(3))
    c = _collector(conf_dir, state)
    assert c.tick(spark, "kstream").per_sink_counts == {"out": 3}
    committed = Manifest(state, "kstream").last_state()

    _produce_ok(broker, range(3, 6))
    planned = []

    def crash_before_commit(self, record):
        planned.append(record.source_state)
        raise RuntimeError("crash before commit")

    with monkeypatch.context() as patch:
        patch.setattr(Manifest, "commit", crash_before_commit)
        with pytest.raises(RuntimeError, match="before commit"):
            c.tick(spark, "kstream", on_error="raise")
    assert sorted(r["i"] for r in _out(spark, tmp_path, 1)) == [3, 4, 5]  # the sink did write
    assert Manifest(state, "kstream").last_state() == committed

    c = _collector(conf_dir, state)
    record = c.tick(spark, "kstream")
    assert (record.batch_id, record.per_sink_counts) == (1, {"out": 3})
    assert planned == [{"logs": {"0": 6}}]  # the crashed tick's planned end
    assert Manifest(state, "kstream").last_state() == planned[0]
    everything = [r["i"] for b in (0, 1) for r in _out(spark, tmp_path, b)]
    assert sorted(everything) == list(range(6))


def test_kafka_read_new_runs_one_spark_job(fake_kafka, tmp_path):
    """The offsets probe is read_new's only job; the batch itself is
    read by the tick's writes, up to the probed offsets even when more
    messages arrive first."""
    from collector_spark.sources.sources import make_source

    spark = fake_kafka
    broker = str(tmp_path / "broker")
    _produce_ok(broker, range(4))
    source = make_source("kafka", brokers=broker, topic="logs", fmt="fake_kafka",
                         security_protocol="PLAINTEXT")
    sc = spark.sparkContext

    def read_new(state, group):
        sc.setJobGroup(group, group)
        try:
            out = source.read_new(spark, state)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, group
        return out

    df, state = read_new({}, "kafka-read-new")
    _produce_ok(broker, [4])  # lands after the range was planned
    assert (df.count(), state) == (4, {"logs": {"0": 4}})
    df, state = read_new({"logs": {"0": 5}}, "kafka-read-new-empty")
    assert (df.count(), state) == (0, {"logs": {"0": 5}})


def test_tick_all_over_a_kafka_instance_records_no_error(fake_kafka, tmp_path):
    spark = fake_kafka
    broker = str(tmp_path / "broker")
    _produce_ok(broker, range(2))
    c = _collector(_instance(tmp_path, broker), str(tmp_path / "state"))
    for _ in range(2):
        records = c.tick_all(spark)
        assert not records["kstream"].failed
    status = c.status("kstream")
    assert status.errors == [] and status.errors_since_successful_run == 0
    assert [r["i"] for r in _out(spark, tmp_path, 0)] == [0, 1]
    assert _out(spark, tmp_path, 1) == []


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
    """The fake broker's batch reader honours the connector's
    startingOffsets/endingOffsets (earliest, latest or a JSON of specific
    offsets) and, like the connector, rejects a JSON that leaves out one
    of the topic's partitions."""
    spark = fake_kafka
    broker = str(tmp_path / "broker")
    for i in range(4):
        produce(broker, "t", f"m{i}")

    def read(**offsets):
        df = (spark.read.format("fake_kafka")
              .option("kafka.bootstrap.servers", broker)
              .option("subscribe", "t").options(**offsets).load())
        return sorted((r.offset, bytes(r.value).decode()) for r in df.collect())

    assert read(startingOffsets='{"t": {"0": 2}}') == [(2, "m2"), (3, "m3")]
    assert read(endingOffsets='{"t": {"0": 1}}') == [(0, "m0")]
    assert read(startingOffsets='{"t": {"0": 1}}', endingOffsets='{"t": {"0": 3}}') == [(1, "m1"), (2, "m2")]
    assert read(startingOffsets='{"t": {"0": -2}}', endingOffsets='{"t": {"0": -1}}') == [
        (i, f"m{i}") for i in range(4)
    ]
    assert read(startingOffsets="latest") == []
    with pytest.raises(Exception, match="specify all TopicPartitions"):
        read(startingOffsets='{"t": {"1": 0}}')
