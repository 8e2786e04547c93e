"""In-process fake Kafka broker as a PySpark 4 Python Data Source.

Storage model: the "bootstrap servers" string is a local directory;
each topic is one JSONL file of messages ``{"key", "value", "headers":
[[k, v], ...]}`` whose line number IS the offset (single partition 0 —
enough to drive offset resume, @headers merge, and flush semantics
through the real KafkaSource/KafkaSink code paths, which only swap the
wire format name).

The reader exposes the Kafka connector's column layout (key/value
binary, topic, partition, offset, timestamp, headers
array<struct<key,value>>) and honours the connector's batch offset
options: ``startingOffsets`` and ``endingOffsets``, each ``earliest``,
``latest`` or a JSON ``{topic: {"<partition>": offset}}`` (-2 earliest,
-1 latest). Like the connector, it rejects a specific-offsets JSON that
omits one of the topic's partitions. The writer appends through task
commit messages (rows ride the commit message — fine for a test broker)
so a write lands atomically in commit() on the driver.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    WriterCommitMessage,
)

SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, headers array<struct<key:string,value:binary>>"
)

_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _topic_path(broker_dir: str, topic: str) -> str:
    return os.path.join(broker_dir, f"{topic}.jsonl")


def produce(broker_dir: str, topic: str, value: str, key: str | None = None,
            headers: list[tuple[str, str]] | None = None) -> None:
    """Test-side producer: append one message to the topic log."""
    os.makedirs(broker_dir, exist_ok=True)
    with open(_topic_path(broker_dir, topic), "a") as f:
        f.write(json.dumps({"key": key, "value": value,
                            "headers": headers or []}) + "\n")


def read_topic(broker_dir: str, topic: str) -> list[dict]:
    """Test-side consumer: the whole topic log as dicts."""
    path = _topic_path(broker_dir, topic)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _rows(broker_dir: str, topic: str, start: int, end: int):
    msgs = read_topic(broker_dir, topic)
    for off in range(start, min(end, len(msgs))):
        m = msgs[off]
        yield (
            m["key"].encode() if m.get("key") else None,
            (m.get("value") or "").encode(),
            topic,
            0,
            off,
            _TS,
            [(k, v.encode()) for k, v in (m.get("headers") or [])],
        )


def _offset(option: str, topic: str, latest: int) -> int:
    """One of the connector's offset options, resolved for partition 0."""
    if option in ("earliest", "latest"):
        return 0 if option == "earliest" else latest
    partitions = json.loads(option).get(topic, {})
    if "0" not in partitions:
        raise ValueError(
            "If startingOffsets/endingOffsets contains specific offsets, you must "
            f"specify all TopicPartitions. Specified: {option} Assigned: {topic}-0"
        )
    off = int(partitions["0"])
    return {-2: 0, -1: latest}.get(off, off)


class FakeKafkaBatchReader(DataSourceReader):
    def __init__(self, options):
        self.broker_dir = options["kafka.bootstrap.servers"]
        self.topic = options["subscribe"]
        latest = len(read_topic(self.broker_dir, self.topic))
        self.start = _offset(options.get("startingOffsets", "earliest"), self.topic, latest)
        self.end = _offset(options.get("endingOffsets", "latest"), self.topic, latest)

    def read(self, partition):
        yield from _rows(self.broker_dir, self.topic, self.start, self.end)


class _Rows(WriterCommitMessage):
    def __init__(self, rows):
        self.rows = rows


class FakeKafkaWriter(DataSourceWriter):
    def __init__(self, options):
        self.broker_dir = options["kafka.bootstrap.servers"]
        self.topic = options["topic"]

    def write(self, iterator):
        out = []
        for row in iterator:
            v = row["value"]
            out.append(v.decode() if isinstance(v, (bytes, bytearray)) else str(v))
        return _Rows(out)

    def commit(self, messages):
        for m in messages:
            for v in m.rows:
                produce(self.broker_dir, self.topic, v)

    def abort(self, messages):
        pass


class FakeKafkaDataSource(DataSource):
    @classmethod
    def name(cls):
        return "fake_kafka"

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return FakeKafkaBatchReader(self.options)

    def writer(self, schema, overwrite):
        return FakeKafkaWriter(self.options)
