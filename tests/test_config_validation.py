"""Declarative per-kind config validation at bind time, mirroring the
reference's struct-tag validation (pkg/core/validation.go:10-31 and the
13 per-plugin config test suites). Table-driven: one good and one or
more bad configs for EVERY registered built-in kind. No Spark session
needed — binding is pure config work."""

import pytest

from collector_spark.registry import (
    PROCESSOR_REGISTRY,
    SINK_REGISTRY,
    SOURCE_REGISTRY,
    make_processor,
    register_processor,
)
from collector_spark.sinks.sinks import make_sink
from collector_spark.sources.sources import make_source
from collector_spark.validation import register_schema, spec

_noop = lambda *a, **k: []  # noqa: E731 — injected seam stand-in

GOOD = {
    "processor": {
        "cel": {"rules": ["event.code == 200"]},
        "json": {"add": [{"key": "a", "value": "1"}], "engine": "pandas"},
        "syslog": {"type": "rfc5424"},
        "kv": {"type": "cef"},
    },
    "source": {
        "file": {"path": "/tmp/x/*.log", "delete": False},
        "incremental": {"table_path": "/tmp/t", "ts_col": "ts"},
        "kafka": {"brokers": "b:9092", "topic": "t", "include_headers": True},
        "http_poller": {"fetcher": _noop, "page_size": 10},
        "msgraph": {"fetcher": _noop},
        "queue": {"receiver": _noop, "max_messages": 5},
        "sqs": {"receiver": _noop},
        "pubsub": {"receiver": _noop, "acker": _noop},
    },
    "sink": {
        "parquet": {"path": "/tmp/out", "partition_by": ["d"]},
        "file": {"path": "/tmp/out", "gzip": True},
        "stdout": {"num_rows": 5},
        "kafka": {"brokers": "b:9092", "topic": "t"},
        "s3": {"bucket": "bkt", "path": "k/%year%", "gzip": True},
        "gcs": {"bucket": "bkt", "path": "k", "composite": True},
        "http": {"url": "http://x", "max_size_kb": 64, "as_multi_part": True},
        "log_analytics": {
            "workspace_id": "w",
            "primary_key": "cGs=",
            "log_type": "L",
        },
        "pubsub": {"project_id": "p", "topic_id": "t", "publisher": _noop},
    },
}

BAD = {
    "processor": {
        "cel": [
            {},  # rules required
            {"rules": ["true"], "action": "keep"},  # bad choice
            {"rules": ["true"], "rule": ["typo"]},  # unknown field
        ],
        "json": [{"engine": "rust"}, {"add": "not-a-list"}],
        "syslog": [{"type": "rfc9999"}],
        "kv": [{"type": "xml"}, {"as_json": "yes"}, {"type": "cef", "engine": "native"}],
    },
    "source": {
        "file": [{}, {"path": "/x", "delete": "no"}],
        "incremental": [{}],
        "kafka": [{"topic": "t"}, {"brokers": "b", "topic": "t", "topc": "x"}],
        "http_poller": [{}, {"fetcher": _noop, "page_size": 0}],
        "queue": [{}, {"receiver": _noop, "max_polls": 0}],
    },
    "sink": {
        "parquet": [{}, {"path": "/x", "partition_by": "d"}],
        "file": [{}, {"path": "/x", "gz": True}],
        "stdout": [{"num_rows": 0}],
        "kafka": [{"brokers": "b"}],
        "s3": [{"path": "k"}, {"bucket": "b", "path": "k", "region": "us"}],
        "gcs": [{"bucket": "b"}, {"bucket": "b", "path": "k", "composite": 1}],
        "http": [{}, {"url": "http://x", "max_size_kb": 0}],
        "log_analytics": [{"workspace_id": "w"}],
        "pubsub": [{"project_id": "p"}],
    },
}

_MAKERS = {"processor": make_processor, "source": make_source, "sink": make_sink}


def _cases(table):
    for domain, kinds in table.items():
        for kind, cfgs in kinds.items():
            if isinstance(cfgs, dict):
                cfgs = [cfgs]
            for i, cfg in enumerate(cfgs):
                yield pytest.param(domain, kind, cfg, id=f"{domain}-{kind}-{i}")


@pytest.mark.parametrize("domain,kind,cfg", list(_cases(GOOD)))
def test_good_config_binds(domain, kind, cfg):
    assert _MAKERS[domain](kind, **cfg) is not None


@pytest.mark.parametrize("domain,kind,cfg", list(_cases(BAD)))
def test_bad_config_rejected_at_bind_time(domain, kind, cfg):
    with pytest.raises(ValueError):
        _MAKERS[domain](kind, **cfg)


def test_socket_source_is_gone():
    """Syslog input is the ``syslog`` listener; there is no ``socket`` kind."""
    with pytest.raises(ValueError, match="unknown source 'socket'"):
        make_source("socket", address="h", port=514)


def test_every_builtin_kind_has_a_schema():
    """Coverage guard: adding a kind without a schema fails here."""
    from collector_spark import validation as v

    assert set(PROCESSOR_REGISTRY) <= set(v.PROCESSOR_SCHEMAS)
    assert set(SOURCE_REGISTRY) <= set(v.SOURCE_SCHEMAS)
    assert set(SINK_REGISTRY) <= set(v.SINK_SCHEMAS)


def test_custom_plugin_schema_registration():
    class EchoProcessor:
        def __init__(self, tag: str):
            self.tag = tag

        def apply(self, df):
            return df

    register_processor("echo_v", EchoProcessor)
    register_schema("processor", "echo_v", {"tag": spec(str, required=True)})
    assert make_processor("echo_v", tag="x").tag == "x"
    with pytest.raises(ValueError):
        make_processor("echo_v")
    with pytest.raises(ValueError):
        make_processor("echo_v", tag="x", extra=1)
