"""Declarative per-kind config validation.

Mirrors the reference's struct-tag schema validation
(pkg/core/validation.go:10-31 + the ``validate:"required"`` tags on every
plugin Config struct, e.g. internal/output/http/http.go:15-21): each
registered source/processor/sink kind declares a field schema; configs
are checked at bind time (``make_source/processor/sink``) so a bad
``.conf`` fails at ``load_instances``, never mid-batch.

Custom plugins registered via ``register_*`` may attach a schema with
``register_schema``; kinds without one fall back to their constructor's
own checks (the pre-round-2 behavior).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Spec:
    """One field's constraints — the struct-tag equivalent."""

    types: tuple = ()          # allowed python types; () = anything
    required: bool = False     # present and non-empty (gookit 'required')
    choices: tuple = ()        # enumerated values ('in:' tag)
    min_value: int | None = None

    def check(self, kind: str, name: str, value) -> None:
        if value is None or value == "":
            if self.required:
                raise ValueError(f"{kind}: field {name!r} is required")
            return
        if self.types:
            ok = isinstance(value, self.types)
            # bool is an int subclass — only accept it when bool is listed
            if ok and isinstance(value, bool) and bool not in self.types:
                ok = False
            if not ok:
                want = "/".join(t.__name__ for t in self.types)
                raise ValueError(
                    f"{kind}: field {name!r} must be {want}, "
                    f"got {type(value).__name__}"
                )
        if self.choices and value not in self.choices:
            raise ValueError(
                f"{kind}: field {name!r} must be one of {sorted(self.choices)}, "
                f"got {value!r}"
            )
        if (
            self.min_value is not None
            and isinstance(value, (int, float))
            and not isinstance(value, bool)
            and value < self.min_value
        ):
            raise ValueError(
                f"{kind}: field {name!r} must be >= {self.min_value}, got {value}"
            )


def spec(*types, required=False, choices=(), min_value=None) -> Spec:
    return Spec(types=tuple(types), required=required, choices=tuple(choices), min_value=min_value)


PROCESSOR_SCHEMAS: dict[str, dict[str, Spec]] = {
    # cel.go:14-17
    "cel": {
        "rules": spec(list, required=True),
        "action": spec(str, choices=("accept", "reject")),
        "mode": spec(str, choices=("json", "columns")),
        "value_col": spec(str),
    },
    # json.go:16-35
    "json": {
        "add": spec(list),
        "remove": spec(list),
        "replace": spec(list),
        "mode": spec(str, choices=("json", "columns")),
        "value_col": spec(str),
        "engine": spec(str, choices=("pandas", "native")),
    },
    # syslog.go config
    "syslog": {
        "type": spec(str, choices=("raw", "rfc5424", "rfc3164")),
        "value_col": spec(str),
    },
    # kv.go config
    "kv": {
        "type": spec(str, choices=("raw", "cef")),
        "value_col": spec(str),
        "as_json": spec(bool),
    },
    # logstash-style %{PATTERN:field} extraction (operators/grok.py);
    # the general form of the north rule's grok/regex parse stage
    "grok": {
        "pattern": spec(str, required=True),
        "value_col": spec(str),
        "extra_patterns": spec(dict),
    },
    # delimited-record parser (operators/csv_parse.py, §2.7 gap list)
    "csv": {
        "schema": spec(str, required=True),
        "sep": spec(str),
        "value_col": spec(str),
        "quote": spec(str),
        "escape": spec(str),
    },
}

_KAFKA_COMMON = {
    "brokers": spec(str, required=True),
    "topic": spec(str, required=True),
    "auth_config": spec(dict),
    "security_protocol": spec(str),
    # wire-format seam: 'kafka' (default) or a registered Python Data
    # Source name (the in-process fake broker in offline e2e tests)
    "fmt": spec(str),
}

SOURCE_SCHEMAS: dict[str, dict[str, Spec]] = {
    # internal/input/file/file.go config
    "file": {
        "path": spec(str, required=True),
        "delete": spec(bool),
        "max_driver_bytes": spec(int, min_value=1),
        "spill_dir": spec(str),
    },
    "incremental": {
        "table_path": spec(str, required=True),
        "ts_col": spec(str),
        "merge_schema": spec(bool),
    },
    # internal/input/kafka/kafka.go:24-37
    "kafka": {
        **_KAFKA_COMMON,
        "group_id": spec(str),
        "include_headers": spec(bool),
    },
    # internal/input/syslog/syslog.go:20-23 config (flush_frequency maps
    # to the Pipeline tick cadence; port 0 = ephemeral for tests)
    "syslog": {
        "address": spec(str),
        "port": spec(int, min_value=0),
        "protocol": spec(str, choices=("tcp", "udp", "both")),
        "format": spec(
            str, choices=("automatic", "RFC3164", "RFC5424", "RFC6587", "raw")
        ),
    },
    # internal/input/msgraph config (fetcher is the injected HTTP seam)
    "http_poller": {
        "fetcher": Spec(required=True),
        "page_size": spec(int, min_value=1),
        "now_fn": Spec(),
        "epoch": spec(str),
    },
    # internal/input/sqs + pubsub (receiver/acker are the injected seams)
    "queue": {
        "receiver": Spec(required=True),
        "acker": Spec(),
        "max_messages": spec(int, min_value=1),
        "max_polls": spec(int, min_value=1),
    },
}
SOURCE_SCHEMAS["msgraph"] = SOURCE_SCHEMAS["http_poller"]
SOURCE_SCHEMAS["sqs"] = SOURCE_SCHEMAS["queue"]
SOURCE_SCHEMAS["pubsub"] = SOURCE_SCHEMAS["queue"]

_FILE_SINK_COMMON = {
    "value_col": spec(str),
    "max_records_per_file": spec(int, min_value=0),
    "gzip": spec(bool),
}

SINK_SCHEMAS: dict[str, dict[str, Spec]] = {
    "parquet": {
        "path": spec(str, required=True),
        "partition_by": spec(list, tuple),
        "max_records_per_file": spec(int, min_value=0),
    },
    # internal/output/file/file.go:13-15
    "file": {"path": spec(str, required=True), **_FILE_SINK_COMMON},
    "stdout": {"num_rows": spec(int, min_value=1)},
    # internal/output/kafka/kafka.go:21-33
    "kafka": {**_KAFKA_COMMON, "value_col": spec(str)},
    # internal/output/s3/s3.go:21-33
    "s3": {
        "bucket": spec(str, required=True),
        "path": spec(str, required=True),
        "scheme": spec(str),
        **_FILE_SINK_COMMON,
    },
    # internal/output/gcs/gcs.go:24-35
    "gcs": {
        "bucket": spec(str, required=True),
        "path": spec(str, required=True),
        "scheme": spec(str),
        "composite": spec(bool),
        **_FILE_SINK_COMMON,
    },
    # internal/output/http/http.go:15-21
    "http": {
        "url": spec(str, required=True),
        "headers": spec(dict),
        "max_size_kb": spec(int, min_value=1),
        "as_json": spec(bool),
        "as_multi_part": spec(bool),
        "value_col": spec(str),
        "poster": Spec(),
        "retry_attempts": spec(int, min_value=1),
        "retry_wait": spec(int, float, min_value=0),
    },
    # internal/output/log_analytics/log_analytics.go:24-31
    "log_analytics": {
        "workspace_id": spec(str, required=True),
        "primary_key": spec(str, required=True),
        "log_type": spec(str, required=True),
        "date_field": spec(str),
        "value_col": spec(str),
        "poster": Spec(),
        "retry_attempts": spec(int, min_value=1),
        "retry_wait": spec(int, float, min_value=0),
    },
    # internal/output/pubsub/pubsub.go:24-35
    "pubsub": {
        "project_id": spec(str, required=True),
        "topic_id": spec(str, required=True),
        "credentials": spec(str),
        "value_col": spec(str),
        "publisher": Spec(),
    },
}

_DOMAINS = {
    "source": SOURCE_SCHEMAS,
    "processor": PROCESSOR_SCHEMAS,
    "sink": SINK_SCHEMAS,
}


def register_schema(domain: str, kind: str, schema: dict[str, Spec]) -> None:
    """Attach a validation schema to a custom registered kind."""
    _DOMAINS[domain][kind] = schema


def validate_config(domain: str, kind: str, config: dict) -> None:
    """Check config against the kind's schema (no-op if none declared).
    Unknown keys are rejected — the typo-catching equivalent of strict
    struct binding."""
    schema = _DOMAINS[domain].get(kind)
    if schema is None:
        return
    unknown = set(config) - set(schema)
    if unknown:
        raise ValueError(
            f"{domain} {kind!r}: unknown config field(s) {sorted(unknown)}; "
            f"accepted: {sorted(schema)}"
        )
    for name, sp in schema.items():
        sp.check(f"{domain} {kind!r}", name, config.get(name))
