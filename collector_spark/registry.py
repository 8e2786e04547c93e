"""Plugin registries — name → stage factory.

Mirrors the reference's handler maps
(/root/reference/pkg/collector/collector.go:14-21,197-231): users register
custom inputs/processors/outputs by name; configs reference them by name.
Here a "processor" factory returns an object with
``apply(DataFrame) -> DataFrame``, all plain mode needs; quarantine mode
needs ``tag_columns`` (``operators.stage.Processor``). A sink has
``write(df, batch_id) -> int``. A processor may rewrite the value freely: ``Pipeline`` re-derives the
value's VARIANT companion (``stage.rederive_variant``) after every stage
whose class does not set ``keeps_variant = True``, so later json-mode
readers never see the parse of a value as it was before the rewrite.
"""

from __future__ import annotations

from typing import Callable

from collector_spark.operators.cel import CelFilter
from collector_spark.operators.csv_parse import CsvParser
from collector_spark.operators.grok import GrokParser
from collector_spark.operators.json_mutate import JsonMutator
from collector_spark.operators.kv import KvParser
from collector_spark.operators.syslog import SyslogParser
from collector_spark.sinks import SINK_REGISTRY, make_sink
from collector_spark.sources.sources import SOURCE_REGISTRY, make_source

PROCESSOR_REGISTRY: dict[str, Callable] = {
    "cel": CelFilter,
    "json": JsonMutator,
    "syslog": SyslogParser,
    "kv": KvParser,
    "grok": GrokParser,
    "csv": CsvParser,
}


def register_processor(name: str, factory: Callable) -> None:
    PROCESSOR_REGISTRY[name] = factory


def register_sink(name: str, factory: Callable) -> None:
    """A sink factory returns an object with ``write(df, batch_id) -> int``
    (rows written); it may set ``last_metrics = {"written", "empty",
    "retries"}``. ``write`` must consume ``df`` through a DataFrame action
    (a write, ``collect``, ``mapInArrow(...).collect()``, ...), never
    through ``df.rdd``: the batch's per-stage counts and partition
    lineage are Observations on the frame's parent, and an Observation
    fires only on a DataFrame action; after the writes ``Pipeline``
    waits for them. Its first action must read every row of ``df`` (no
    ``limit``, ``show`` or ``take`` first): an Observation keeps the
    metrics of the first action over its frame, and a small batch's
    driver-written rows ride them too. The built-in HTTP-family sinks
    run their per-partition senders through one ``mapInArrow`` action
    for this reason."""
    SINK_REGISTRY[name] = factory


def register_source(name: str, factory: Callable) -> None:
    """Reference RegisterInput (pkg/collector/collector.go:197-207): a
    source factory returns an object with
    ``read_new(spark, state) -> (DataFrame, state)``, one batch per
    tick."""
    SOURCE_REGISTRY[name] = factory


def make_processor(kind: str, **config):
    from collector_spark.validation import validate_config

    try:
        cls = PROCESSOR_REGISTRY[kind]
    except KeyError:
        raise ValueError(
            f"unknown processor {kind!r}; registered: {sorted(PROCESSOR_REGISTRY)}"
        ) from None
    validate_config("processor", kind, config)
    return cls(**config)


__all__ = [
    "PROCESSOR_REGISTRY",
    "SINK_REGISTRY",
    "SOURCE_REGISTRY",
    "register_processor",
    "register_sink",
    "register_source",
    "make_processor",
    "make_sink",
    "make_source",
]
