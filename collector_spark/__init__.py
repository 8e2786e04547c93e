"""collector_spark — a from-scratch, PySpark-native re-implementation of the
capabilities of ThoronicLLC/collector (reference at /root/reference, Go).

The reference is a single-node, line-at-a-time log ETL daemon:
one input -> ordered processors -> fan-out outputs, with resume state
(see /root/reference/internal/app/manager/manager.go:73-235).

This package re-expresses the same semantics Spark-first:

- rows are DataFrame rows (``value: string`` for log-shaped data, or the
  web-scale ``pages`` schema ``(url, warc_ts, html binary, text, lang)``);
- processors are declarative DataFrame transforms (Catalyst optimizes:
  predicate pushdown, column pruning, whole-stage codegen);
- per-row custom logic lives in vectorized pandas/Arrow UDFs only;
- fan-out sinks share one persisted upstream plan;
- resume state is a checkpoint manifest table committed AFTER sinks
  (at-least-once, idempotent replay via deterministic output paths —
  reference semantics per manager.go:171-235).
"""

__version__ = "0.1.0"

import importlib

# Exported lazily (PEP 562): importing the package must not import
# pyspark, because the worker daemon entry module
# (collector_spark.python_daemon) cleans the path pyspark loads from.
_EXPORTS = {
    "get_spark": "collector_spark.session",
    "Collector": "collector_spark.collector",
    "Pipeline": "collector_spark.pipeline",
    "PipelineConfig": "collector_spark.pipeline",
    "SinkSpec": "collector_spark.pipeline",
    "load_instances": "collector_spark.pipeline",
}


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(_EXPORTS[name]), name)
    globals()[name] = value
    return value
