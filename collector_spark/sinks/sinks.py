"""Batch sinks.

Mapping from the reference's outputs (internal/app/builtin.go:46-57):

| reference output      | here                                            |
|-----------------------|-------------------------------------------------|
| file                  | FileSink (text lines, templated path, rotation  |
|                       | via maxRecordsPerFile)                          |
| stdout                | ConsoleSink (debug)                             |
| s3 / gcs              | S3Sink / GcsSink — named wrappers building the  |
|                       | s3a:// gs:// target (cloud FS auth/multipart is |
|                       | a Hadoop connector concern); gzip →             |
|                       | option("compression"); gcs composite append →   |
|                       | append-mode parts under one object prefix       |
| kafka / pubsub / http | KafkaSink (format("kafka"), gated: no broker in |
|                       | sandbox) / per-partition HTTP poster in one     |
|                       | DataFrame action (http_sinks.py)                |
| log_analytics         | signed-HTTP poster (HMAC util in functions/),   |
|                       | gated behind network availability               |

Idempotence: every sink writes to a deterministic per-batch location
(``.../batch_id=N``) with mode=overwrite, so at-least-once replay of an
uncommitted batch converges to exactly-once observable output —
the guarantee the reference aims for with state-after-outputs commit
(internal/app/manager/manager.go:171-235).
"""

from __future__ import annotations

import contextlib
import functools
import gzip
import os
import shutil
import uuid
from datetime import datetime, timezone
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from collector_spark.oracle import variable_replace
from collector_spark.session import cache_scope, cached


@functools.cache
def _line_columns(value_col: str = "value") -> tuple[Column, Column, Column]:
    """(non-empty test, written counter, empty counter) over
    ``value_col`` as text. Built on first use (Column construction needs
    an active SparkSession), then shared by every sink and batch: a
    Column is plan-free. Whitespace CLASS, not F.trim (spaces only): a
    tab/CR-only value is EMPTY, matching the reference's TrimSpace'd
    lines (pkg/core/tmp_writer.go:54-56) and the FileSource edge-trim
    class."""
    text = F.col(value_col).cast("string")
    non_empty = F.coalesce(F.length(F.regexp_replace(text, r"^\s+|\s+$", "")) > 0, F.lit(False))
    return (
        non_empty,
        F.count(F.when(non_empty, 1)).alias("written"),
        F.count(F.when(~non_empty, 1)).alias("empty"),
    )


@functools.cache
def _line_text(value_col: str) -> Column:
    """The line a text sink writes for ``value_col``: its text, NULL
    where the line is empty (Java's ``\\s``, as ``write`` tests it)."""
    return F.when(_line_columns(value_col)[0], F.col(value_col).cast("string"))


@functools.cache
def _value_text(value_col: str) -> Column:
    return F.col(value_col).cast("string").alias("value")


@functools.cache
def _row_count() -> Column:
    return F.count(F.lit(1)).alias("written")


def _observed_lines(df: DataFrame, value_col: str) -> tuple[DataFrame, Observation]:
    """``df``'s ``value_col`` as the non-empty ``value`` lines a text
    sink writes, with written/empty counters attached to the write-side
    plan, so the write action itself produces the counts — no second
    read of the target, no second compute of the upstream (round-1
    count-back cost: every sink write re-read or re-ran its input; at
    100 TB that doubles sink IO). The empty-line tally mirrors the
    reference's diagnostic count
    (internal/output/log_analytics/log_analytics.go:133-135)."""
    non_empty, written, empty = _line_columns()
    obs = Observation()
    out = df.select(_value_text(value_col)).observe(obs, written, empty)
    return out.filter(non_empty), obs


def _templated(path: str, ts: datetime | None = None, uuid: str | None = None) -> str:
    """%year%/%month%/... path templating (reference
    pkg/core/variable_replacer/variable_replacer.go:12-36)."""
    if "%" not in path:
        return path
    return variable_replace(ts or datetime.now(timezone.utc), path, uuid=uuid)


class _BaseSink:
    #: metrics of the most recent write(): {"written": n, "empty": m}
    last_metrics: dict | None = None

    def __init__(self, path: str | None = None, max_records_per_file: int = 0, **_):
        self.path = path
        self.max_records = max_records_per_file
        self._resolved: dict[int, str] = {}

    def target(self, batch_id: int | None) -> str:
        """Per-batch output location. %time% templates are resolved ONCE
        per batch id and cached, so an in-process retry of batch N after
        a time-boundary crossing overwrites the SAME location instead of
        leaving the failed attempt's partial output under the old hour
        (idempotence contract above). A retry after a process RESTART
        re-resolves with the new wall clock — the stale partial dir from
        the crashed attempt survives under the old template expansion;
        unavoidable without persisting per-batch timestamps pre-commit
        (the reference has the same wall-clock templating semantics,
        variable_replacer.go:12-36)."""
        if batch_id is None:
            return _templated(self.path)
        if batch_id not in self._resolved:
            if len(self._resolved) > 64:  # daemon hygiene: old ids never recur
                self._resolved.clear()
            self._resolved[batch_id] = _templated(self.path)
        return os.path.join(self._resolved[batch_id], f"batch_id={batch_id}")

    @property
    def takes_rows(self) -> bool:
        """Whether ``write_rows`` may write this sink: one file per batch
        on the driver's local filesystem (no scheme, or ``file:``)."""
        return urlparse(self.path).scheme in ("", "file") and not self.max_records

    @contextlib.contextmanager
    def _staged(self, batch_id: int | None):
        """A directory to write batch ``batch_id``'s files into, then
        published with ``_SUCCESS`` over the batch's directory by
        ``_replace_dir``. It is a hidden sibling (Spark's reader skips
        names starting with ``.``), removed if the block raises, so a
        crash never leaves a readable partial batch. Both hidden names
        are fixed per batch, so the batch's rerun clears what a killed
        writer left."""
        final = _local(self.target(batch_id))
        root, name = os.path.split(final.rstrip(os.sep))
        tmp = os.path.join(root, f".{name}.tmp")
        for stale in (tmp, f"{tmp}.old"):
            shutil.rmtree(stale, ignore_errors=True)
        os.makedirs(tmp)
        try:
            yield tmp
            open(os.path.join(tmp, "_SUCCESS"), "wb").close()
            _replace_dir(tmp, final)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise


class ParquetSink(_BaseSink):
    """Columnar sink (the default for Iceberg-style tables; with an
    Iceberg catalog jar this becomes ``writeTo(...).append()`` — same
    logical schema, see SURVEY.md §7 catalog note)."""

    def __init__(self, path: str, partition_by: tuple[str, ...] = (), max_records_per_file: int = 0, **_):
        super().__init__(path, max_records_per_file)
        self.partition_by = tuple(partition_by)

    def write(self, df: DataFrame, batch_id: int | None = None) -> int:
        target = self.target(batch_id)
        obs = Observation()
        df = df.observe(obs, _row_count())
        w = df.write.mode("overwrite")
        if self.max_records:
            w = w.option("maxRecordsPerFile", str(self.max_records))
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(target)
        written = int(obs.get["written"])
        self.last_metrics = {"written": written, "empty": 0}
        return written

    @property
    def takes_rows(self) -> bool:
        return super().takes_rows and not self.partition_by

    def row_columns(self, columns: dict[str, str]) -> dict[str, str | Column]:
        """What ``write_rows`` takes, given ``{name written: column of
        the frame}``: the columns themselves."""
        return columns

    def write_rows(self, table: pa.Table, batch_id: int | None = None) -> int:
        """Write driver-side rows where and as ``write`` would: one
        ``part-00000-<uuid>-c000.snappy.parquet``. Only if ``takes_rows``."""
        with self._staged(batch_id) as tmp:
            name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
            pq.write_table(table, os.path.join(tmp, name), compression="snappy")
        self.last_metrics = {"written": table.num_rows, "empty": 0}
        return table.num_rows


def _local(path: str) -> str:
    """``path`` on the local filesystem: a ``file:`` URL's path."""
    url = urlparse(path)
    return url.path if url.scheme == "file" else path


def _replace_dir(tmp: str, final: str) -> None:
    """Put directory ``tmp`` in the place of ``final`` by rename. An old
    ``final`` is first renamed to a hidden name, then deleted; between
    the two renames the batch reads as absent, never as partial."""
    old = f"{tmp}.old"
    replaced = os.path.isdir(final)
    if replaced:
        os.rename(final, old)
    os.rename(tmp, final)
    if replaced:
        shutil.rmtree(old)


class FileSink(_BaseSink):
    """Line-oriented text sink (reference `file` output,
    internal/output/file/file.go:48-92). Size rotation →
    maxRecordsPerFile; gzip → compression option (s3 output's gzip,
    internal/output/s3/s3.go:64-111)."""

    def __init__(self, path: str, value_col: str = "value", max_records_per_file: int = 0, gzip: bool = False, **_):
        super().__init__(path, max_records_per_file)
        self.value_col = value_col
        self.gzip = gzip

    def write(self, df: DataFrame, batch_id: int | None = None) -> int:
        return self._write_text(df, self.target(batch_id), "overwrite")

    def _write_text(self, df: DataFrame, target: str, mode: str) -> int:
        out, obs = _observed_lines(df, self.value_col)  # tmp_writer.go:54-56
        w = out.write.mode(mode)
        if self.max_records:
            w = w.option("maxRecordsPerFile", str(self.max_records))
        if self.gzip:
            w = w.option("compression", "gzip")
        w.text(target)
        self.last_metrics = {k: int(v) for k, v in obs.get.items()}
        return self.last_metrics["written"]

    def row_columns(self, columns: dict[str, str]) -> dict[str, str | Column]:
        """What ``write_rows`` takes, given ``{name written: column of
        the frame}``: ``value``, the line of ``value_col``, NULL where
        it is empty."""
        return {"value": _line_text(columns.get(self.value_col, self.value_col))}

    def write_rows(self, table: pa.Table, batch_id: int | None = None) -> int:
        """Write the ``value`` lines of ``table`` (``row_columns``) where
        and as ``write`` would: each non-NULL line as UTF-8 plus ``\\n``
        in one ``part-00000-<uuid>-c000.txt`` (``.txt.gz`` with
        ``gzip``). Only if ``takes_rows``."""
        lines = table.column("value").drop_null()
        data = "".join(f"{line}\n" for line in lines.to_pylist()).encode()
        name = f"part-00000-{uuid.uuid4()}-c000.txt"
        if self.gzip:
            data, name = gzip.compress(data), f"{name}.gz"
        with self._staged(batch_id) as tmp, open(os.path.join(tmp, name), "wb") as f:
            f.write(data)
        self.last_metrics = {"written": len(lines), "empty": table.num_rows - len(lines)}
        return len(lines)


class ConsoleSink:
    """stdout debug output (internal/output/stdout/stdout.go:23-56)."""

    def __init__(self, num_rows: int = 20, **_):
        self.num_rows = num_rows

    def write(self, df: DataFrame, batch_id: int | None = None) -> int:
        # two actions are inherent to a debug sink; persist so show reads
        # the cache. The count reads every partition first, as the
        # Observations over df keep the first action's metrics only
        with cache_scope():
            df = cached(df)
            written = df.count()
            df.show(self.num_rows, truncate=False)
            return written


class KafkaSink:
    """format('kafka') value-per-row producer (reference
    internal/output/kafka/kafka.go:54-108). Requires a reachable broker —
    constructed lazily so the sandbox (no broker) can still build plans.
    ``auth_config`` takes the reference's SASL schema (auth.go:13-101),
    translated to kafka.sasl.* options (sources/kafka_auth.py)."""

    last_metrics: dict | None = None

    def __init__(
        self,
        brokers: str,
        topic: str,
        value_col: str = "value",
        auth_config: dict | None = None,
        security_protocol: str = "SASL_SSL",
        fmt: str = "kafka",
        **_,
    ):
        from collector_spark.sources.kafka_auth import kafka_auth_options

        self.brokers = brokers
        self.topic = topic
        self.value_col = value_col
        # wire-format seam: 'kafka' in production, the in-process fake
        # broker data source (tests/fake_kafka.py) in offline e2e tests
        self.fmt = fmt
        self.auth_options = kafka_auth_options(auth_config, security_protocol)

    def writer_options(self) -> dict[str, str]:
        opts = {"kafka.bootstrap.servers": self.brokers, "topic": self.topic}
        opts.update(
            (k, v) for k, v in self.auth_options.items() if not k.startswith("_jvm.")
        )
        return opts

    def write(self, df: DataFrame, batch_id: int | None = None) -> int:
        out, obs = _observed_lines(df, self.value_col)  # kafka.go:86-90
        # append: producing is inherently append-only (the real kafka
        # connector ignores the mode; Python Data Sources require it)
        out.write.format(self.fmt).mode("append").options(
            **self.writer_options()
        ).save()
        self.last_metrics = {k: int(v) for k, v in obs.get.items()}
        return self.last_metrics["written"]


class S3Sink(FileSink):
    """Named s3 output (internal/output/s3/s3.go:60-183): templated key
    under a bucket, optional gzip (s3.go:64-111). Multipart sizing is a
    Hadoop s3a committer concern (fs.s3a.multipart.size replaces the
    5MB→512MB part ladder, s3.go:189-214); ``scheme`` is overridable so
    tests exercise the path/gzip plumbing on file://."""

    def __init__(self, bucket: str, path: str, gzip: bool = False, scheme: str = "s3a", **kw):
        super().__init__(path=f"{scheme}://{bucket}/{path.lstrip('/')}", gzip=gzip, **kw)


class GcsSink(FileSink):
    """Named gcs output (internal/output/gcs/gcs.go:67-153). The
    composite object-append mode (gcs.go:97-141) maps to append-mode
    writes into the templated prefix — new part files per batch instead
    of GCS compose calls."""

    def __init__(self, bucket: str, path: str, composite: bool = False, scheme: str = "gs", **kw):
        super().__init__(path=f"{scheme}://{bucket}/{path.lstrip('/')}", **kw)
        self.composite = composite

    @property
    def takes_rows(self) -> bool:
        return not self.composite and super().takes_rows

    def write(self, df: DataFrame, batch_id: int | None = None) -> int:
        if not self.composite:
            return super().write(df, batch_id=batch_id)
        # composite append: accumulate parts under ONE object prefix;
        # count comes from the write action itself (observe), so it cannot
        # disagree with what was appended for non-deterministic inputs.
        # Each batch's part is a batch-keyed subdir COMMITTED BY RENAME:
        # the job writes to a tick-private temp dir, then an atomic
        # first-writer-wins rename publishes it. A bare mode('append') to
        # the prefix would duplicate rows on at-least-once replay, and a
        # direct overwrite RACES when two ticks replay the same batch id
        # concurrently (zombie trigger + restart) — both committers'
        # files survived the interleaved delete, doubling the rows
        # (pinned in test_gcs_composite_concurrent_same_batch_ticks).
        # Same-batch replays carry identical content, so first-wins ==
        # last-wins observably — this mirrors GCS compose's atomicity
        # (gcs.go:97-141).
        target = _templated(self.path)
        if batch_id is None:
            return self._write_text(df, target, "append")
        final = os.path.join(target, f"part_batch_id={batch_id}")
        tmp = os.path.join(target, f".tick_tmp_{batch_id}_{uuid.uuid4().hex}")
        written = self._write_text(df, tmp, "overwrite")
        self._publish_by_rename(df.sparkSession, tmp, final)
        return written

    @staticmethod
    def _publish_by_rename(spark, tmp: str, final: str) -> None:
        """Atomically publish a tick's temp dir as the batch part.
        First writer wins; a loser (part already published, or rename
        lost a photo-finish) just discards its temp dir. Crashed ticks
        leave only unpublished .tick_tmp_* dirs, never a partial part."""
        sc = spark.sparkContext
        jvm = sc._jvm
        jconf = sc._jsc.hadoopConfiguration()
        jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
        jfinal = jvm.org.apache.hadoop.fs.Path(final)
        fs = jtmp.getFileSystem(jconf)
        if fs.exists(jfinal) or not fs.rename(jtmp, jfinal):
            fs.delete(jtmp, True)
        # photo-finish loser: Hadoop rename(src, existing-dir) moves src
        # INSIDE the destination instead of failing — sweep our temp out
        # of the published part if that happened
        nested = jvm.org.apache.hadoop.fs.Path(jfinal, jtmp.getName())
        if fs.exists(nested):
            fs.delete(nested, True)
        # a rename that failed for a reason OTHER than losing the race
        # (spurious FS error) must not be swallowed: the temp is gone,
        # so if no winner published the part either, the batch's rows
        # would silently vanish while last_metrics reports them written.
        # Raise so the batch fails uncommitted and its rerun rewrites it.
        if not fs.exists(jfinal):
            raise IOError(
                f"publish failed: rename {tmp} -> {final} did not succeed "
                "and no concurrent writer published the part; batch must "
                "be retried"
            )


def _http_sinks():
    from collector_spark.sinks.http_sinks import HttpSink, LogAnalyticsSink, PubSubSink

    return {"http": HttpSink, "log_analytics": LogAnalyticsSink, "pubsub": PubSubSink}


SINK_REGISTRY = {
    "parquet": ParquetSink,
    "file": FileSink,
    "stdout": ConsoleSink,
    "kafka": KafkaSink,
    "s3": S3Sink,
    "gcs": GcsSink,
}
SINK_REGISTRY.update(_http_sinks())


def make_sink(kind: str, **config):
    from collector_spark.validation import validate_config

    try:
        cls = SINK_REGISTRY[kind]
    except KeyError:
        raise ValueError(f"unknown sink {kind!r}; registered: {sorted(SINK_REGISTRY)}") from None
    validate_config("sink", kind, config)
    return cls(**config)
