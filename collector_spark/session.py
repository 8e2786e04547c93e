"""SparkSession factory tuned for this engine.

Local mode is the test/bench environment; the same settings are what we
would submit with ``spark-submit --py-files`` to a real cluster (AQE,
Arrow, skew-join handling are cluster-relevant, not local-only hacks).

On local masters the JVM talks to its Python workers, and the Python
driver to the JVM's collect and accumulator servers, over Unix domain
sockets instead of loopback TCP: over TCP each pandas-UDF task's worker
pass stalled about 40 ms (the delayed-ACK timer) whatever its rows.
Spark names each socket ``<dir>/.<uuid4>.sock``, so ``socket_dir`` picks
a directory whose socket paths fit ``sun_path``, else TCP stays on.
"""

from __future__ import annotations

import atexit
import functools
import os
import re
import tempfile
from contextlib import contextmanager, suppress
from contextvars import ContextVar
from typing import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType


#: Arrow bytes up to which Spark plans a ``pyarrow.Table`` handed to it
#: as a LocalRelation; a larger table becomes an RDD of Arrow batches. A
#: LocalRelation Java-serializes its rows into every task that scans it
#: and Catalyst walks its data while planning, so past a few MB it loses
#: to the RDD (a 45 MB tick: ~1 s more per scan).
LOCAL_RELATION_BYTES = 2 * 1024 * 1024

#: Local masters start their Python worker daemon through this module:
#: it takes Spark's pyspark.zip and jars off the workers' path so they
#: import the installed pyspark (see its docstring).
DAEMON_MODULE = "collector_spark.python_daemon"

#: Bytes a Unix socket path may hold (``sun_path`` is 108 with its NUL).
SUN_PATH_BYTES = 107
#: Bytes Spark adds to the socket directory: ``/.<uuid4>.sock``.
SOCKET_NAME_BYTES = 43


def socket_dir() -> str | None:
    """The first of the temp dir and ``/tmp`` whose socket paths fit
    ``SUN_PATH_BYTES``, or None (then Spark keeps loopback TCP). Spark's
    own default is ``java.io.tmpdir``, which may be too long."""
    for d in (tempfile.gettempdir(), "/tmp"):
        if len(os.fsencode(d)) + SOCKET_NAME_BYTES <= SUN_PATH_BYTES and os.path.isdir(d):
            return d
    return None


def get_spark(
    app_name: str = "collector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with ``spark_conf``'s settings."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in spark_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    accumulators = spark.sparkContext._accumulatorServer.server_address
    if isinstance(accumulators, str):  # a Unix socket
        _unlink_at_exit(accumulators)
    return spark


@functools.cache
def _unlink_at_exit(path: str) -> None:
    """Remove the socket at ``path`` when the driver exits: only
    ``spark.stop()`` removes the accumulator server's, so a driver that
    exits without it would leave the file behind."""
    atexit.register(_unlink, path)


def _unlink(path: str) -> None:
    with suppress(FileNotFoundError):
        os.remove(path)


def spark_conf(
    master: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The session settings for ``master``; ``extra_conf`` wins.

    Defaults follow the scale playbook: AQE on (runtime coalesce + skew
    join), Arrow on (all custom per-row logic is pandas-UDF based), UTC
    session timezone, shuffle partitions sized to cores not the 200
    default.
    """
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]) * 2, 8)
        else:
            shuffle_partitions = max(cores, 8)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # throughput batch engine: ParallelGC beats G1 decisively on
        # allocation-heavy string/regex work at high thread counts
        # (measured 4-10x on this class of hardware); pause times are
        # irrelevant for batch. Applied to BOTH driver (== executor in
        # local mode) and executors (cluster submit).
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
        # duplicate kv keys: last one wins, like a dict insert loop
        # (reference parseKeyValue, kv.go:130-136)
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        # driver_frame's LocalRelation must stay a relation: this rule
        # would evaluate the stages above it (syslog's Project/Filter) on
        # the driver at optimization time, interpreted and on one thread
        "spark.sql.optimizer.excludedRules": (
            "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
        ),
        "spark.sql.execution.arrow.localRelationThreshold": str(LOCAL_RELATION_BYTES),
    }
    if master == "local" or master.startswith("local["):
        # the package root goes on the workers' path, so that the daemon
        # module (and every UDF) imports from any working directory
        conf["spark.python.daemon.module"] = DAEMON_MODULE
        conf["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        # JVM <-> Python over Unix sockets, not loopback TCP (see above)
        sockets = socket_dir()
        if sockets is not None:
            conf["spark.python.unix.domain.socket.enabled"] = "true"
            conf["spark.python.unix.domain.socket.dir"] = sockets
    return {**conf, **(extra_conf or {})}


_SURROGATE = re.compile("[\ud800-\udfff]")


def arrow_table(schema: StructType, *columns: Sequence) -> pa.Table:
    """One sequence per field of ``schema`` as a ``pyarrow.Table`` of the
    Arrow types Spark maps the fields to. A lone surrogate in a string
    becomes U+FFFD, as the JVM unpickler makes it (pyarrow refuses to
    encode one)."""

    def array(values: Sequence, field):
        typ = to_arrow_type(field.dataType)
        try:
            return pa.array(values, typ)
        except UnicodeEncodeError:
            return pa.array(
                [_SURROGATE.sub("\ufffd", v) if isinstance(v, str) else v for v in values],
                typ,
            )

    return pa.Table.from_arrays(
        [array(values, field) for values, field in zip(columns, schema.fields, strict=True)],
        names=schema.names,
    )


def driver_frame(
    spark: SparkSession, schema: StructType, *columns: Sequence
) -> DataFrame:
    """The one way driver-side values enter Spark: one sequence per field
    of ``schema``, shipped as an ``arrow_table``.

    Up to ``LOCAL_RELATION_BYTES`` the frame plans as a LocalRelation (a
    LocalTableScan), above it as an RDD of Arrow batches decoded in the
    JVM; either way no job that scans it starts a Python worker.
    ``createDataFrame(<list>)`` pickles the rows into a PythonRDD instead,
    and every job over that pays a Python pass per partition."""
    table = arrow_table(schema, *columns)
    df = spark.createDataFrame(table, schema)
    if table.nbytes > LOCAL_RELATION_BYTES:
        # the RDD has one partition per 10k-row Arrow batch: a 45 MB tick
        # would run its pandas-UDF stage as 39 small tasks, not one per core
        df = df.coalesce(spark.sparkContext.defaultParallelism)
    return df



#: The releases owed by the innermost open ``cache_scope`` (None outside
#: any); each scope's reset token restores the enclosing one.
_SCOPE: ContextVar[list[Callable[[], None]] | None] = ContextVar("cache_scope", default=None)


@contextmanager
def cache_scope() -> Iterator[None]:
    """Own the caches made inside: every frame that ``cached`` or ``cut``
    returns while this is the innermost scope is released on exit, on an
    exception too, so a result that reads one is consumed inside. Outside
    any scope nothing is released."""
    token = _SCOPE.set(releases := [])
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for release in releases:
            release()


def _own(df: DataFrame, release: Callable[[], None]) -> DataFrame:
    if (releases := _SCOPE.get()) is not None:
        releases.append(release)
    return df


def cached(df: DataFrame) -> DataFrame:
    """``df`` persisted at ``MEMORY_AND_DISK``, for a frame that a plan
    reads more than once; the innermost ``cache_scope`` unpersists it."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _own(df, df.unpersist)


def cut(df: DataFrame) -> DataFrame:
    """``df`` materialized by an eager ``localCheckpoint``, its lineage
    cut; the innermost ``cache_scope`` unpersists the RDD behind its
    ``LogicalRDD``, which ``DataFrame.unpersist`` does not reach."""
    df = df.localCheckpoint(eager=True)
    return _own(df, lambda: df._jdf.logicalPlan().rdd().unpersist(False))
