"""Pipeline — the reference's "instance" (one input → ordered processors →
fan-out outputs) as a declarative Spark job.

Reference lifecycle (internal/app/manager/manager.go:73-235):
    input batch → processors (sequential) → every output → commit state.

Spark mapping:
- the config IS the logical plan; "binding plugins" = composing
  DataFrame→DataFrame transforms (Catalyst then optimizes the whole
  chain as one plan — filters get pushed past parses where legal,
  columns pruned, codegen fused);
- fan-out = one write plan: a flag and columns per sink over one
  parent (``views``). A sink the driver cannot write is a Spark write
  of its view; the parent is persisted only when two or more Spark
  writes read it;
- a small batch (input a LocalRelation) hands every sink that takes
  driver rows one Arrow table of the flags and the columns those sinks
  write: the batch's one ``toArrow()`` when every sink takes rows, else
  a ``collect_list`` Observation riding the Spark writes. The driver
  filters it per sink and writes with pyarrow, so a small batch runs
  ``max(1, sinks that cannot take rows)`` Spark jobs;
- per-stage surviving counts (the reference's per-processor Rotate()
  counts, manager.go:160) and the kept rows per partition id (the
  lineage) come from ``df.observe`` metrics on the parent — measured on
  the SAME pass, no extra jobs;
- commit = manifest record written AFTER all sinks (at-least-once with
  idempotent replay; see collector_spark.checkpoint).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import cache, cached_property, reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from collector_spark.checkpoint import BatchRecord, Manifest
from collector_spark.operators.router import Route, Router
from collector_spark.operators.stage import Processor, fresh, variant_col
from collector_spark.registry import make_processor, make_sink
from collector_spark.session import arrow_table, cache_scope, cached
from collector_spark.sources.sources import make_source


@dataclass
class SinkSpec:
    name: str
    kind: str  # parquet | file | stdout | kafka | registered custom
    predicate: str | None = None  # CEL-subset; None = all rows (reference fan-out)
    config: dict = field(default_factory=dict)


@dataclass
class PipelineConfig:
    """One instance config (reference pkg/core/config.go:3-7 — Input,
    Processors[], Outputs[] — with the router generalization)."""

    # default "" so a .conf omitting it falls back to the filename in
    # from_file (reference CLI behavior) instead of a TypeError
    instance_id: str = ""
    # optional config-driven input {kind, ...} (reference Config.Input,
    # pkg/core/config.go:3-7); when present, run_tick() drives the full
    # read-new → process → outputs → commit-state loop
    input: dict | None = None
    processors: list[dict] = field(default_factory=list)  # [{kind, ...config}]
    sinks: list[SinkSpec] = field(default_factory=list)
    mode: str = "json"  # payload model for cel/json processors
    value_col: str = "value"
    # dead-letter sink config {kind, ...}: rows any processor would DROP
    # (reference: silent drop, manager.go:166-169 / per-processor skips)
    # are written here instead, as (original value, fail_stage)
    quarantine: dict | None = None

    @classmethod
    def from_dict(cls, raw: dict) -> "PipelineConfig":
        raw = dict(raw)
        sinks = [
            s if isinstance(s, SinkSpec) else SinkSpec(**s)
            for s in raw.pop("sinks", [])
        ]
        return cls(sinks=sinks, **raw)

    @classmethod
    def from_json(cls, text: str) -> "PipelineConfig":
        return cls.from_dict(json.loads(text))

    @classmethod
    def from_file(cls, path: str) -> "PipelineConfig":
        with open(path) as f:
            cfg = cls.from_json(f.read())
        if not cfg.instance_id:
            cfg.instance_id = os.path.splitext(os.path.basename(path))[0]
        return cfg


# the parent's helper columns (no sink writes them), the lineage
# metrics and the metric of the rows the driver writes beside Spark's
# writes; a batch with more partitions than the histogram has bins
# would get merged bins, which _partition_counts rejects
_ORIG, _FAIL, _PID = "_orig", "_fail_stage", "_pid"
_LINEAGE, _KEPT, _ROWS = "_partitions", "_kept", "_rows"
_QUARANTINE = "__quarantine__"
_MAX_PARTITIONS = 1 << 16


@cache
def _renamed(column: str, name: str) -> Column:
    """Column ``column`` written as ``name``; built once (a Column is
    plan-free), then shared by every batch."""
    return F.col(column).alias(name)


def _observed(obs: Observation) -> dict:
    """``obs.get``, or no metrics when Spark completed the Observation
    with an empty row: it does when the first action's plan over an
    empty parent was optimized down to an empty relation (a ``groupBy``
    or ``mapInArrow`` over an empty batch), and pyspark cannot convert
    that row. No metric then means no row."""
    if obs._jo is not None and obs._jo.getRow().length() == 0:
        return {}
    return obs.get


def _partition_counts(observed: dict) -> dict[str, int]:
    """Kept rows per partition id (``str(pid)``; partitions keeping no
    row are absent) from the parent's lineage metrics. Each id lives in
    one task, so the histogram's bins are exact counts; their sum must
    be the kept-row count."""
    counts: dict[str, int] = {}
    for b in observed.get(_LINEAGE) or []:
        pid = str(int(b.x))
        counts[pid] = counts.get(pid, 0) + int(b.y)
    kept = observed.get(_KEPT, 0)
    if sum(counts.values()) != kept:
        raise RuntimeError(
            f"partition lineage counts {sum(counts.values())} rows, the parent kept {kept}"
        )
    return counts


class Pipeline:
    """Composable pipeline; library-embedding style mirrors
    pkg/collector/collector.go:30-64 (collector.New → Register* → Start).
    """

    def __init__(self, config: PipelineConfig, state_dir: str | None = None):
        self.config = config
        # bind processors at build time (config-time validation — bad
        # configs fail HERE, like the reference's handler validation,
        # collector.go:83-125)
        self.stages = [
            (
                spec.get("kind"),
                make_processor(
                    spec["kind"],
                    **{
                        k: v
                        for k, v in spec.items()
                        if k != "kind"
                    },
                ),
            )
            for spec in config.processors
        ]
        self.router = (
            Router(
                [Route(s.name, s.predicate) for s in config.sinks],
                mode=config.mode,
                value_col=config.value_col,
            )
            if config.sinks
            else None
        )
        self.sinks = {s.name: make_sink(s.kind, **s.config) for s in config.sinks}
        if config.input:
            src = dict(config.input)
            self.source = make_source(src.pop("kind"), **src)
        else:
            self.source = None
        if config.quarantine:
            q = dict(config.quarantine)
            self.quarantine_sink = make_sink(q.pop("kind"), **q)
            missing = [
                kind for kind, st in self.stages if not hasattr(st, "tag_columns")
            ]
            if missing:
                raise ValueError(
                    f"quarantine mode needs tag_columns() on every stage; missing: {missing}"
                )
        else:
            self.quarantine_sink = None
        # without a state_dir the log lives in memory (checkpoint.Manifest)
        self.manifest = Manifest(state_dir, config.instance_id)
        self._failure_cols: dict[int, tuple[Column, Column]] = {}

    # -- plan construction ---------------------------------------------------
    #
    # Every config-only Column below is built on first use and reused by
    # every batch (a Column is plan-free: each use gets fresh expression
    # ids); only the frames and the Observations are new per batch.

    @cached_property
    def _stage_names(self) -> list[str]:
        return [f"stage_{i}_{kind}" for i, (kind, _) in enumerate(self.stages)]

    @cached_property
    def _stage_counts(self) -> list[Column]:
        return [F.count(F.lit(1)).alias(name) for name in self._stage_names]

    @cached_property
    def _lineage(self) -> tuple[Column, list[Column]]:
        """(partition-id projection, plain-mode lineage aggregates). The
        id is projected, not aggregated directly: the expression is
        nondeterministic, which an observed aggregate may not hold."""
        pid = F.spark_partition_id().alias(_PID)
        return pid, [
            F.histogram_numeric(F.col(_PID), F.lit(_MAX_PARTITIONS)).alias(_LINEAGE),
            F.count(F.lit(1)).alias(_KEPT),
        ]

    @cached_property
    def _tagged_columns(self) -> dict:
        """The quarantine path's config-only Columns."""
        vc = self.config.value_col
        fail = F.col(_FAIL)
        kept = fail.isNull()
        names = self._stage_names
        # a row passed stage i when no stage up to i is its first failure
        counts = [
            F.count(F.when(kept | ~fail.isin(names[: i + 1]), 1)).alias(name)
            for i, name in enumerate(names)
        ]
        return {
            "start": {_ORIG: F.col(vc), _FAIL: F.lit(None).cast("string")},
            "metrics": counts + [
                F.histogram_numeric(F.when(kept, F.col(_PID)), F.lit(_MAX_PARTITIONS)).alias(_LINEAGE),
                F.count(F.when(kept, 1)).alias(_KEPT),
            ],
        }

    @cached_property
    def _flags(self) -> dict[str, Column]:
        """Each sink's flag: its route's match, only on kept rows in
        quarantine mode, then the dead letters' flag."""
        routes = dict(self.router._route_cols()) if self.router is not None else {}
        if self.quarantine_sink is None:
            return routes
        kept = F.col(_FAIL).isNull()
        return {**{name: kept & match for name, match in routes.items()}, _QUARANTINE: ~kept}

    def _columns(self, parent: DataFrame) -> dict[str, dict[str, str]]:
        """Each sink's ``{name written: column of parent}``: a route
        writes the parent's columns but the helpers and the VARIANT
        companion, the quarantine sink the original value and the first
        failing stage (the dead-letter record)."""
        vc = self.config.value_col
        helpers = {_ORIG, _FAIL, _PID, variant_col(vc)}
        kept = {c: c for c in parent.columns if c not in helpers}
        columns = dict.fromkeys(self.sinks, kept)
        if self.quarantine_sink is not None:
            columns[_QUARANTINE] = {vc: _ORIG, "fail_stage": _FAIL}
        return columns

    def views(self, parent: DataFrame, names: list[str] | None = None) -> dict[str, DataFrame]:
        """What each sink of ``names`` (all by default) writes of
        ``parent`` (``transform_tagged``'s, or the plain parent):
        ``parent.filter(flag).select(columns)``. Each view recomputes
        ``parent`` unless the caller persists it."""
        frame = parent if self.router is None else self.router.parsed(parent)
        return self._views(frame, self._columns(frame), self._flags if names is None else names)

    def _views(self, frame: DataFrame, columns: dict[str, dict[str, str]], names) -> dict[str, DataFrame]:
        """``views`` of a ``frame`` the router has parsed, given its
        ``_columns``."""
        return {
            name: frame.filter(self._flags[name]).select(*(c if c == w else _renamed(c, w) for w, c in columns[name].items()))
            for name in names
        }

    def _first_failure(self, i: int, keep: Column) -> Column:
        """``_fail_stage`` after stage ``i``, whose rows pass where
        ``keep`` holds: the earlier failure, else this stage's name.
        Reused while the stage hands back the same ``keep`` (the
        built-in stages compile it once)."""
        cached = self._failure_cols.get(i)
        if cached is None or cached[0] is not keep:
            failed = F.when(
                ~F.coalesce(keep.cast("boolean"), F.lit(False)),
                F.lit(self._stage_names[i]),
            )
            self._failure_cols[i] = cached = (keep, F.coalesce(F.col(_FAIL), failed))
        return cached[1]

    def transform(
        self, df: DataFrame, observations: dict[str, Observation] | None = None
    ) -> DataFrame:
        """Apply the processor chain (pure logical-plan composition).

        With ``observations`` a dict is filled with one Observation per
        stage measuring surviving rows ON THE SAME PASS (the reference's
        per-processor Rotate() counts, manager.go:160) — no extra jobs.
        """
        vc = self.config.value_col
        for i, (kind, stage) in enumerate(self.stages):
            out = stage.apply(df)
            # a built-in's apply keeps the VARIANT companion fresh itself
            df = out if isinstance(stage, Processor) else fresh(stage, df, out, vc)
            if observations is not None:
                name = self._stage_names[i]
                obs = Observation(name)
                df = df.observe(obs, self._stage_counts[i])
                observations[name] = obs
        return df

    def transform_tagged(
        self, df: DataFrame, observations: dict[str, Observation] | None = None
    ) -> DataFrame:
        """Quarantine variant of transform(): every stage TAGS instead of
        filters; a row's first failing stage is recorded. Returns the
        tagged parent; ``views`` picks each sink's rows of it, the dead
        letters (the ORIGINAL input value plus ``fail_stage``) replacing
        the reference's silent drops (manager.go:166-169).

        ``observations`` is filled as in transform(), plus the partition
        lineage: one Observation on the parent counts, per stage, the
        rows that passed it and every stage before it, so the counts
        equal the filtering path's, and holds the kept rows per
        partition id (``_LINEAGE``).

        Each stage's tagging is one projection of its ``tag_columns``
        (see ``stage.Processor``): the rows plain mode filters on ``keep``
        are the rows tagged as failing here. The parent's own per-stage
        columns (the original value, then the first failure so far) ride
        in that projection instead of adding one each."""
        cols = self._tagged_columns
        pending = cols["start"]
        for i, (_, stage) in enumerate(self.stages):
            frame, rewrites, keep = stage.tag_columns(df)
            out = frame.withColumns({**pending, **rewrites})
            df = fresh(stage, df, out, self.config.value_col)
            pending = {_FAIL: self._first_failure(i, keep)}
        tagged = df.withColumns({**pending, _PID: self._lineage[0]})
        if observations is not None:
            obs = Observation("stages")
            tagged = tagged.observe(obs, *cols["metrics"])
            for name in self._stage_names + [_LINEAGE]:
                observations[name] = obs
        return tagged

    # -- execution -----------------------------------------------------------

    def run_batch(
        self,
        df: DataFrame,
        batch_id: int,
        source_state: dict | None = None,
        on_error: str = "raise",
    ) -> BatchRecord:
        """Process one batch: transform → fan-out writes → commit.

        Idempotent: re-running a committed batch is a no-op; re-running an
        UNcommitted batch overwrites the same deterministic sink paths.

        A failure is recorded in ``Manifest.status()``; on_error='drop'
        then mirrors the reference (a processor error drops the whole
        batch, pipeline continues — manager.go:166-169) and returns a
        ``failed`` record; 'raise' (default) propagates.
        """
        _check(on_error)
        if self.manifest.committed(batch_id):
            return BatchRecord(batch_id=batch_id, source_state=source_state or {})
        try:
            return self._run_batch_inner(df, batch_id, source_state)
        except Exception as e:  # noqa: BLE001 — mirrors reference error path
            failed = self._failed(batch_id, e)
            if on_error == "raise":
                raise
            return failed

    def _failed(self, batch_id: int, error: Exception) -> BatchRecord:
        """Record ``error`` under ``batch_id``; the failed record."""
        self.manifest.record_error(batch_id, f"{type(error).__name__}: {error}")
        return BatchRecord(batch_id=batch_id, failed=True)

    def _run_batch_inner(
        self, df: DataFrame, batch_id: int, source_state: dict | None
    ) -> BatchRecord:
        """The sink writes, then the commit. Plain mode filters stage by
        stage (later stages never run on dropped rows); quarantine mode
        tags every row in one pass and adds the dead-letter sink for the
        rows the filters would have dropped. The per-stage counts and
        the kept rows per partition (the lineage) are Observations on the
        parent, so the first action measures them: each Spark write's
        first action must read all of its view.

        On a LocalRelation (at most ``LOCAL_RELATION_BYTES``) the driver
        writes every sink that ``takes_rows`` from one Arrow table: the
        batch's one ``toArrow()``, or a ``collect_list`` Observation on
        the Spark writes of the other sinks' ``views``. So a small batch
        runs ``max(1, sinks that cannot take rows)`` Spark jobs."""
        observations: dict[str, Observation] = {}
        sinks = dict(self.sinks)
        if self.quarantine_sink is not None:
            sinks[_QUARANTINE] = self.quarantine_sink
        if self.quarantine_sink is None:
            pid, lineage = self._lineage
            obs = Observation("lineage")
            parent = self.transform(df, observations).select("*", pid).observe(obs, *lineage)
            observations[_LINEAGE] = obs
        else:
            parent = self.transform_tagged(df, observations)

        record = BatchRecord(batch_id=batch_id, source_state=source_state or {})

        def wrote(name, written):
            record.per_sink_counts[name] = written
            metrics = getattr(sinks[name], "last_metrics", None) or {}
            if metrics.get("empty"):
                record.per_sink_empty_counts[name] = metrics["empty"]
            if metrics.get("retries"):
                record.per_sink_retry_counts[name] = metrics["retries"]

        if sinks:
            frame = parent if self.router is None else self.router.parsed(parent)
            columns = self._columns(frame)  # one schema fetch per batch
            rows = [name for name, sink in sinks.items() if getattr(sink, "takes_rows", False)] if df.isLocal() else []
            spark_writes = [name for name in sinks if name not in rows]
            if rows:
                project, picks = self._row_plan(columns, sinks, rows)
                if spark_writes:
                    picked = reduce(Column.__or__, (self._flags[name] for name in rows))
                    obs = observations[_ROWS] = Observation("rows")
                    frame = frame.observe(obs, F.collect_list(F.when(picked, F.struct(*project))).alias(_ROWS))
                else:
                    table = frame.select(*project).toArrow()
            with cache_scope():
                # two or more Spark writes share one materialization, the
                # row Observation's included
                views = self._views(cached(frame) if len(spark_writes) > 1 else frame, columns, spark_writes)
                for name, view in views.items():
                    wrote(name, sinks[name].write(view, batch_id=batch_id))
            # only read after an action ran: Observation.get blocks until
            # a DataFrame action over the parent has finished
            observed: dict = {}
            for obs in {id(o): o for o in observations.values()}.values():
                observed.update(_observed(obs))
            record.per_stage_counts = {name: int(observed.get(name, 0)) for name in self._stage_names}
            record.partition_counts = _partition_counts(observed)
            if rows and spark_writes:
                got = observed.get(_ROWS) or []
                schema = frame.select(*project).schema
                table = arrow_table(schema, *([r[i] for r in got] for i in range(len(schema))))
            for name in rows:  # the dead letters last
                pick = picks[name]
                chosen = table.filter(table[f"_route_{name}"]).select(list(pick)).rename_columns(list(pick.values()))
                wrote(name, sinks[name].write_rows(chosen, batch_id=batch_id))
        self.manifest.commit(record)  # AFTER sinks — reference order
        return record

    def _row_plan(
        self, columns: dict[str, dict[str, str]], sinks: dict, names: list[str]
    ) -> tuple[list, dict[str, dict[str, str]]]:
        """The table the driver writes sinks ``names`` from, given the
        frame's ``_columns``: a flag per sink and each sink's
        ``row_columns`` (a column of the frame once, however many sinks
        write it); and per sink, ``{column of the table: name written}``."""
        project: dict[str, str | Column] = {}
        picks: dict[str, dict[str, str]] = {}
        for name in names:
            project[f"_route_{name}"] = self._flags[name]
            picks[name] = {}
            for written, col in sinks[name].row_columns(columns[name]).items():
                key = col if isinstance(col, str) else f"_{name}_{written}"
                project.setdefault(key, col)
                picks[name][key] = written
        return [c if isinstance(c, str) else c.alias(k) for k, c in project.items()], picks

    def run_tick(self, spark: SparkSession, on_error: str = "raise") -> BatchRecord:
        """One reference daemon tick (internal/input/file/file.go:62-133 →
        manager loop): read NEW rows from the configured source (resuming
        from the committed state), process, fan out, commit state, ack.
        Batch ids auto-increment from the manifest.

        ``on_error`` covers the whole tick, as each reference manager
        isolates its input (manager.go:73-235): under 'drop' a failure of
        the state read, ``read_new``, the batch or the ack is recorded
        once, under the tick's batch id, and the tick returns a
        ``failed`` record; 'raise' propagates it."""
        if self.source is None:
            raise ValueError("run_tick needs a config with an 'input' block")
        _check(on_error)
        batch_id = self.manifest.last_batch_id() + 1
        ack = getattr(self.source, "commit_read", lambda committed: None)
        try:
            try:
                df, state = self.source.read_new(spark, self.manifest.last_state())
                # a failed batch records its own error
                record = self.run_batch(df, batch_id=batch_id, source_state=state, on_error=on_error)
            finally:
                # unacked messages of an uncommitted batch are redelivered
                ack(self.manifest.committed(batch_id))
        except Exception as e:  # noqa: BLE001 — isolate this instance's tick
            if on_error == "raise":
                raise
            return self._failed(batch_id, e)
        return record

    def sink_counts(self, df: DataFrame) -> DataFrame:
        """Per-sink aggregate counts of the transformed stream (one pass)."""
        if self.router is None:
            raise ValueError("no sinks configured")
        return self.router.sink_counts(self.transform(df))


def _check(on_error: str) -> None:
    if on_error not in ("raise", "drop"):
        raise ValueError(on_error)


def load_instances(config_dir: str, state_dir: str | None = None) -> dict[str, Pipeline]:
    """CLI-style startup: glob *.conf in a dir, one Pipeline per file
    (reference internal/cli/cli.go:18-51). Two files with one
    instance_id would share a manifest, so they are rejected."""
    out, files = {}, {}
    for fname in sorted(os.listdir(config_dir)):
        if fname.endswith(".conf"):
            path = os.path.join(config_dir, fname)
            cfg = PipelineConfig.from_file(path)
            if cfg.instance_id in files:
                raise ValueError(
                    f"instance {cfg.instance_id!r} defined by both {files[cfg.instance_id]} and {path}"
                )
            files[cfg.instance_id] = path
            out[cfg.instance_id] = Pipeline(cfg, state_dir=state_dir)
    return out
