"""Pipeline — the reference's "instance" (one input → ordered processors →
fan-out outputs) as a declarative Spark job.

Reference lifecycle (internal/app/manager/manager.go:73-235):
    input batch → processors (sequential) → every output → commit state.

Spark mapping:
- the config IS the logical plan; "binding plugins" = composing
  DataFrame→DataFrame transforms (Catalyst then optimizes the whole
  chain as one plan — filters get pushed past parses where legal,
  columns pruned, codegen fused);
- fan-out = one persisted DataFrame + N filtered sink writes (the router);
- per-stage surviving counts (the reference's per-processor Rotate()
  counts, manager.go:160) come from ``df.observe`` metrics — measured on
  the SAME pass, no extra jobs;
- commit = manifest record written AFTER all sinks (at-least-once with
  idempotent replay; see collector_spark.checkpoint).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from collector_spark.checkpoint import BatchRecord, Manifest
from collector_spark.operators.cel import rederive_variant
from collector_spark.operators.router import Route, Router
from collector_spark.registry import make_processor, make_sink
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
                kind for kind, st in self.stages if not hasattr(st, "tag")
            ]
            if missing:
                raise ValueError(
                    f"quarantine mode needs tag() on every stage; missing: {missing}"
                )
        else:
            self.quarantine_sink = None
        self.manifest = (
            Manifest(state_dir, config.instance_id) if state_dir else None
        )

    # -- plan construction ---------------------------------------------------

    def _fresh(self, stage, received: DataFrame, out: DataFrame) -> DataFrame:
        """``out`` of ``stage``, whose VARIANT companion of the value, if
        any, is the parse of the current value. A stage may rewrite the
        value (any plugin may), so the companion is re-derived after it
        unless its class sets ``keeps_variant = True`` (CelFilter,
        JsonMutator)."""
        if getattr(stage, "keeps_variant", False):
            return out
        return rederive_variant(received, out, self.config.value_col)

    def transform(
        self, df: DataFrame, observations: dict[str, Observation] | None = None
    ) -> DataFrame:
        """Apply the processor chain (pure logical-plan composition).

        With ``observations`` a dict is filled with one Observation per
        stage measuring surviving rows ON THE SAME PASS (the reference's
        per-processor Rotate() counts, manager.go:160) — no extra jobs.
        """
        for i, (kind, stage) in enumerate(self.stages):
            df = self._fresh(stage, df, stage.apply(df))
            if observations is not None:
                name = f"stage_{i}_{kind}"
                obs = Observation(name)
                df = df.observe(obs, F.count(F.lit(1)).alias(name))
                observations[name] = obs
        return df

    def transform_tagged(
        self, df: DataFrame, observations: dict[str, Observation] | None = None
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Quarantine variant of transform(): every stage TAGS instead of
        filters; a row's first failing stage is recorded. Returns
        (tagged_parent, kept, quarantined) — kept/quarantined are cheap
        filtered views of the parent (persist the parent to share the
        parse work). ``quarantined`` carries the ORIGINAL input value
        plus ``fail_stage`` — the dead-letter record replacing the
        reference's silent drops (manager.go:166-169).

        ``observations`` is filled as in transform(): one Observation on
        the parent counts, per stage, the rows that passed it and every
        stage before it, so the counts equal the filtering path's."""
        vc = self.config.value_col
        df = df.withColumn("_orig", F.col(vc))
        ok_cols: list[tuple[str, str]] = []
        for i, (kind, stage) in enumerate(self.stages):
            out, keep = stage.tag(df)
            df = self._fresh(stage, df, out)
            name = f"stage_{i}_{kind}"
            ok_col = f"_ok_{i}"
            df = df.withColumn(
                ok_col, F.coalesce(keep.cast("boolean"), F.lit(False))
            )
            ok_cols.append((ok_col, name))
        fail = F.lit(None).cast("string")
        for ok_col, name in reversed(ok_cols):
            fail = F.when(~F.col(ok_col), F.lit(name)).otherwise(fail)
        tagged = df.withColumn("_fail_stage", fail)
        if observations is not None and ok_cols:
            obs = Observation("stages")
            passed, counts = F.lit(True), []
            for ok_col, name in ok_cols:
                passed = passed & F.col(ok_col)
                counts.append(F.count(F.when(passed, 1)).alias(name))
                observations[name] = obs
            tagged = tagged.observe(obs, *counts)
        helper_cols = ["_orig", "_fail_stage"] + [c for c, _ in ok_cols]
        kept = tagged.filter(F.col("_fail_stage").isNull()).drop(*helper_cols)
        quarantined = tagged.filter(F.col("_fail_stage").isNotNull()).select(
            F.col("_orig").alias(vc), F.col("_fail_stage").alias("fail_stage")
        )
        return tagged, kept, quarantined

    # -- execution -----------------------------------------------------------

    def run_batch(
        self,
        df: DataFrame,
        batch_id: int,
        source_state: dict | None = None,
        skip_if_committed: bool = True,
        on_error: str = "raise",
    ) -> BatchRecord:
        """Process one batch: transform → fan-out writes → commit.

        Idempotent: re-running a committed batch is a no-op; re-running an
        UNcommitted batch overwrites the same deterministic sink paths.

        on_error='drop' mirrors the reference (a processor error drops
        the whole batch, logged, pipeline continues — manager.go:166-169,
        tracked in Manifest.status()); 'raise' (default) propagates.
        """
        if on_error not in ("raise", "drop"):
            raise ValueError(on_error)
        if (
            skip_if_committed
            and self.manifest is not None
            and self.manifest.committed(batch_id)
        ):
            return BatchRecord(batch_id=batch_id, source_state=source_state or {})

        try:
            return self._run_batch_inner(df, batch_id, source_state)
        except Exception as e:  # noqa: BLE001 — mirrors reference error path
            if self.manifest is not None:
                self.manifest.record_error(batch_id, f"{type(e).__name__}: {e}")
            if on_error == "drop":
                return BatchRecord(
                    batch_id=batch_id, source_state=source_state or {}, failed=True
                )
            raise

    def _run_batch_inner(
        self, df: DataFrame, batch_id: int, source_state: dict | None
    ) -> BatchRecord:
        """One persisted parent, then every sink write, the lineage job
        and the commit. Plain mode filters stage by stage (later stages
        never run on dropped rows); quarantine mode tags every row in one
        pass and adds the dead-letter write (original value + first
        failing stage) for the rows the filters would have dropped."""
        observations: dict[str, Observation] = {}
        if self.quarantine_sink is None:
            parent = out = self.transform(df, observations=observations)
            dead_letter = []
        else:
            parent, out, quarantined = self.transform_tagged(df, observations)
            dead_letter = [("__quarantine__", self.quarantine_sink, quarantined)]
        routed = (
            [(name, self.sinks[name], view) for name, view in self.router.split(out).items()]
            if self.router is not None
            else []
        )
        targets = routed + dead_letter

        per_sink: dict[str, int] = {}
        per_sink_empty: dict[str, int] = {}
        per_sink_retry: dict[str, int] = {}
        partition_counts: dict[str, int] = {}
        per_stage: dict[str, int] = {}
        if targets:
            parent.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                for name, sink, view in targets:
                    per_sink[name] = sink.write(view, batch_id=batch_id)
                    metrics = getattr(sink, "last_metrics", None) or {}
                    if metrics.get("empty"):
                        per_sink_empty[name] = metrics["empty"]
                    if metrics.get("retries"):
                        per_sink_retry[name] = metrics["retries"]
                # per-partition lineage over the persisted parent (cheap:
                # no recompute, one count per cached partition)
                partition_counts = {
                    str(r.pid): r.rows
                    for r in out.groupBy(F.spark_partition_id().alias("pid"))
                    .agg(F.count(F.lit(1)).alias("rows"))
                    .collect()
                }
            finally:
                parent.unpersist()
            # only read after a write ran: Observation.get blocks on a
            # plan that never executed
            per_stage = {
                name: int(obs.get[name]) for name, obs in observations.items()
            }
        record = BatchRecord(
            batch_id=batch_id,
            source_state=source_state or {},
            per_stage_counts=per_stage,
            per_sink_counts=per_sink,
            per_sink_empty_counts=per_sink_empty,
            per_sink_retry_counts=per_sink_retry,
            partition_counts=partition_counts,
        )
        if self.manifest is not None:
            self.manifest.commit(record)  # AFTER sinks — reference order
        return record

    def run_tick(self, spark: SparkSession, on_error: str = "raise") -> BatchRecord:
        """One reference daemon tick (internal/input/file/file.go:62-133 →
        manager loop): read NEW rows from the configured source (resuming
        from the committed state), process, fan out, commit state.
        Batch ids auto-increment from the manifest."""
        if self.source is None:
            raise ValueError("run_tick needs a config with an 'input' block")
        state = self.manifest.last_state() if self.manifest else {}
        df, new_state = self.source.read_new(spark, state)
        batch_id = (self.manifest.last_batch_id() + 1) if self.manifest else 0
        ack = getattr(self.source, "commit_read", None)
        try:
            record = self.run_batch(
                df, batch_id=batch_id, source_state=new_state, on_error=on_error
            )
        except Exception:
            if ack is not None:
                ack(False)  # leave messages unacked → queue redelivers
            raise
        if ack is not None:
            committed = not record.failed and (
                self.manifest is None or self.manifest.committed(batch_id)
            )
            ack(committed)
        return record

    def sink_counts(self, df: DataFrame) -> DataFrame:
        """Per-sink aggregate counts of the transformed stream (one pass)."""
        if self.router is None:
            raise ValueError("no sinks configured")
        return self.router.sink_counts(self.transform(df))


def load_instances(config_dir: str, state_dir: str | None = None) -> dict[str, Pipeline]:
    """CLI-style startup: glob *.conf in a dir, one Pipeline per file
    (reference internal/cli/cli.go:18-51)."""
    out = {}
    for fname in sorted(os.listdir(config_dir)):
        if fname.endswith(".conf"):
            cfg = PipelineConfig.from_file(os.path.join(config_dir, fname))
            out[cfg.instance_id] = Pipeline(cfg, state_dir=state_dir)
    return out
