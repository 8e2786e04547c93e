"""The reference's public embedding API (pkg/collector/collector.go:30-231)
as a multi-instance facade over Pipeline.

Reference surface → here:

| reference                       | here                                  |
|---------------------------------|---------------------------------------|
| collector.New(cfg)              | Collector(state_dir=...)              |
| c.Start(id, config)             | start(id, config) — binds + validates |
| c.Stop(id) / c.StopAll()        | stop(id) / stop_all()                 |
| c.Status(id) / c.ListStatus()   | status(id) / list_status()            |
| c.List()                        | list()                                |
| c.RegisterInput/Processor/Output| register_source/processor/sink        |
|                                 | (collector_spark.registry, shared)    |
| manager goroutine loop          | tick(id) / tick_all() — the daemon    |
|                                 | tick, driven by the caller's cadence  |

The reference runs one goroutine manager per instance; in Spark the
driver is the scheduler, so ticks are explicit (or via
``submit.py --ticks``) — same lifecycle, no hidden threads. Per the
reference's isolation model, one instance's failing tick never stalls
the others: under on_error='drop' ``Pipeline.run_tick`` records the
failure in the instance's manifest and returns a failed record."""

from __future__ import annotations

import dataclasses
import json

from pyspark.sql import SparkSession

from collector_spark.checkpoint import BatchRecord, Status
from collector_spark.pipeline import Pipeline, PipelineConfig


class Collector:
    def __init__(self, state_dir: str | None = None):
        self.state_dir = state_dir
        self._instances: dict[str, Pipeline] = {}

    def start(self, instance_id: str, config: PipelineConfig | dict | str) -> Pipeline:
        """Bind an instance (reference Start, collector.go:66-153):
        config is validated and plugins bound HERE — a bad config never
        becomes a registered instance. Accepts a PipelineConfig, a plain
        dict, or a JSON string; the caller's object is never mutated."""
        if instance_id in self._instances:
            raise ValueError(f"instance {instance_id!r} already started")
        if isinstance(config, str):
            config = json.loads(config)
        if isinstance(config, dict):
            config = PipelineConfig.from_dict({**config, "instance_id": instance_id})
        else:
            config = dataclasses.replace(config, instance_id=instance_id)
        pipe = Pipeline(config, state_dir=self.state_dir)
        self._instances[instance_id] = pipe
        return pipe

    def stop(self, instance_id: str) -> None:
        """Unregister (reference Stop, collector.go:155-164); sources with
        listeners/receipts get their stop() called. The instance is
        removed even if the source's teardown raises (no orphaned
        registration holding a dead listener)."""
        pipe = self._instances.get(instance_id)
        if pipe is None:
            raise KeyError(instance_id)
        try:
            stop_fn = getattr(pipe.source, "stop", None)
            if callable(stop_fn):
                stop_fn()
        finally:
            self._instances.pop(instance_id, None)

    def stop_all(self) -> None:
        """Best-effort stop of every instance (reference StopAll,
        collector.go:191-195); the first teardown error is re-raised
        AFTER all instances have been stopped."""
        first_err: Exception | None = None
        for iid in list(self._instances):
            try:
                self.stop(iid)
            except Exception as e:  # noqa: BLE001 — keep stopping the rest
                if first_err is None:
                    first_err = e
        if first_err is not None:
            raise first_err

    def list(self) -> list[str]:
        return sorted(self._instances)

    def status(self, instance_id: str) -> Status:
        """Status roll-up from the instance's manifest, which lives in
        memory without a state_dir (the reference's Status is in-memory,
        manager/status.go:7-27)."""
        return self._instances[instance_id].manifest.status()

    def list_status(self) -> dict[str, Status]:
        return {iid: self.status(iid) for iid in self.list()}

    def tick(self, spark: SparkSession, instance_id: str, on_error: str = "drop") -> BatchRecord:
        """One daemon tick for one instance (the manager loop body,
        manager.go:73-177): read-new → process → outputs → commit.
        on_error='drop' mirrors the reference's log-and-continue."""
        return self._instances[instance_id].run_tick(spark, on_error=on_error)

    def tick_all(self, spark: SparkSession, on_error: str = "drop") -> dict[str, BatchRecord]:
        """Tick every source-configured instance; under 'drop' a failing
        one returns a failed record and the rest still tick."""
        return {
            iid: self.tick(spark, iid, on_error=on_error)
            for iid in self.list()
            if self._instances[iid].source is not None
        }
