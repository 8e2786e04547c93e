"""Checkpoint / resume — the reference's state-file semantics on a
manifest log.

Reference (internal/app/manager/manager.go:171-235, internal/cli/
state.go:19-37): state is carried through the pipeline and persisted only
AFTER all outputs succeeded — at-least-once overall; a crash between
output-write and state-save replays the batch.

Here: an append-only JSON-lines log under
``<dir>/<instance_id>.manifest.jsonl`` records one committed batch per
line:
    {batch_id, source_state, per_stage_counts, per_sink_counts, committed_at}
Commit order is sinks-first, manifest-last (same as the reference).
Replayed batches are idempotent because every sink writes to a
deterministic ``batch_id=N`` location with overwrite — so the observable
output converges to exactly-once even though the control flow is
at-least-once.

Log rules:
- a commit appends one line and fsyncs; nothing is ever rewritten, so
  its cost does not grow with the history;
- a batch id may appear more than once (a replayed batch is committed
  again); the LAST occurrence wins, and ``load()`` lists it at the end;
- a record counts only once its whole line, newline included, is on
  disk. A crash mid-append leaves an unterminated last line: readers
  ignore it (the batch is uncommitted and replays), and the next commit
  truncates it before appending;
- one writer per instance — the reference's one manager per instance.
  The writer parses the file once, on first use, and then answers every
  query from memory; any other handle on the same path is a reader and
  sees what the writer has committed when it first loads.

Without a state dir the same log lives in memory only: state, status
and errors carry from tick to tick within the process and start over
after a restart.

JSON-lines (not parquet) because the manifest is tiny, append-only, and
driver-side; on a cluster this would be an Iceberg/Delta table — the
interface below is the swap point.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class BatchRecord:
    batch_id: int
    source_state: dict = field(default_factory=dict)
    per_stage_counts: dict = field(default_factory=dict)
    per_sink_counts: dict = field(default_factory=dict)
    # diagnostic: empty lines filtered before each sink write (reference
    # counts these per output, e.g. internal/output/log_analytics/
    # log_analytics.go:133-135, kafka.go:86-90)
    per_sink_empty_counts: dict = field(default_factory=dict)
    # diagnostic: bounded-retry tally per sink (the reference's RetryCount
    # in PipelineResults, pkg/core/channel.go:3-8; its HTTP-family outputs
    # do 3-attempt retries, log_analytics.go:186, s3.go:38)
    per_sink_retry_counts: dict = field(default_factory=dict)
    # per-partition lineage: {spark_partition_id: rows surviving the
    # processor chain} — the partition-granular progress/skew record the
    # north rule asks for (and the reference's per-batch ResultCount,
    # pkg/core/channel.go:3-8, generalized below file granularity)
    partition_counts: dict = field(default_factory=dict)
    committed_at: float = 0.0
    # True only on the record of a batch or tick dropped under
    # on_error='drop' (its error is in Manifest.status()); never
    # committed to the manifest
    failed: bool = False


@dataclass
class Status:
    """Instance status roll-up (reference internal/app/manager/
    status.go:7-27 — Running, Errors, LastSuccessfulRun,
    LastSuccessfulResultCount, HasErrors, ErrorsSinceSuccessfulRun)."""

    last_successful_run: float | None = None
    last_successful_result_count: int = 0
    errors: list[str] = field(default_factory=list)
    errors_since_successful_run: int = 0

    @property
    def has_errors(self) -> bool:
        return bool(self.errors)


class Manifest:
    """Append-only batch log of one instance plus its error log, indexed
    in memory after the first call (see the module docstring). With
    ``state_dir=None`` it writes no file and ``path`` is None."""

    def __init__(self, state_dir: str | None, instance_id: str):
        self.path = self.errors_path = None
        # filled by _index() on first use, never in __init__, so binding
        # an instance reads no history; a memory-only log has none
        self._records: dict[int, BatchRecord] | None = None if state_dir else {}
        if state_dir:
            os.makedirs(state_dir, exist_ok=True)
            self.path = os.path.join(state_dir, f"{instance_id}.manifest.jsonl")
            self.errors_path = os.path.join(state_dir, f"{instance_id}.errors.jsonl")
        self._max_id = -1
        self._end = 0  # bytes of whole, newline-terminated lines
        self._errors: list[dict] = []  # errors logged after the last commit

    def _index(self) -> dict[int, BatchRecord]:
        """batch_id → record in commit order (last occurrence wins).
        Parses both logs on the first call only."""
        if self._records is not None:
            return self._records
        records: dict[int, BatchRecord] = {}
        end = 0
        if os.path.exists(self.path):
            with open(self.path, "rb") as f:
                for line in f:
                    if not line.endswith(b"\n"):
                        break  # torn append: never committed
                    end += len(line)
                    if line.strip():
                        r = BatchRecord(**json.loads(line))
                        records.pop(r.batch_id, None)
                        records[r.batch_id] = r
        errors = []
        if os.path.exists(self.errors_path):
            with open(self.errors_path) as f:
                errors = [json.loads(line) for line in f if line.strip()]
        last = next(reversed(records.values()), None)
        self._errors = [e for e in errors if last is None or e["at"] > last.committed_at]
        self._max_id = max(records, default=-1)
        self._end = end
        self._records = records
        return records

    def load(self) -> list[BatchRecord]:
        """Unique records in commit order; a replayed batch comes last."""
        return list(self._index().values())

    def last_state(self) -> dict:
        """Resume token: source state of the HIGHEST committed batch id
        (reference LoadState, internal/cli/state.go:28-37). Not the last
        record: commit() of a replayed older batch appends that record at
        the END of the log, and taking commit order would roll the resume
        token back — the next tick would then reuse an already-committed
        batch id, skip the freshly-read data as a duplicate, and still
        ack it (data loss)."""
        records = self._index()
        return records[self._max_id].source_state if records else {}

    def last_batch_id(self) -> int:
        self._index()
        return self._max_id

    def committed(self, batch_id: int) -> bool:
        return batch_id in self._index()

    def commit(self, record: BatchRecord) -> None:
        """THE commit point (reference saveState, manager.go:218-235).
        Appends one JSON line to the file, if any, and fsyncs it; the
        in-memory index changes only after the fsync returned. Never
        reads or rewrites the log. A torn tail left by an earlier crash
        or failed append is truncated first; a failed append is rolled
        back to the last whole line (best effort — the next commit
        truncates it anyway), so a fresh reader does not count a batch
        this writer reported as failed."""
        records = self._index()
        record.committed_at = time.time()
        if self.path is not None:
            self._append(record)
        records.pop(record.batch_id, None)
        records[record.batch_id] = record
        self._max_id = max(self._max_id, record.batch_id)
        self._errors = [e for e in self._errors if e["at"] > record.committed_at]

    def _append(self, record: BatchRecord) -> None:
        line = (json.dumps(record.__dict__, separators=(",", ":")) + "\n").encode()
        fd = os.open(self.path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            size = os.fstat(fd).st_size
            if size < self._end:
                raise RuntimeError(
                    f"{self.path} shrank under its writer ({size} < {self._end} bytes)"
                )
            if size > self._end:
                os.ftruncate(fd, self._end)
            try:
                view = memoryview(line)
                while view:
                    view = view[os.write(fd, view) :]
                os.fsync(fd)
            except BaseException:
                os.ftruncate(fd, self._end)
                raise
        finally:
            os.close(fd)
        self._end += len(line)

    def record_error(self, batch_id: int, message: str) -> None:
        """Append a batch failure (reference errorHandler path,
        manager.go:166-169: the batch is dropped, the error logged)."""
        entry = {"batch_id": batch_id, "error": message, "at": time.time()}
        if self.errors_path is not None:
            with open(self.errors_path, "a") as f:
                f.write(json.dumps(entry, separators=(",", ":")) + "\n")
        self._errors.append(entry)

    def status(self) -> Status:
        """Roll-up (status.go:7-27): last successful batch + error tally.
        A successful run RESETS the visible errors (reference
        successfulStatus clears Errors/HasErrors, status.go:29-44), so
        both ``errors`` and ``has_errors`` reflect only errors logged
        after the last commit."""
        last = next(reversed(self._index().values()), None)
        return Status(
            last_successful_run=last.committed_at if last else None,
            last_successful_result_count=(
                sum(last.per_sink_counts.values()) if last else 0
            ),
            errors=[e["error"] for e in self._errors],
            errors_since_successful_run=len(self._errors),
        )

