"""Manifest commit path: an append-only JSON-lines log read once per
handle. Pins the torn-tail rule, rollback of a failed append, the O(1)
commit structure (no re-parse, no rewrite), agreement between the
writer's in-memory view and a fresh reader, and four rows of the tick
crash-point matrix on a file-source pipeline with a quarantine sink."""

import errno
import json
import os

import pytest

from collector_spark import checkpoint
from collector_spark.checkpoint import BatchRecord, Manifest


def _lines(path: str) -> list[dict]:
    """Every line of the log, parsed — fails on a torn or corrupt line."""
    with open(path, "rb") as f:
        data = f.read()
    assert data.endswith(b"\n")
    return [json.loads(line) for line in data.splitlines()]


def _commit_all(m: Manifest, ids) -> None:
    for b in ids:
        m.commit(BatchRecord(batch_id=b, source_state={"off": b * 10}))


@pytest.mark.parametrize(
    "tail",
    [b'{"batch_id":3,"source_sta', b'{"batch_id":3,"source_state":{"off":30}}'],
    ids=["unparseable", "unterminated"],
)
def test_torn_tail_is_uncommitted_and_truncated_by_next_commit(tmp_path, tail):
    """A crash mid-append leaves a last line with no newline: the batch
    it held is not committed (it replays), and the next commit leaves a
    log that parses line by line."""
    state = str(tmp_path / "state")
    _commit_all(Manifest(state, "torn"), range(3))
    m = Manifest(state, "torn")
    with open(m.path, "ab") as f:
        f.write(tail)

    assert m.last_batch_id() == 2
    assert not m.committed(3)
    assert m.last_state() == {"off": 20}
    assert [r.batch_id for r in m.load()] == [0, 1, 2]

    m.commit(BatchRecord(batch_id=3, source_state={"off": 33}))
    assert [e["batch_id"] for e in _lines(m.path)] == [0, 1, 2, 3]
    fresh = Manifest(state, "torn")
    assert [r.batch_id for r in fresh.load()] == [0, 1, 2, 3]
    assert fresh.last_state() == {"off": 33}


@pytest.mark.parametrize("fail_at", ["write", "fsync"])
def test_failed_commit_leaves_no_trace(tmp_path, monkeypatch, fail_at):
    """An append that raises (half the line written, or all of it but
    the fsync fails) commits nothing: not in the writer's memory, not
    for a fresh reader, and a retry appends one clean line."""
    state = str(tmp_path / "state")
    m = Manifest(state, "fail")
    _commit_all(m, range(3))
    real_write = os.write

    def torn_write(fd, data):
        real_write(fd, bytes(data[: len(data) // 2]))
        raise OSError(errno.ENOSPC, "no space left")

    def failed_fsync(fd):
        raise OSError(errno.EIO, "fsync failed")

    with monkeypatch.context() as patch:
        if fail_at == "write":
            patch.setattr(checkpoint.os, "write", torn_write)
        else:
            patch.setattr(checkpoint.os, "fsync", failed_fsync)
        with pytest.raises(OSError):
            m.commit(BatchRecord(batch_id=3, source_state={"off": 30}))

    for handle in (m, Manifest(state, "fail")):
        assert not handle.committed(3)
        assert handle.last_batch_id() == 2
        assert handle.last_state() == {"off": 20}
    assert [e["batch_id"] for e in _lines(m.path)] == [0, 1, 2]

    m.commit(BatchRecord(batch_id=3, source_state={"off": 30}))
    assert [e["batch_id"] for e in _lines(m.path)] == [0, 1, 2, 3]
    assert Manifest(state, "fail").last_state() == {"off": 30}


def test_commit_path_is_constant_time(tmp_path, monkeypatch):
    """After the first call has loaded the log, the tick's manifest calls
    parse no existing line, never replace the file, and each commit grows
    it by exactly one line — so their cost does not depend on history."""
    state = str(tmp_path / "state")
    m = Manifest(state, "big")
    n = 20_000
    with open(m.path, "w") as f:
        for b in range(n):
            rec = BatchRecord(batch_id=b, source_state={"off": b}, committed_at=float(b))
            f.write(json.dumps(rec.__dict__, separators=(",", ":")) + "\n")
    assert m.last_batch_id() == n - 1  # the one load

    calls = {"loads": 0, "replace": 0}
    real_loads, real_replace = checkpoint.json.loads, os.replace

    def counting_loads(*a, **k):
        calls["loads"] += 1
        return real_loads(*a, **k)

    def counting_replace(*a, **k):
        calls["replace"] += 1
        return real_replace(*a, **k)

    monkeypatch.setattr(checkpoint.json, "loads", counting_loads)
    monkeypatch.setattr(checkpoint.os, "replace", counting_replace)
    for k in range(5):
        state_now = m.last_state()
        b = m.last_batch_id() + 1
        assert not m.committed(b)
        m.commit(BatchRecord(batch_id=b, source_state={"off": state_now["off"] + 1}))
        assert m.committed(b)
        assert m.status().last_successful_result_count == 0
        with open(m.path, "rb") as f:
            assert sum(1 for _ in f) == n + k + 1
    assert calls == {"loads": 0, "replace": 0}
    monkeypatch.undo()
    assert Manifest(state, "big").last_state() == {"off": n + 4}


def test_fresh_handle_agrees_with_writer_after_replay(tmp_path):
    """A reader opened on the writer's path sees exactly what the writer
    holds: commit order with the replayed batch last, the resume token of
    the highest id, and the same status roll-up."""
    state = str(tmp_path / "state")
    w = Manifest(state, "coherent")
    for b in range(5):
        w.commit(BatchRecord(batch_id=b, source_state={"off": b}, per_sink_counts={"out": b}))
    w.record_error(5, "RuntimeError: boom")
    w.commit(BatchRecord(batch_id=1, source_state={"off": 99}, per_sink_counts={"out": 7}))
    w.record_error(5, "RuntimeError: again")

    r = Manifest(state, "coherent")
    assert [x.batch_id for x in w.load()] == [0, 2, 3, 4, 1]
    assert r.load() == w.load()
    assert r.last_state() == w.last_state() == {"off": 4}
    assert r.last_batch_id() == w.last_batch_id() == 4
    assert r.status() == w.status()
    assert w.status().last_successful_result_count == 7
    assert w.status().errors == ["RuntimeError: again"]


def test_tick_crash_points_converge_to_exactly_once(spark, tmp_path, monkeypatch):
    """Crash-point matrix on a file-source pipeline whose every sink the
    driver writes: a parquet sink, a text sink and a parquet quarantine
    for the malformed lines.
    (1) the sinks wrote but the commit failed → the next tick reuses the
    batch id and offset and overwrites, so ``batch_id=N`` holds each line
    once; (2) the routed driver writes ran, the dead-letter write did
    not; (3) a writer's files sit in its hidden temp directory, not yet
    renamed into place (as a killed writer leaves it), for the text sink
    (3a) and for the routed parquet sink (3b) → a read skips it, and the
    rerun publishes the batch and clears it; (4) the commit landed but
    the source ack failed → the next tick moves on to N+1 and no row is
    duplicated. No hidden ``.batch_id=N.tmp*`` survives a rerun."""
    from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
    from collector_spark.sinks import sinks

    log = tmp_path / "app.log"
    out = tmp_path / "out"
    text = tmp_path / "text"
    quarantine = tmp_path / "q"
    state = str(tmp_path / "state")

    def append(ids):
        with open(log, "a") as f:
            f.writelines(json.dumps({"i": i}) + f"\nbad {i}\n" for i in ids)

    def rows(batch_id):
        """The batch's ids in the parquet sink and in the text sink."""
        df = spark.read.parquet(str(out / f"batch_id={batch_id}"))
        ids = sorted(json.loads(r.value)["i"] for r in df.collect())
        lines = spark.read.text(str(text / f"batch_id={batch_id}")).collect()
        assert sorted(json.loads(r.value)["i"] for r in lines) == ids
        return ids

    def everything(root, read):
        return sorted(
            json.loads(r.value)["i"] for r in read(str(root)).collect() if r.value.startswith("{")
        )

    def dead_letters():
        """Every quarantined line, read from the sink's root."""
        return sorted(int(r.value.split()[1]) for r in spark.read.parquet(str(quarantine)).collect())

    def hidden(root=None):
        roots = [root] if root else [out, text, quarantine]
        return [n for r in roots for n in os.listdir(r) if n.startswith(".")]

    pipe = Pipeline(
        PipelineConfig(
            instance_id="crash",
            input={"kind": "file", "path": str(tmp_path / "*.log")},
            processors=[{"kind": "cel", "rules": ["has(event.i)"]}],
            sinks=[
                SinkSpec("out", "parquet", None, {"path": str(out)}),
                SinkSpec("text", "file", None, {"path": str(text)}),
            ],
            quarantine={"kind": "parquet", "path": str(quarantine)},
        ),
        state_dir=state,
    )
    assert pipe.quarantine_sink.takes_rows
    assert all(sink.takes_rows for sink in pipe.sinks.values())
    append(range(3))
    assert pipe.run_tick(spark).batch_id == 0
    offset0 = pipe.manifest.last_state()

    # (1) sinks written, commit fails
    append(range(3, 6))

    def crash_before_commit(record):
        raise RuntimeError("crash before commit")

    with monkeypatch.context() as patch:
        patch.setattr(pipe.manifest, "commit", crash_before_commit)
        with pytest.raises(RuntimeError, match="before commit"):
            pipe.run_tick(spark)
    assert rows(1) == [3, 4, 5]  # the sinks did write
    assert dead_letters() == list(range(6))
    for m in (pipe.manifest, Manifest(state, "crash")):
        assert not m.committed(1)
        assert m.last_state() == offset0
    r1 = pipe.run_tick(spark)
    assert r1.batch_id == 1
    assert r1.per_sink_counts == {"out": 3, "text": 3, "__quarantine__": 3}
    assert rows(1) == [3, 4, 5]
    assert dead_letters() == list(range(6))

    # (2) routed rows written by the driver, its dead-letter write never
    # starts
    append(range(6, 8))

    def crash_before_write_rows(table, batch_id=None):
        raise RuntimeError("crash before write_rows")

    with monkeypatch.context() as patch:
        patch.setattr(pipe.quarantine_sink, "write_rows", crash_before_write_rows)
        with pytest.raises(RuntimeError, match="before write_rows"):
            pipe.run_tick(spark)
    assert rows(2) == [6, 7]
    assert dead_letters() == list(range(6))
    assert not Manifest(state, "crash").committed(2)
    assert pipe.run_tick(spark).per_sink_counts == {"out": 2, "text": 2, "__quarantine__": 2}
    assert rows(2) == [6, 7]
    assert dead_letters() == list(range(8))
    assert hidden() == []

    # (3) one sink's temp directory is written, its rename never runs,
    # and the writer's own clean-up never runs either (a killed process)
    publish = sinks._replace_dir
    for batch_id, root in ((3, text), (4, out)):
        append(range(2 * batch_id + 2, 2 * batch_id + 4))

        def crash_before_rename(tmp, final, root=root):
            if final.startswith(str(root)):
                raise RuntimeError("crash before rename")
            publish(tmp, final)

        with monkeypatch.context() as patch:
            patch.setattr(sinks, "_replace_dir", crash_before_rename)
            patch.setattr(sinks.shutil, "rmtree", lambda *a, **k: None)
            with pytest.raises(RuntimeError, match="before rename"):
                pipe.run_tick(spark)
        leftover = hidden(root)
        assert len(leftover) == 1 and os.listdir(root / leftover[0])
        assert hidden() == leftover
        assert not (root / f"batch_id={batch_id}").exists()  # not read
        assert dead_letters() == list(range(2 * batch_id + 2))
        assert pipe.run_tick(spark).per_sink_counts == {"out": 2, "text": 2, "__quarantine__": 2}
        assert rows(batch_id) == [2 * batch_id + 2, 2 * batch_id + 3]
        assert dead_letters() == list(range(2 * batch_id + 4))
        assert hidden() == []  # the rerun cleared the killed writer's leftover

    # (4) commit landed, source ack fails
    append(range(12, 14))

    def crash_before_ack(success):
        raise RuntimeError("crash before ack")

    with monkeypatch.context() as patch:
        patch.setattr(pipe.source, "commit_read", crash_before_ack)
        with pytest.raises(RuntimeError, match="before ack"):
            pipe.run_tick(spark)
    assert Manifest(state, "crash").last_batch_id() == 5
    append(range(14, 16))
    r6 = pipe.run_tick(spark)
    assert r6.batch_id == 6
    assert rows(6) == [14, 15]
    assert sorted(i for b in range(7) for i in rows(b)) == list(range(16))
    assert everything(out, spark.read.parquet) == everything(text, spark.read.text) == list(range(16))
    assert dead_letters() == list(range(16))
    assert hidden() == []


def test_writer_refuses_a_log_that_shrank(tmp_path):
    """One writer per instance: if the log loses committed lines under a
    live writer (deleted or rewritten by someone else), the writer's
    memory no longer matches the file, so its next commit fails instead
    of appending to a log that forgot batches the writer counts as done."""
    state = str(tmp_path / "state")
    m = Manifest(state, "shrunk")
    _commit_all(m, range(2))
    os.remove(m.path)
    with pytest.raises(RuntimeError, match="shrank"):
        m.commit(BatchRecord(batch_id=2))
    assert Manifest(state, "shrunk").load() == []
