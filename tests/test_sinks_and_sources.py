"""Sinks (templating/rotation/http chunking/log-analytics signing) and
sources (file offset resume, incremental watermark cursor)."""

import json
import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from collector_spark.functions.chunking import chunk_lines
from collector_spark.functions.signing import log_analytics_signature
from collector_spark.sinks.http_sinks import HttpSink, LogAnalyticsSink
from collector_spark.sinks.sinks import FileSink, ParquetSink
from collector_spark.sources.sources import FileSource, IncrementalSource


def test_chunk_lines_bfp_semantics():
    lines = ["a" * 10, "b" * 10, "c" * 10]
    chunks = list(chunk_lines(lines, max_bytes=25))
    assert chunks == [["a" * 10, "b" * 10], ["c" * 10]]
    # oversized single line flushes alone
    chunks = list(chunk_lines(["x" * 100, "y"], max_bytes=10))
    assert chunks == [["x" * 100], ["y"]]
    assert list(chunk_lines([], 10)) == []


def test_http_sink_posts_json_chunks(spark, tmp_path):
    posts = []

    def fake_poster(url, body, headers):
        # executor-side in local mode shares the filesystem
        with open(tmp_path / f"post_{len(os.listdir(tmp_path))}.json", "wb") as f:
            f.write(body)
        return 200

    rows = [(json.dumps({"i": i}),) for i in range(50)] + [("not json",), ("",)]
    df = spark.createDataFrame(rows, ["value"]).coalesce(1)
    sink = HttpSink("http://example.invalid/logs", as_json=True, max_size_kb=1, poster=fake_poster)
    n = sink.write(df)
    assert n == 51  # empty line dropped; 'not json' counted as line, skipped in body
    bodies = []
    for fname in sorted(os.listdir(tmp_path)):
        with open(tmp_path / fname) as f:
            bodies.extend(json.load(f))
    assert sorted(b["i"] for b in bodies if "i" in b) == list(range(50))


def test_http_sink_multipart_envelope(spark, tmp_path):
    """as_multi_part=true → each chunk POSTed as a multipart/form-data
    file upload named <base>-p<part>_part-<n>.log (http.go:61-123)."""
    import re

    def fake_poster(url, body, headers):
        idx = len([f for f in os.listdir(tmp_path) if f.startswith("mp_")])
        with open(tmp_path / f"mp_{idx}.bin", "wb") as f:
            f.write(body)
        with open(tmp_path / f"mp_{idx}.hdr", "w") as f:
            f.write(headers["Content-Type"])
        return 200

    rows = [(f"line-{i}",) for i in range(40)] + [("",)]
    df = spark.createDataFrame(rows, ["value"]).coalesce(1)
    sink = HttpSink(
        "http://example.invalid/up",
        as_multi_part=True,
        max_size_kb=1,
        poster=fake_poster,
    )
    n = sink.write(df, batch_id=3)
    assert n == 40

    parts = sorted(f for f in os.listdir(tmp_path) if f.endswith(".bin"))
    assert len(parts) >= 1
    all_lines = []
    for i, fname in enumerate(parts):
        body = (tmp_path / fname).read_bytes()
        ct = (tmp_path / fname.replace(".bin", ".hdr")).read_text()
        m = re.match(r"multipart/form-data; boundary=(\S+)", ct)
        assert m, ct
        boundary = m.group(1)
        assert body.startswith(f"--{boundary}\r\n".encode())
        assert body.endswith(f"\r\n--{boundary}--\r\n".encode())
        head, _, rest = body.partition(b"\r\n\r\n")
        assert b'Content-Disposition: form-data; name="file"' in head
        assert re.search(rb'filename="batch_3-p\d+_part-\d+\.log"', head)
        content = rest.rsplit(f"\r\n--{boundary}--\r\n".encode(), 1)[0]
        all_lines.extend(content.decode().splitlines())
    assert sorted(all_lines) == sorted(f"line-{i}" for i in range(40))


def test_http_sink_bounded_retry(spark, tmp_path):
    """Flaky endpoint: first two POSTs fail, third succeeds — the sink
    retries (the reference's 3-attempt loop, log_analytics.go:186,
    s3.go:38) with the tally surfaced in last_metrics; a permanently
    failing endpoint exhausts its attempts and raises."""

    def flaky_poster(url, body, headers):
        n = len([f for f in os.listdir(tmp_path) if f.startswith("try_")])
        open(tmp_path / f"try_{n}", "w").close()
        if n < 2:
            raise RuntimeError("503 service unavailable")
        return 200

    df = spark.createDataFrame([("hello",), ("world",)], ["value"]).coalesce(1)
    sink = HttpSink("http://example.invalid/x", poster=flaky_poster, retry_wait=0)
    n = sink.write(df)
    assert n == 2
    assert sink.last_metrics == {"written": 2, "empty": 0, "retries": 2}
    assert len([f for f in os.listdir(tmp_path) if f.startswith("try_")]) == 3

    def dead_poster(url, body, headers):
        raise RuntimeError("always down")

    sink2 = HttpSink("http://example.invalid/x", poster=dead_poster, retry_wait=0)
    with pytest.raises(Exception, match="always down"):
        sink2.write(df)


def test_http_sink_rejects_conflicting_modes():
    import pytest

    with pytest.raises(ValueError):
        HttpSink("http://x", as_json=True, as_multi_part=True)


def test_pubsub_sink_publishes_per_row_with_injected_publisher(spark, tmp_path):
    """Fake-publisher e2e (pubsub.go:60-122): per-row publish, empty
    lines skipped+tallied, a failed publish skipped without failing the
    batch and NOT counted."""
    from collector_spark.sinks.http_sinks import PubSubSink

    def fake_publisher(topic_path, data):
        if data == b"poison":
            raise RuntimeError("publish failed")
        idx = len(os.listdir(tmp_path))
        with open(tmp_path / f"msg_{idx}", "wb") as f:
            f.write(topic_path.encode() + b"\n" + data)

    rows = [("a",), ("",), ("poison",), ("b",), (None,)]
    df = spark.createDataFrame(rows, "value string").coalesce(1)
    sink = PubSubSink("proj", "topic", publisher=fake_publisher)
    n = sink.write(df, batch_id=0)
    assert n == 2
    assert sink.last_metrics == {"written": 2, "empty": 2}
    msgs = sorted(
        (tmp_path / f).read_bytes().split(b"\n", 1) for f in os.listdir(tmp_path)
    )
    assert [m[1] for m in msgs] == [b"a", b"b"]
    assert all(m[0] == b"projects/proj/topics/topic" for m in msgs)


def test_log_analytics_sink_buffers_and_signs(spark, tmp_path):
    captured = []

    def fake_poster(url, body, headers):
        with open(tmp_path / f"la_{len(os.listdir(tmp_path))}.json", "wb") as f:
            f.write(body + b"\n###" + json.dumps(headers).encode())
        return 200

    df = spark.createDataFrame(
        [('{"a": 1}',), ("plain text line",)], ["value"]
    ).coalesce(1)
    sink = LogAnalyticsSink(
        workspace_id="w", primary_key="c2VjcmV0", log_type="MyLog", poster=fake_poster
    )
    n = sink.write(df)
    assert n == 2
    files = sorted(os.listdir(tmp_path))
    body, hdrs = open(tmp_path / files[0], "rb").read().split(b"\n###")
    entries = json.loads(body)
    assert {"a": 1} in entries and {"message": "plain text line"} in entries
    headers = json.loads(hdrs)
    assert headers["Authorization"].startswith("SharedKey w:")
    assert headers["Log-Type"] == "MyLog"


def test_log_analytics_signature_stable():
    sig = log_analytics_signature("ws", "a2V5", 100, "Mon, 04 Apr 2022 10:00:00 GMT")
    assert sig == log_analytics_signature("ws", "a2V5", 100, "Mon, 04 Apr 2022 10:00:00 GMT")
    assert sig.startswith("SharedKey ws:")


def test_file_sink_templated_path_and_rotation(spark, tmp_path):
    df = spark.createDataFrame([(f"line{i}",) for i in range(100)], ["value"])
    sink = FileSink(path=str(tmp_path / "%year%" / "out"), max_records_per_file=10)
    n = sink.write(df, batch_id=7)
    assert n == 100
    year = datetime.now(timezone.utc).strftime("%Y")
    target = tmp_path / year / "out" / "batch_id=7"
    assert target.exists()
    parts = [f for f in os.listdir(target) if f.startswith("part-")]
    assert len(parts) >= 10  # rotation via maxRecordsPerFile


def test_file_sink_counts_from_write_action_and_empty_metric(spark, tmp_path):
    """Counts come from observe on the write action (no re-read of the
    target); empty/whitespace lines are filtered AND surfaced as the
    reference's per-output empty-line diagnostic count
    (log_analytics.go:133-135)."""
    rows = [("a",), ("",), ("   ",), ("b",), (None,)]
    df = spark.createDataFrame(rows, "value string")
    sink = FileSink(path=str(tmp_path / "out"))
    n = sink.write(df, batch_id=0)
    assert n == 2
    assert sink.last_metrics == {"written": 2, "empty": 3}
    got = sorted(
        r.value for r in spark.read.text(str(tmp_path / "out" / "batch_id=0")).collect()
    )
    assert got == ["a", "b"]


def test_file_source_offset_resume(spark, tmp_path):
    log = tmp_path / "app.log"
    log.write_text("one\ntwo\n")
    src = FileSource(str(tmp_path / "*.log"))
    df, state = src.read_new(spark, None)
    assert sorted(r.value for r in df.collect()) == ["one", "two"]
    # append → only new lines on next read
    with open(log, "a") as f:
        f.write("three\n")
    df2, state2 = src.read_new(spark, state)
    assert [r.value for r in df2.collect()] == ["three"]
    # truncation → offset reset (reference read.go:30-36)
    log.write_text("fresh\n")
    df3, _ = src.read_new(spark, state2)
    assert [r.value for r in df3.collect()] == ["fresh"]


def test_incremental_source_watermark_cursor(spark, tmp_path, sf_dir):
    src = IncrementalSource(f"{sf_dir}/events.parquet", ts_col="ts")
    df1, state1 = src.read_new(spark, None)
    total = df1.count()
    assert total > 0
    assert state1["last_ts"] is not None
    # nothing new on re-read with the advanced cursor
    df2, state2 = src.read_new(spark, state1)
    assert df2.count() == 0
    assert state2["last_ts"] == state1["last_ts"]


def test_http_poller_source_pagination_and_cursor(spark):
    """msgraph semantics: paginate with $skiptoken-style continuation,
    advance cursor only on full-window success (msgraph.go:105-132)."""
    from collector_spark.sources.sources import HttpPollerSource

    calls = []

    def fetcher(start, end, token):
        calls.append((start, end, token))
        if token is None:
            return [{"id": 1}, {"id": 2}], "page2"
        return [{"id": 3}], None

    src = HttpPollerSource(fetcher, now_fn=lambda: "2024-06-01T00:00:00")
    df, state = src.read_new(spark, None)
    vals = sorted(r.value for r in df.collect())
    assert vals == ['{"id":1}', '{"id":2}', '{"id":3}']  # compacted JSON
    assert state == {"last_ts": "2024-06-01T00:00:00"}
    assert [c[2] for c in calls] == [None, "page2"]
    # next window starts at the committed cursor
    calls.clear()
    src2 = HttpPollerSource(
        lambda s, e, t: ([], None), now_fn=lambda: "2024-06-02T00:00:00"
    )
    df2, state2 = src2.read_new(spark, state)
    assert df2.count() == 0 and state2 == {"last_ts": "2024-06-02T00:00:00"}


def test_http_poller_source_failed_window_keeps_cursor(spark):
    from collector_spark.sources.sources import HttpPollerSource

    def flaky(start, end, token):
        if token is None:
            return [{"id": 1}], "page2"
        raise ConnectionError("boom")

    src = HttpPollerSource(flaky, now_fn=lambda: "2024-06-01T00:00:00")
    df, state = src.read_new(spark, {"last_ts": "2024-05-01T00:00:00"})
    # partial failure → no rows emitted, cursor NOT advanced
    assert df.count() == 0
    assert state == {"last_ts": "2024-05-01T00:00:00"}


def test_oauth_token_provider_lifecycle():
    """client.go:41-55,89-141 semantics: first use logs in (expiry is
    seeded to now), a live token is reused without a login, an expired
    token triggers exactly one refresh, garbled expires_in falls back
    to 29 minutes, and login retries up to 3 extra attempts."""
    from collector_spark.sources.sources import OAuthTokenProvider

    clock = {"t": 1000.0}
    logins = []

    def login():
        logins.append(clock["t"])
        return {"access_token": f"tok{len(logins)}", "expires_in": "60"}

    p = OAuthTokenProvider(login, now_fn=lambda: clock["t"])
    assert p.token() == "tok1" and len(logins) == 1
    clock["t"] += 59
    assert p.token() == "tok1" and len(logins) == 1  # still live: no login
    clock["t"] += 1  # exactly at expiry → refresh
    assert p.token() == "tok2" and len(logins) == 2

    # garbled expires_in → 29-minute fallback (client.go:120-125)
    p2 = OAuthTokenProvider(
        lambda: {"access_token": "x", "expires_in": "soon"},
        now_fn=lambda: clock["t"],
    )
    assert p2.token() == "x"
    assert p2._expires == clock["t"] + 29 * 60

    # transient login failures are retried (resty SetRetryCount(3))
    attempts = []

    def flaky_login():
        attempts.append(1)
        if len(attempts) < 3:
            raise ConnectionError("boom")
        return {"access_token": "ok", "expires_in": 10}

    p3 = OAuthTokenProvider(flaky_login, now_fn=lambda: clock["t"])
    assert p3.token() == "ok" and len(attempts) == 3

    # persistent failure propagates after 1+retries attempts
    import pytest as _pytest

    bad_attempts = []

    def dead_login():
        bad_attempts.append(1)
        raise ConnectionError("still down")

    p4 = OAuthTokenProvider(dead_login, now_fn=lambda: clock["t"])
    with _pytest.raises(ConnectionError):
        p4.token()
    assert len(bad_attempts) == 4


def test_http_poller_refreshes_expired_token_and_fails_window_on_dead_login(spark):
    """Poller + token lifecycle end-to-end: expired token → one refresh
    between pages; the cursor still advances only on full-window
    success, and a dead login fails the window with the cursor kept."""
    from collector_spark.sources.sources import HttpPollerSource, OAuthTokenProvider

    clock = {"t": 0.0}
    logins = []

    def login():
        logins.append(1)
        return {"access_token": f"tok{len(logins)}", "expires_in": 100}

    provider = OAuthTokenProvider(login, now_fn=lambda: clock["t"])
    seen_bearers = []

    def fetcher(start, end, token, bearer):
        seen_bearers.append(bearer)
        clock["t"] += 150  # token expires between pages
        if token is None:
            return [{"id": 1}], "page2"
        return [{"id": 2}], None

    src = HttpPollerSource(
        fetcher, now_fn=lambda: "2024-06-01T00:00:00", token_provider=provider
    )
    df, state = src.read_new(spark, None)
    assert df.count() == 2
    assert state == {"last_ts": "2024-06-01T00:00:00"}
    assert seen_bearers == ["tok1", "tok2"]  # page 2 used the refreshed token
    assert len(logins) == 2

    # dead login → whole window fails, cursor unchanged
    def dead_login():
        raise ConnectionError("auth down")

    src2 = HttpPollerSource(
        lambda s, e, t, b: ([{"id": 9}], None),
        now_fn=lambda: "2024-06-02T00:00:00",
        token_provider=OAuthTokenProvider(dead_login, now_fn=lambda: 0.0),
    )
    df2, state2 = src2.read_new(spark, {"last_ts": "2024-06-01T00:00:00"})
    assert df2.count() == 0
    assert state2 == {"last_ts": "2024-06-01T00:00:00"}


def test_queue_poller_source_drains_and_drops_empty(spark):
    from collector_spark.sources.sources import QueuePollerSource

    queue = [["a", "", None, "b"], ["c"], []]

    def receiver(n):
        return queue.pop(0) if queue else []

    src = QueuePollerSource(receiver, max_messages=4)
    df, state = src.read_new(spark, None)
    # first poll returns 4 (full) → poll again; second short → stop
    assert sorted(r.value for r in df.collect()) == ["a", "b", "c"]
    assert state["polled"] == 3
    assert queue == [[]]  # third poll never issued


def test_file_source_spills_large_tails_off_driver(spark, tmp_path):
    """Tails above max_driver_bytes are stream-copied to a spill file and
    read back distributed (spark.read.text) — never held in driver RAM.
    Offsets, shrink-reset, and content match the driver-side path."""
    log = tmp_path / "big.log"
    log.write_text("".join(f"row-{i}\n" for i in range(100)) + "  \n")
    src = FileSource(
        str(tmp_path / "*.log"),
        max_driver_bytes=16,  # force the spill path
        spill_dir=str(tmp_path / "spill"),  # created by the constructor
    )
    df, state = src.read_new(spark, None)
    got = sorted(r.value for r in df.collect())
    assert got == sorted(f"row-{i}" for i in range(100))  # blank line dropped
    assert state[str(log)] == log.stat().st_size
    assert any(f.startswith("tail_") for f in os.listdir(tmp_path / "spill"))

    # nothing new → empty read; spill files from last tick cleaned up
    df2, state2 = src.read_new(spark, state)
    assert df2.count() == 0
    assert not any(f.startswith("tail_") for f in os.listdir(tmp_path / "spill"))

    # append a small tail → driver path resumes from the byte offset
    with open(log, "a") as f:
        f.write("row-100\n")
    df3, state3 = src.read_new(spark, state2)
    assert [r.value for r in df3.collect()] == ["row-100"]


def test_file_source_default_spill_dir_made_on_first_spill(spark, tmp_path, monkeypatch):
    """Without a ``spill_dir`` no directory exists until a tail spills;
    the first spill makes one temp dir and later reads reuse it."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()

    def spill_dirs():
        return [d for d in os.listdir(tmp_path / "tmp") if d.startswith("collector_spark_spill_")]

    log = tmp_path / "a.log"
    log.write_text("small\n")
    src = FileSource(str(tmp_path / "*.log"), max_driver_bytes=16)
    _, state = src.read_new(spark, None)
    src.commit_read(True)
    assert src.spill_dir is None and spill_dirs() == []
    with open(log, "a") as f:
        f.write("".join(f"row-{i}\n" for i in range(10)))
    df, state = src.read_new(spark, state)
    assert df.count() == 10
    spill_dir = src.spill_dir
    assert spill_dirs() == [os.path.basename(spill_dir)]
    src.commit_read(True)
    with open(log, "a") as f:
        f.write("".join(f"row-{i}\n" for i in range(10, 20)))
    assert src.read_new(spark, state)[0].count() == 10
    assert src.spill_dir == spill_dir


def test_file_source_delete_deferred_to_commit(spark, tmp_path):
    """delete=True removes a consumed file only after commit_read(True);
    a failed batch keeps it so the un-advanced offset re-reads (the
    at-least-once contract — a spilled tail must never be the only copy)."""
    log = tmp_path / "a.log"
    log.write_text("x\ny\n")
    src = FileSource(str(tmp_path / "*.log"), delete=True)
    df, state = src.read_new(spark, None)
    assert df.count() == 2
    assert log.exists()  # not yet deleted
    src.commit_read(False)  # batch failed → file must survive
    assert log.exists()
    df2, state2 = src.read_new(spark, None)  # re-read from scratch
    assert df2.count() == 2
    src.commit_read(True)  # committed → now it goes
    assert not log.exists()


def test_file_source_delete_mode_persists_no_offset_for_recreated_file(
    spark, tmp_path
):
    """Delete mode keeps NO state entry (reference stores state only in
    non-delete mode): a recreated same-named file (log rotation) must be
    read from byte 0 even after restarts or failed batches — a persisted
    stale offset would silently skip its head when the new size exceeds
    the old offset (data loss; at-least-once allows dupes, never loss)."""
    log = tmp_path / "a.log"
    log.write_text("one\ntwo\n")
    src = FileSource(str(tmp_path / "*.log"), delete=True)
    df, state = src.read_new(spark, None)
    assert df.count() == 2
    assert str(log) not in state  # nothing to go stale
    src.commit_read(True)
    assert not log.exists()
    # recreated LARGER than the old 8-byte offset; a fresh source object
    # simulates a restart (only the committed state survives)
    log.write_text("alpha\nbeta\ngamma\n")
    src2 = FileSource(str(tmp_path / "*.log"), delete=True)
    df2, _ = src2.read_new(spark, state)
    assert sorted(r.value for r in df2.collect()) == ["alpha", "beta", "gamma"]


def test_run_tick_does_not_ack_failed_dropped_batch_without_manifest(spark, tmp_path):
    """With no manifest, a swallowed sink failure (on_error='drop') must
    still be treated as uncommitted — receipts are NOT acked."""
    from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
    from collector_spark.sources.sources import QueuePollerSource

    queue = [[("r1", "a")]]
    acked: list = []
    src = QueuePollerSource(
        (lambda n: queue.pop(0) if queue else []), acker=acked.extend, max_messages=10
    )

    class BoomSink:
        def write(self, df, batch_id=None):
            raise RuntimeError("boom")

    config = PipelineConfig(
        instance_id="q2",
        sinks=[SinkSpec("out", "file", None, {"path": str(tmp_path / "out")})],
    )
    pipe = Pipeline(config, state_dir=None)  # manifest-less
    pipe.source = src
    pipe.sinks["out"] = BoomSink()
    rec = pipe.run_tick(spark, on_error="drop")
    assert rec.failed
    assert acked == []


def test_queue_poller_acks_only_after_commit(spark, tmp_path):
    """At-least-once with receipt handles: messages are acked only when
    the Pipeline commits the batch (reference delete-after-handle,
    sqs.go:129-155); a failed batch leaves them unacked for redelivery."""
    from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
    from collector_spark.sources.sources import QueuePollerSource

    queue = [[("r1", "a"), ("r2", ""), ("r3", "b")]]
    acked: list = []

    def receiver(n):
        return queue.pop(0) if queue else []

    src = QueuePollerSource(receiver, acker=acked.extend, max_messages=10)
    config = PipelineConfig(
        instance_id="q1",
        sinks=[SinkSpec("out", "file", None, {"path": str(tmp_path / "out")})],
    )
    pipe = Pipeline(config, state_dir=str(tmp_path / "state"))
    pipe.source = src

    rec = pipe.run_tick(spark)
    assert rec.per_sink_counts == {"out": 2}
    assert acked == ["r1", "r2", "r3"]  # empty body still acked (deleted)

    # failed batch → nothing acked, receipts dropped for redelivery
    class BoomSink:
        def write(self, df, batch_id=None):
            raise RuntimeError("boom")

    queue.append([("r4", "c")])
    acked.clear()
    pipe.sinks["out"] = BoomSink()
    rec2 = pipe.run_tick(spark, on_error="drop")
    assert acked == []
    assert src._pending_receipts == []


def test_s3_gcs_sinks_path_and_modes(spark, tmp_path):
    from collector_spark.sinks.sinks import GcsSink, S3Sink

    df = spark.createDataFrame([("x",), ("y",), (" ",)], ["value"])
    s3 = S3Sink(bucket=str(tmp_path / "bkt"), path="logs/%year%/out",
                gzip=True, scheme="file")
    n = s3.write(df, batch_id=0)
    assert n == 2  # blank line dropped (tmp_writer.go:54-56)
    year = datetime.now(timezone.utc).strftime("%Y")
    target = tmp_path / "bkt" / "logs" / year / "out" / "batch_id=0"
    assert any(f.endswith(".gz") for f in os.listdir(target) if f.startswith("part-"))

    gcs = GcsSink(bucket=str(tmp_path / "gbkt"), path="obj",
                  composite=True, scheme="file")
    assert gcs.write(df) == 2
    assert gcs.write(df) == 2  # composite append accumulates
    obj = tmp_path / "gbkt" / "obj"
    assert spark.read.text(str(obj)).count() == 4


def test_source_registry_aliases():
    from collector_spark.sources.sources import (
        HttpPollerSource,
        QueuePollerSource,
        make_source,
    )

    assert isinstance(make_source("msgraph", fetcher=lambda s, e, t: ([], None)), HttpPollerSource)
    assert isinstance(make_source("sqs", receiver=lambda n: []), QueuePollerSource)
    assert isinstance(make_source("pubsub", receiver=lambda n: []), QueuePollerSource)
    with pytest.raises(ValueError):
        make_source("nope")


def test_parquet_sink_partition_by(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], ["id", "part"]
    )
    sink = ParquetSink(path=str(tmp_path / "p"), partition_by=("part",))
    n = sink.write(df, batch_id=0)
    assert n == 3
    assert (tmp_path / "p" / "batch_id=0" / "part=a").exists()


def test_gcs_composite_batch_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay of an UNCOMMITTED batch must not duplicate
    composite-append output: each batch's part is a batch-keyed subdir
    written with overwrite (a bare append to the prefix doubled rows)."""
    from collector_spark.sinks.sinks import GcsSink

    df = spark.createDataFrame([("x",), ("y",)], ["value"])
    gcs = GcsSink(bucket=str(tmp_path / "g"), path="obj",
                  composite=True, scheme="file")
    assert gcs.write(df, batch_id=3) == 2
    assert gcs.write(df, batch_id=3) == 2  # replay of the same batch
    assert gcs.write(df, batch_id=4) == 2  # next batch appends a new part
    obj = str(tmp_path / "g" / "obj")
    assert spark.read.text(f"{obj}/part_batch_id=*").count() == 4


def test_gcs_composite_concurrent_same_batch_ticks(spark, tmp_path):
    """Two ticks RACING on the same batch id (zombie trigger + restart
    replay, the gcs.go:67-153 object-compose analog): whatever the
    interleaving, the batch-keyed overwrite must converge to exactly the
    batch's rows — never an append-doubling. A tick that loses the race
    (overwrite colliding with a concurrent delete) may error; the
    streaming retry (one more write) must then land the exact rows."""
    import threading

    from collector_spark.sinks.sinks import GcsSink

    df = spark.createDataFrame([("x",), ("y",), ("z",)], ["value"])
    gcs = GcsSink(bucket=str(tmp_path / "g"), path="obj",
                  composite=True, scheme="file")
    errors = []

    def tick():
        try:
            gcs.write(df, batch_id=7)
        except Exception as exc:  # noqa: BLE001 — loser of the race
            errors.append(exc)

    threads = [threading.Thread(target=tick) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(errors) <= 1  # at least one tick must win
    if errors:
        gcs.write(df, batch_id=7)  # the streaming retry
    obj = str(tmp_path / "g" / "obj")
    vals = sorted(r.value for r in spark.read.text(f"{obj}/part_batch_id=7").collect())
    assert vals == ["x", "y", "z"]  # exactly once — no dupes, no loss


def test_gcs_publish_raises_on_spurious_rename_failure(spark, tmp_path):
    """A rename that fails for a reason other than losing the race must
    raise instead of silently dropping the batch part — otherwise rows
    are reported written that no reader can see. Local FS raises from
    rename itself (propagates); stores whose rename returns false hit
    the explicit exists(final) guard. Either way: never silent."""
    import os

    import pytest

    from collector_spark.sinks.sinks import GcsSink

    tmp = str(tmp_path / "tickdir")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-0"), "w") as f:
        f.write("x\n")
    # destination parent is a regular FILE → rename cannot succeed and
    # no concurrent winner can have published the part
    with open(str(tmp_path / "parentfile"), "w") as f:
        f.write("")
    final = str(tmp_path / "parentfile" / "part_batch_id=1")
    with pytest.raises(Exception, match="publish failed|ParentNotDirectory"):
        GcsSink._publish_by_rename(spark, f"file:{tmp}", f"file:{final}")
    assert not os.path.exists(final)


def test_sink_empty_count_uses_whitespace_class(spark, tmp_path):
    """Tab/CR-only values are EMPTY like the reference's TrimSpace'd
    lines — F.trim (spaces only) used to count '\\t' as written."""
    from collector_spark.sinks.sinks import FileSink

    df = spark.createDataFrame([("x",), ("\t",), ("  ",), ("\r",)], ["value"])
    sink = FileSink(path=str(tmp_path / "o"))
    assert sink.write(df, batch_id=0) == 1
    assert sink.last_metrics == {"written": 1, "empty": 3}


def test_sink_time_template_pinned_per_batch(tmp_path):
    """target() resolves %time% templates once per batch id, so an
    in-process retry writes the SAME location even if the wall clock
    crossed an hour boundary between attempts."""
    from collector_spark.sinks.sinks import FileSink

    sink = FileSink(path=str(tmp_path / "%year%/%month%/%day%/%hour%/o"))
    first = sink.target(7)
    sink._resolved[7] = sink._resolved[7]  # cache populated
    assert sink.target(7) == first
    assert sink.target(8).split("batch_id=")[0] is not None  # new id re-resolves


def test_incremental_source_schema_evolution(spark, tmp_path):
    """A field added upstream appears only in NEWER files; the
    incremental read must surface it (older rows NULL) instead of
    silently dropping it to whichever file's schema sampled first."""
    import datetime

    p = str(tmp_path / "t")
    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 1, 2)
    spark.createDataFrame([(1, t0)], "id long, ts timestamp").write.mode(
        "append"
    ).parquet(p)
    spark.createDataFrame(
        [(2, t1, "new-field")], "id long, ts timestamp, extra string"
    ).write.mode("append").parquet(p)

    src = IncrementalSource(p, ts_col="ts")
    df, state = src.read_new(spark, None)
    assert "extra" in df.columns
    rows = {r.id: r.extra for r in df.collect()}
    assert rows == {1: None, 2: "new-field"}
    assert state["last_ts"].startswith("2024-01-02")

    # cursor advance still works across the evolved schema
    df2, _ = src.read_new(spark, state)
    assert df2.count() == 0
