"""Batch sources: every source ticks through ``read_new(spark, state)
-> (df, new_state)``, and the manifest commits the state with the batch.

Mapping from the reference's inputs (internal/app/builtin.go:27-35):

| reference input | here                                                   |
|-----------------|--------------------------------------------------------|
| file            | FileSource — glob + per-file offset resume             |
|                 | (reference internal/input/file/file.go:58-134,         |
|                 | read.go:19-62, state.go:8-58)                          |
| syslog          | SyslogListenerSource (syslog_listener.py) — TCP/UDP    |
|                 | listener buffering lines between ticks                 |
| kafka           | KafkaSource — bounded batch read from the committed    |
|                 | offsets, headers via includeHeaders                    |
| pubsub / sqs    | QueuePollerSource — receive, ack after the commit      |
| msgraph         | IncrementalSource — watermark-cursor incremental batch |
|                 | read (timestamp > last_cursor), the Spark analog of    |
|                 | msgraph's LastTimestamp window pull                    |
|                 | (internal/input/msgraph/msgraph.go:90-222);            |
|                 | HttpPollerSource for the API pull itself               |
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re as _re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from collector_spark.operators.stage import json_trim
from collector_spark.session import driver_frame

#: edge whitespace stripped from input lines — one explicit class used by
#: BOTH the driver path and the spill path (str.strip() is broader than
#: F.trim, so the same line used to yield different values depending on
#: which path its tail took). \n is excluded: lines are already split.
_WS_EDGE = _re.compile(r"^[ \t\x0B\f\r]+|[ \t\x0B\f\r]+$")

LINES_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


def lines_frame(spark: SparkSession, lines: list[str]) -> DataFrame:
    """A batch of driver-side lines as a ``value string`` frame."""
    return driver_frame(spark, LINES_SCHEMA, lines)


class FileSource:
    """Batch file input with byte-offset resume per file.

    State: {file_path: file_position} exactly like the reference
    (internal/input/file/file.go state, state.go:8-58); offset resets to 0
    when a file shrank (read.go:30-36).

    Memory contract: small tails (≤ ``max_driver_bytes``) are read
    driver-side and handed to Spark as Arrow (``lines_frame``; they're
    the common steady-state tick).
    LARGER tails never materialize on the driver — they are stream-copied
    in bounded chunks to a local spill file (the reference's own
    TmpWriter architecture, pkg/core/tmp_writer.go) and read back with
    ``spark.read.text`` — distributed scan, driver RAM bounded at the
    copy-buffer size regardless of backlog.

    Cleanup/deletion ordering (at-least-once): consumed-source deletion
    (``delete=True``) and spill-file cleanup happen in ``commit_read``,
    which Pipeline.run_tick invokes AFTER the batch commits — a failed
    batch keeps the source file so the un-advanced offset re-reads it
    next tick. Callers driving ``read_new`` directly get the same
    behavior by calling ``commit_read(success)`` themselves (a fallback
    sweep at the start of the next read also clears stale spills).
    """

    _COPY_BUF = 8 * 1024 * 1024

    def __init__(
        self,
        path: str,
        delete: bool = False,
        max_driver_bytes: int = 64 * 1024 * 1024,
        spill_dir: str | None = None,
    ):
        self.path = path
        self.delete = delete
        self.max_driver_bytes = max_driver_bytes
        if spill_dir:
            os.makedirs(spill_dir, exist_ok=True)
        # None: a temp dir is made on the first spill, so a source that
        # never spills leaves no directory behind
        self.spill_dir = spill_dir or None
        self._spill_seq = 0
        self._pending_spills: list[str] = []
        self._pending_deletes: list[tuple[str, int]] = []

    def _spill_tail(self, fpath: str, offset: int, size: int) -> str:
        """Copy bytes [offset, size) to a spill file in bounded chunks."""
        if self.spill_dir is None:
            self.spill_dir = tempfile.mkdtemp(prefix="collector_spark_spill_")
        self._spill_seq += 1
        out_path = os.path.join(self.spill_dir, f"tail_{self._spill_seq}.txt")
        remaining = size - offset
        with open(fpath, "rb") as src, open(out_path, "wb") as dst:
            src.seek(offset)
            while remaining > 0:
                chunk = src.read(min(self._COPY_BUF, remaining))
                if not chunk:
                    break
                dst.write(chunk)
                remaining -= len(chunk)
        return out_path

    def _clean_spill(self) -> None:
        for fname in os.listdir(self.spill_dir) if self.spill_dir else ():
            if fname.startswith("tail_"):
                os.remove(os.path.join(self.spill_dir, fname))

    def commit_read(self, success: bool) -> None:
        """Called by Pipeline.run_tick after the batch commits (success)
        or fails. On success, consumed source files are deleted
        (delete=True semantics — deferred here so a failed batch keeps
        the data for the re-read) and this read's spill files removed.
        On failure only the spills go: the un-advanced offset re-reads
        the original file next tick.

        A file that GREW during the batch is NOT deleted — the committed
        offset (state keeps its entry) picks the appended tail up next
        tick; deletion happens once a tick ends with the file fully
        consumed and unchanged."""
        spills, self._pending_spills = self._pending_spills, []
        deletes, self._pending_deletes = self._pending_deletes, []
        for spath in spills:
            if os.path.exists(spath):
                os.remove(spath)
        if success:
            for fpath, consumed in deletes:
                if os.path.exists(fpath) and os.path.getsize(fpath) == consumed:
                    os.remove(fpath)

    def read_new(
        self, spark: SparkSession, state: dict | None
    ) -> tuple[DataFrame, dict]:
        state = dict(state or {})
        # sweep stale spills/deletes (commit_read normally already did);
        # safe because a failed batch re-reads from the SOURCE file — its
        # deletion is what's deferred to commit
        self._pending_spills = []
        self._pending_deletes = []
        self._clean_spill()
        lines: list[str] = []
        spilled: list[str] = []
        for fpath in sorted(_glob.glob(self.path)):
            size = os.path.getsize(fpath)
            offset = int(state.get(fpath, 0))
            if size < offset:
                offset = 0  # file shrank/rotated → restart (read.go:30-36)
            if size > offset:
                if size - offset > self.max_driver_bytes:
                    spilled.append(self._spill_tail(fpath, offset, size))
                    state[fpath] = size
                else:
                    with open(fpath, "rb") as f:
                        f.seek(offset)
                        chunk = f.read()
                    state[fpath] = offset + len(chunk)
                    for ln in chunk.decode("utf-8", errors="replace").split("\n"):
                        ln = _WS_EDGE.sub("", ln)  # same class as spill path
                        if ln:
                            lines.append(ln)
            if self.delete and size == state.get(fpath, 0):
                # deletion deferred to commit_read(True): a failed batch
                # must keep the file for the re-read (at-least-once).
                # Delete mode keeps NO state entry (reference behavior:
                # internal/input/file state exists only in non-delete
                # mode): a persisted offset for a deleted path would
                # silently skip the head of a same-named recreated file
                # (log rotation) after a failed batch or restart. The
                # cost is a duplicate re-read when the file GREW during
                # the batch (commit skips deleting a grown file and the
                # next tick restarts at byte 0) — at-least-once permits
                # duplicates, never loss.
                state.pop(fpath, None)
                self._pending_deletes.append((fpath, size))
        self._pending_spills.extend(spilled)
        df = lines_frame(spark, lines)
        if spilled:
            # same edge-whitespace class as the driver path (F.trim strips
            # spaces only — a tab-padded line would survive here but not
            # there, making row values depend on which path the tail took)
            big = (
                spark.read.text(spilled)
                .select(F.regexp_replace("value", _WS_EDGE.pattern, "").alias("value"))
                .filter(F.length("value") > 0)
            )
            df = df.unionAll(big)
        return df, state


class IncrementalSource:
    """Watermark-cursor incremental batch read over a timestamped table —
    the msgraph input's time-window pull (msgraph.go:90-222) generalized:
    read rows with ts in (last_cursor, now], advance cursor only after the
    batch commits (the Pipeline/manifest handles commit ordering)."""

    def __init__(
        self, table_path: str, ts_col: str = "warc_ts", merge_schema: bool = True
    ):
        self.table_path = table_path
        self.ts_col = ts_col
        # log tables EVOLVE: a field added upstream appears only in newer
        # files, and a plain parquet read takes its schema from one
        # sample file — the new column would be silently dropped (or
        # appear at random depending which file wins). mergeSchema reads
        # every footer; on a real lake an Iceberg catalog tracks the
        # schema and this flag is moot (Catalog.read_table path).
        self.merge_schema = merge_schema

    def read_new(
        self, spark: SparkSession, state: dict | None
    ) -> tuple[DataFrame, dict]:
        df = spark.read.option(
            "mergeSchema", "true" if self.merge_schema else "false"
        ).parquet(self.table_path)
        cursor = (state or {}).get("last_ts")
        if cursor is not None:
            df = df.filter(F.col(self.ts_col) > F.lit(cursor).cast("timestamp"))
        new_max = df.agg(F.max(self.ts_col).cast("string")).collect()[0][0]
        new_state = {"last_ts": new_max or cursor}
        return df, new_state


def _json_quote(c):
    # JSON-escape a scalar string via a 1-element array round-trip:
    # to_json(array('a"b')) = '["a\"b"]' → strip the brackets
    arr = F.to_json(F.array(c))
    return arr.substr(F.lit(2), F.length(arr) - F.lit(2))


def merge_kafka_headers(value, headers):
    """The reference's @headers merge (kafka.go:182-214,
    addHeadersToJsonMessages), as one Catalyst expression:

    - only JSON OBJECT payloads are touched (Go unmarshals into
      map[string]interface{}; scalars/arrays/non-JSON error out and the
      message passes through unchanged);
    - each header value that itself parses as JSON embeds as that JSON
      value (numbers stay numbers, objects stay objects — kafka.go:
      193-200), anything else embeds as a JSON string;
    - the result is the payload object with an ``@headers`` object
      spliced in before the closing brace, so existing keys keep their
      original bytes (Go re-marshals, which normalizes whitespace/key
      order — byte layout differs, parsed value is identical; pinned by
      a parsed-equality twin in tests/test_kafka_e2e.py).

    Caveat: a payload that ALREADY has an "@headers" key ends up with a
    duplicate key; JSON parsers take the last occurrence, matching Go's
    map-overwrite observable behavior.

    ``value``: string Column; ``headers``: Column of
    array<struct<key:string,value:binary>> (NULL when the message had
    no headers — merged as the empty object, like Go's empty map).
    """
    trimmed = json_trim(value)
    is_obj = F.try_parse_json(value).isNotNull() & trimmed.startswith("{")
    is_empty_obj = trimmed.rlike(r"^\{\s*\}$")
    hs = F.coalesce(headers, F.array().cast(
        "array<struct<key:string,value:binary>>"
    ))

    def pair(h):
        # a nil header value embeds as "" (Go: string(nil), kafka.go)
        hv = F.coalesce(h.getField("value").cast("string"), F.lit(""))
        embedded = F.when(F.try_parse_json(hv).isNotNull(), hv).otherwise(
            _json_quote(hv)
        )
        return F.concat(_json_quote(h.getField("key")), F.lit(":"), embedded)

    headers_json = F.concat(
        F.lit("{"), F.concat_ws(",", F.transform(hs, pair)), F.lit("}")
    )
    body = trimmed.substr(F.lit(1), F.length(trimmed) - F.lit(1))
    merged = F.concat(
        body,
        F.when(is_empty_obj, F.lit("")).otherwise(F.lit(",")),
        F.lit('"@headers":'),
        headers_json,
        F.lit("}"),
    )
    return F.when(is_obj, merged).otherwise(value)


class KafkaSource:
    """Kafka input (reference internal/input/kafka) as a bounded batch
    read per tick. Header injection (include_headers → the reference's
    @headers JSON merge, kafka.go:182-214) is ``merge_kafka_headers``
    above. ``auth_config`` takes the reference's SASL schema
    (scram_sha_256/512, gssapi_keytab,
    internal/integrations/kafka/auth.go:13-101) and is translated to
    kafka.sasl.* connector options (see sources/kafka_auth.py).
    ``fmt`` is the wire-format seam: 'kafka' in production, a registered
    Python Data Source (tests/fake_kafka.py's in-process broker) in
    offline end-to-end tests — everything else (options, header merge,
    projection) is the production code path.

    Known limit: the connector rejects a specific-offsets JSON that does
    not name every partition of the topic, and the state only names
    partitions that have held a message, so a partition that never has
    makes the read fail. Naming them needs the partition ids from the
    Kafka admin client.
    """

    def __init__(
        self,
        brokers: str,
        topic: str,
        group_id: str = "collector_spark",
        include_headers: bool = False,
        auth_config: dict | None = None,
        security_protocol: str = "SASL_SSL",
        fmt: str = "kafka",
    ):
        from collector_spark.sources.kafka_auth import kafka_auth_options

        self.brokers = brokers
        self.topic = topic
        self.group_id = group_id
        self.include_headers = include_headers
        self.fmt = fmt
        # validate at config time (reference fails in New*, not on use)
        self.auth_options = kafka_auth_options(auth_config, security_protocol)

    def reader_options(self) -> dict[str, str]:
        opts = {
            "kafka.bootstrap.servers": self.brokers,
            "subscribe": self.topic,
            "kafka.group.id": self.group_id,
            "includeHeaders": str(self.include_headers).lower(),
        }
        opts.update(
            (k, v) for k, v in self.auth_options.items() if not k.startswith("_jvm.")
        )
        return opts

    def read_new(
        self, spark: SparkSession, state: dict | None
    ) -> tuple[DataFrame, dict]:
        """Messages from the committed offsets to the latest ones. The
        state is the connector's own offsets JSON, ``{topic:
        {"<partition>": next_offset}}``. One probe job finds each
        partition's last offset, and the batch is read up to exactly
        those offsets, so its range is fixed when the tick plans it and
        a replay after a crash re-reads the same messages."""
        state = state or {}
        start = json.dumps(state) if state else "earliest"

        def load(end: str) -> DataFrame:
            return (
                spark.read.format(self.fmt)
                .options(**self.reader_options())
                .option("startingOffsets", start)
                .option("endingOffsets", end)
                .load()
            )

        # one partition in, so the aggregate plans no exchange: under
        # adaptive execution an exchange is a Spark job of its own
        probe = load("latest").coalesce(1).groupBy("topic", "partition")
        last = probe.agg(F.max("offset")).collect()
        if not last:
            return lines_frame(spark, []), state
        ends = {topic: dict(offsets) for topic, offsets in state.items()}
        for topic, partition, offset in last:
            ends.setdefault(topic, {})[str(partition)] = offset + 1
        value = F.col("value").cast("string")
        if self.include_headers:
            # merge @headers into JSON-object payloads (kafka.go:182-214)
            value = merge_kafka_headers(value, F.col("headers"))
        return load(json.dumps(ends)).select(value.alias("value")), ends


class OAuthTokenProvider:
    """OAuth2 client-credentials bearer token with expiry tracking —
    the reference msgraph client's login lifecycle (internal/
    integrations/msgraph/client.go:41-55 NewClient seeds
    accessTokenExpires=now so the first call logs in; :89-128 login
    stores token + expiry; :130-141 makeCall refreshes lazily when
    ``time.Now().After(accessTokenExpires)`` or the token is empty).

    ``login_fn()`` is injected (no network in the sandbox; real
    deployments POST grant_type=client_credentials to the tenant's
    /oauth2/v2.0/token) and returns the authResponse dict:
    ``{"access_token": str, "expires_in": int|str}``. Expiry becomes
    now + expires_in seconds; an absent/garbled expires_in falls back
    to 29 minutes (client.go:120-125). Login attempts retry up to
    ``retries`` extra times (resty SetRetryCount(3), client.go:48) and
    the final failure propagates — the poller's whole window then fails
    and the cursor stays put.
    """

    def __init__(self, login_fn, retries: int = 3, now_fn=None,
                 fallback_ttl_s: int = 29 * 60):
        if login_fn is None:
            raise ValueError("login_fn callable is required")
        import time as _time

        self._login_fn = login_fn
        self._retries = retries
        self._now = now_fn or _time.time
        self._fallback_ttl = fallback_ttl_s
        self._token: str | None = None
        self._expires: float = self._now()  # pre-expired: first use logs in

    def token(self) -> str:
        """Current bearer token, refreshing first when expired."""
        if self._token is None or self._now() >= self._expires:
            self._login()
        return self._token

    def _login(self) -> None:
        last_exc: Exception | None = None
        for _ in range(1 + self._retries):
            try:
                res = self._login_fn()
                break
            except Exception as exc:  # noqa: BLE001 — retried, then re-raised
                last_exc = exc
        else:
            raise last_exc
        self._token = res["access_token"]
        try:
            ttl = int(res["expires_in"])
        except (KeyError, TypeError, ValueError):
            ttl = self._fallback_ttl
        self._expires = self._now() + ttl


class HttpPollerSource:
    """msgraph-style incremental API poller (internal/input/msgraph/
    msgraph.go:90-222): pull a time window (last_cursor, now], paginate
    with a continuation token, JSON-compact each item, and advance the
    cursor ONLY when the whole window succeeded (msgraph.go:105-132 —
    a partial failure re-reads the same window next tick; duplicates are
    the accepted at-least-once cost).

    The HTTP call is injected (``fetcher``) like the HTTP sinks' poster:
    fetcher(start_iso, end_iso, page_token) -> (items: list, next_token).
    Real deployments pass a requests-based fetcher with auth; the sandbox
    tests pagination/cursor semantics with a fake. ``page_size`` mirrors
    msgraph's $top=1000 (msgraph.go:131).

    ``token_provider`` (an OAuthTokenProvider) models the reference
    client's bearer lifecycle: each PAGE fetch re-checks expiry first
    (client.go:130-141 — makeCall refreshes lazily per call, so a token
    expiring mid-window refreshes between pages) and the fetcher is
    then called as ``fetcher(start, end, page_token, access_token)``.
    A login failure (after its retries) fails the window: cursor
    unchanged, rows re-read next tick.
    """

    def __init__(
        self,
        fetcher,
        page_size: int = 1000,
        now_fn=None,
        epoch: str = "1970-01-01T00:00:00",
        token_provider: OAuthTokenProvider | None = None,
    ):
        if fetcher is None:
            raise ValueError("fetcher callable is required")
        self.fetcher = fetcher
        self.page_size = page_size
        self.now_fn = now_fn
        self.epoch = epoch
        self.token_provider = token_provider

    def read_new(
        self, spark: SparkSession, state: dict | None
    ) -> tuple[DataFrame, dict]:
        import json as _json
        from datetime import datetime, timezone

        start = (state or {}).get("last_ts") or self.epoch
        end = (
            self.now_fn()
            if self.now_fn
            else datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
        )
        items: list[str] = []
        token = None
        try:
            while True:
                if self.token_provider is not None:
                    # per-call lazy refresh (client.go:130-141)
                    bearer = self.token_provider.token()
                    page, token = self.fetcher(start, end, token, bearer)
                else:
                    page, token = self.fetcher(start, end, token)
                # compact like pretty.Ugly (msgraph.go:145-151)
                items.extend(
                    _json.dumps(it, separators=(",", ":")) if not isinstance(it, str) else it
                    for it in page
                )
                if token is None:
                    break
        except Exception:
            # window failed → cursor unchanged, rows dropped (retry next tick)
            df = lines_frame(spark, [])
            return df, dict(state or {"last_ts": start})
        df = lines_frame(spark, items)
        return df, {"last_ts": end}


class QueuePollerSource:
    """sqs/pubsub-style queue consumer (internal/input/sqs/sqs.go:61-158,
    pubsub/pubsub.go:66-143): receive up to ``max_messages`` per poll,
    drop empty bodies, stop when a poll comes back short (queue drained).

    Delivery semantics depend on the injected callables:

    - ``receiver(n) -> list[str|None]`` alone: messages are drained on
      the driver before processing — AT-MOST-ONCE (a failed batch loses
      them; acceptable only if the queue auto-redelivers unacked reads).
    - ``receiver(n) -> list[(receipt, body)]`` + ``acker(receipts)``:
      receipt handles are held until the Pipeline commits the batch
      (run_tick calls ``commit_read(True)`` after manifest commit,
      mirroring the reference's delete-after-handle / ack-on-success,
      sqs.go:129-155, pubsub.go:96-120) — AT-LEAST-ONCE: an uncommitted
      batch's messages are never acked and the queue redelivers them.
    """

    def __init__(self, receiver, acker=None, max_messages: int = 10_000, max_polls: int = 100):
        if receiver is None:
            raise ValueError("receiver callable is required")
        self.receiver = receiver
        self.acker = acker
        self.max_messages = max_messages
        self.max_polls = max_polls
        self._pending_receipts: list = []

    def read_new(
        self, spark: SparkSession, state: dict | None
    ) -> tuple[DataFrame, dict]:
        lines: list[str] = []
        receipts: list = []
        polls = 0
        while polls < self.max_polls:
            batch = self.receiver(self.max_messages)
            polls += 1
            for item in batch:
                receipt, body = item if isinstance(item, tuple) else (None, item)
                if receipt is not None:
                    # empty bodies are acked (deleted) too — sqs.go:120-127
                    receipts.append(receipt)
                if body is None:
                    continue
                body = str(body).strip()
                if body:  # drop empty (sqs.go:120-127)
                    lines.append(body)
            if len(batch) < self.max_messages:
                break
        self._pending_receipts.extend(receipts)
        df = lines_frame(spark, lines)
        new_state = dict(state or {})
        new_state["polled"] = new_state.get("polled", 0) + len(lines)
        return df, new_state

    def commit_read(self, success: bool) -> None:
        """Called by Pipeline.run_tick after the batch commits (success)
        or fails. Ack-on-success only; failed batches leave messages
        unacked for queue redelivery."""
        receipts, self._pending_receipts = self._pending_receipts, []
        if success and self.acker is not None and receipts:
            self.acker(receipts)


def _syslog_listener(**config):
    from collector_spark.sources.syslog_listener import SyslogListenerSource

    return SyslogListenerSource(**config)


SOURCE_REGISTRY = {
    "file": FileSource,
    "incremental": IncrementalSource,
    "kafka": KafkaSource,
    "syslog": _syslog_listener,
    "http_poller": HttpPollerSource,
    "msgraph": HttpPollerSource,  # reference name alias
    "queue": QueuePollerSource,
    "sqs": QueuePollerSource,  # reference name aliases
    "pubsub": QueuePollerSource,
}


def make_source(kind: str, **config):
    from collector_spark.validation import validate_config

    try:
        cls = SOURCE_REGISTRY[kind]
    except KeyError:
        raise ValueError(f"unknown source {kind!r}; registered: {sorted(SOURCE_REGISTRY)}") from None
    validate_config("source", kind, config)
    return cls(**config)
