"""Network sinks: HTTP poster, Azure Log Analytics, Pub/Sub stub.

These mirror the reference's http / log_analytics / pubsub outputs
(internal/output/http/http.go:61-123, log_analytics/log_analytics.go:
69-153, pubsub/pubsub.go:60-122). The per-partition POST loop runs on
executors inside one DataFrame action (``_send_partitions``: one
``mapInArrow`` pass yielding each partition's written/empty/retries
tallies, summed on the driver), never through ``.rdd``: the batch's
Observations fire only on a DataFrame action. Chunking uses the
bfp-equivalent ``chunk_lines``. The actual network call is injected
(``poster``) so the sandbox tests the batching/signing plumbing with a
fake, and a real deployment passes a requests.Session-based poster.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from collector_spark.functions.chunking import chunk_lines
from collector_spark.functions.signing import log_analytics_signature


def _default_poster(url: str, body: bytes, headers: dict) -> int:
    """Executor-side HTTP POST; requires the ``requests`` package and
    network egress — both absent in this sandbox, hence injectable."""
    try:
        import requests  # noqa: WPS433
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "HTTP sinks need the 'requests' package and network egress; "
            "inject a poster callable for testing"
        ) from e
    resp = requests.post(url, data=body, headers=headers, timeout=30)
    resp.raise_for_status()
    return resp.status_code


_TALLIES = ("written", "empty", "retries")


def _send_partitions(df: DataFrame, value_col: str, send) -> dict[str, int]:
    """Run ``send(pid, lines) -> (written, empty, retries)`` once per
    partition of ``df``'s ``value_col`` (as text) in ONE DataFrame action,
    and sum the tallies on the driver. ``lines`` iterates the partition's
    values in order; ``pid`` is the partition id."""

    def per_partition(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        lines = (v for batch in batches for v in batch.column(0).to_pylist())
        tallies = send(pid, lines)
        yield pa.RecordBatch.from_pydict(
            {name: [n] for name, n in zip(_TALLIES, tallies)},
            schema=pa.schema([(name, pa.int64()) for name in _TALLIES]),
        )

    rows = (
        df.select(F.col(value_col).cast("string"))
        .mapInArrow(per_partition, ", ".join(f"{n} long" for n in _TALLIES))
        .collect()
    )
    return {name: sum(r[name] for r in rows) for name in _TALLIES}


def post_with_retries(
    poster, url: str, body: bytes, headers: dict, attempts: int, wait: float
) -> int:
    """Bounded retry around one POST — the reference's 3-attempt loop in
    its HTTP-family outputs (internal/output/log_analytics/
    log_analytics.go:186, s3/s3.go:38, integrations/msgraph/client.go:48).
    Returns the number of retries (attempts beyond the first) it took,
    so the batch manifest can surface per-sink retry counts; re-raises
    the last error once ``attempts`` are exhausted."""
    import time as _time

    if attempts < 1:  # a silent no-post then `raise None` otherwise
        raise ValueError(f"attempts must be >= 1, got {attempts}")
    last_err = None
    for attempt in range(attempts):
        try:
            poster(url, body, headers)
            return attempt
        except Exception as e:  # noqa: BLE001 — any transport error retries
            last_err = e
            if attempt + 1 < attempts and wait > 0:
                _time.sleep(wait)
    raise last_err


def multipart_envelope(
    field: str, filename: str, content: bytes, boundary: str
) -> tuple[bytes, dict]:
    """RFC 2388 multipart/form-data single-file envelope (the wire shape
    resty's SetFileReader produces for the reference's as_multi_part
    POSTs, http.go:78-81). Returns (body, content-type header)."""
    body = (
        f"--{boundary}\r\n"
        f'Content-Disposition: form-data; name="{field}"; filename="{filename}"\r\n'
        "Content-Type: application/octet-stream\r\n\r\n"
    ).encode("utf-8") + content + f"\r\n--{boundary}--\r\n".encode("utf-8")
    return body, {"Content-Type": f"multipart/form-data; boundary={boundary}"}


class HttpSink:
    """http output: re-batch lines to ≤max_size KB chunks, POST each as a
    JSON array (as_json), raw-string array, or a multipart file upload
    (as_multi_part, part names ``<base>_part-<n>.log`` mirroring
    http.go:78-81).

    Reference config {url, headers, max_size(KB, default 128),
    as_multi_part, as_json} — http.go:15-32.
    """

    def __init__(
        self,
        url: str,
        headers: dict | None = None,
        max_size_kb: int = 128,
        as_json: bool = False,
        as_multi_part: bool = False,
        value_col: str = "value",
        poster=None,
        retry_attempts: int = 3,
        retry_wait: float = 0.5,
        **_,
    ):
        if as_json and as_multi_part:
            raise ValueError("as_json and as_multi_part are mutually exclusive")
        self.url = url
        self.headers = dict(headers or {})
        self.max_bytes = max_size_kb * 1024
        self.as_json = as_json
        self.as_multi_part = as_multi_part
        self.value_col = value_col
        self.poster = poster or _default_poster
        self.retry_attempts = retry_attempts
        self.retry_wait = retry_wait

    def write(self, df: DataFrame, batch_id: int | None = None) -> int:
        url, headers = self.url, self.headers
        max_bytes, as_json, poster = self.max_bytes, self.as_json, self.poster
        as_multi_part = self.as_multi_part
        part_base = f"batch_{batch_id if batch_id is not None else 0}"
        attempts, wait = self.retry_attempts, self.retry_wait

        def send(pid, partition):
            import hashlib

            count = empty = retries = 0
            lines = []
            for v in partition:
                if v is None or not str(v).strip():
                    empty += 1  # per-output empty-line diagnostic
                    continue
                lines.append(str(v).strip())
            for part_no, chunk in enumerate(chunk_lines(lines, max_bytes), start=1):
                if as_multi_part:
                    content = "\n".join(chunk).encode("utf-8")
                    # unique, deterministic part name per (partition, part)
                    fname = f"{part_base}-p{pid}_part-{part_no}.log"
                    boundary = "collector-" + hashlib.md5(content).hexdigest()
                    body, ct = multipart_envelope("file", fname, content, boundary)
                    hdrs = {**headers, **ct}
                elif as_json:
                    parsed = []
                    for ln in chunk:
                        try:
                            parsed.append(json.loads(ln))
                        except ValueError:
                            continue  # non-JSON skipped (http.go:92-101)
                    body = json.dumps(parsed).encode("utf-8")
                    hdrs = {**headers, "Content-Type": "application/json"}
                else:
                    body = "\n".join(chunk).encode("utf-8")
                    hdrs = dict(headers)
                retries += post_with_retries(poster, url, body, hdrs, attempts, wait)
                count += len(chunk)
            return count, empty, retries

        self.last_metrics = _send_partitions(df, self.value_col, send)
        return self.last_metrics["written"]


class LogAnalyticsSink:
    """Azure Log Analytics Data Collector sink: buffer ≤25 MB of parsed
    JSON entries, sign with HMAC-SHA256 SharedKey, POST
    (log_analytics.go:69-208). Non-JSON lines wrap as {"message": line}.
    """

    MAX_BUFFER = 25 * 1024 * 1024

    def __init__(
        self,
        workspace_id: str,
        primary_key: str,
        log_type: str,
        date_field: str | None = None,
        value_col: str = "value",
        poster=None,
        retry_attempts: int = 3,
        retry_wait: float = 0.5,
        **_,
    ):
        self.workspace_id = workspace_id
        self.primary_key = primary_key
        self.log_type = log_type
        self.date_field = date_field
        self.value_col = value_col
        self.poster = poster or _default_poster
        self.retry_attempts = retry_attempts
        self.retry_wait = retry_wait

    def _headers(self, content_length: int) -> dict:
        date = datetime.now(timezone.utc).strftime("%a, %d %b %Y %H:%M:%S GMT")
        return {
            "Authorization": log_analytics_signature(
                self.workspace_id, self.primary_key, content_length, date
            ),
            "Log-Type": self.log_type,
            "x-ms-date": date,
            "Content-Type": "application/json",
            **(
                {"time-generated-field": self.date_field}
                if self.date_field
                else {}
            ),
        }

    def write(self, df: DataFrame, batch_id: int | None = None) -> int:
        url = (
            f"https://{self.workspace_id}.ods.opinsights.azure.com"
            "/api/logs?api-version=2016-04-01"
        )
        poster = self.poster
        headers_for = self._headers
        max_buffer = self.MAX_BUFFER
        attempts, wait = self.retry_attempts, self.retry_wait

        def send(pid, partition):
            count = empty = retries = 0
            entries: list = []
            size = 0

            def flush() -> None:
                nonlocal entries, size, retries
                if not entries:
                    return
                body = json.dumps(entries).encode("utf-8")
                retries += post_with_retries(
                    poster, url, body, headers_for(len(body)), attempts, wait
                )
                entries, size = [], 0

            for v in partition:
                if v is None or not str(v).strip():
                    empty += 1  # per-output empty-line diagnostic
                    continue
                line = str(v).strip()
                try:
                    obj = json.loads(line)
                except ValueError:
                    obj = {"message": line}  # log_analytics.go:95-103
                entries.append(obj)
                size += len(line)
                if size >= max_buffer:
                    flush()
                count += 1
            flush()
            return count, empty, retries

        self.last_metrics = _send_partitions(df, self.value_col, send)
        return self.last_metrics["written"]


def _default_publisher(topic_path: str, data: bytes) -> None:
    """Executor-side publish-and-wait-ack (pubsub.go:101-110). Needs
    google-cloud-pubsub + credentials — absent offline, hence injectable."""
    try:
        from google.cloud import pubsub_v1  # noqa: WPS433
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "PubSubSink needs google-cloud-pubsub and network egress; "
            "inject a publisher callable for testing"
        ) from e
    client = pubsub_v1.PublisherClient()  # pragma: no cover
    client.publish(topic_path, data).result()  # pragma: no cover


class PubSubSink:
    """GCP Pub/Sub publisher (pubsub.go:60-122): per-row publish inside
    one DataFrame action (``_send_partitions``), ack-per-message.
    Semantics mirror the reference: empty lines skipped (tallied), a
    failed publish is logged-and-skipped (the line is NOT counted) and
    the batch continues — pubsub.go:96-119.

    ``publisher(topic_path, data_bytes)`` is injected (same seam as the
    HTTP ``poster``); raise to signal a failed publish."""

    def __init__(
        self,
        project_id: str,
        topic_id: str,
        credentials: str | None = None,
        value_col: str = "value",
        publisher=None,
        **_,
    ):
        if not project_id or not topic_id:
            raise ValueError("project_id and topic_id are required")
        self.project_id = project_id
        self.topic_id = topic_id
        self.credentials = credentials
        self.value_col = value_col
        self.publisher = publisher or _default_publisher

    @property
    def topic_path(self) -> str:
        return f"projects/{self.project_id}/topics/{self.topic_id}"

    def write(self, df: DataFrame, batch_id: int | None = None) -> int:
        topic_path, publisher = self.topic_path, self.publisher

        def send(pid, partition):
            count, empty = 0, 0
            for v in partition:
                line = str(v).strip() if v is not None else ""
                if not line:
                    empty += 1  # pubsub.go:96-99
                    continue
                try:
                    publisher(topic_path, line.encode("utf-8"))
                except Exception:  # noqa: BLE001 — pubsub.go:107-110
                    continue
                count += 1
            return count, empty, 0

        tallies = _send_partitions(df, self.value_col, send)
        self.last_metrics = {"written": tallies["written"], "empty": tallies["empty"]}
        return tallies["written"]
