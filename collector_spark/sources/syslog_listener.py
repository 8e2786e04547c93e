"""Syslog listener source — TCP/UDP server with RFC6587 framing.

Mirrors the reference's syslog input (internal/input/syslog/
syslog.go:20-181 + format.go:9-37): config {address, port, protocol:
tcp|udp|both, format: automatic|RFC3164|RFC5424|RFC6587|raw}; the
go-syslog server's framing/format layers map to:

- ``FrameDecoder`` — incremental TCP stream framing: newline-delimited
  (raw/3164/5424), RFC6587 octet-counting with non-transparent (LF)
  fallback, and automatic per-frame detection. Pure function of bytes →
  fully testable without sockets.
- UDP: one datagram = one message (no framing).
- format extraction: parsed formats emit the MSG part (the reference
  writes logParts["content"]/["message"], syslog.go:158-172) via the
  same oracle parsers the `syslog` processor pins against Go vectors;
  unparseable lines pass through raw (go-syslog automatic fallback).

Like every reference input, the listener is single-node (driver-side):
it buffers messages and ``read_new`` drains them into a DataFrame; the
heavy parse/transform work happens distributed, downstream. For true
distributed ingestion use KafkaSource — this source exists for protocol
parity."""

from __future__ import annotations

import socket
import socketserver
import threading

from pyspark.sql import DataFrame, SparkSession

from collector_spark import oracle
from collector_spark.sources.sources import lines_frame

FORMATS = ("automatic", "RFC3164", "RFC5424", "RFC6587", "raw")


class FrameDecoder:
    """Incremental TCP syslog framing (RFC6587 §3.4.1/§3.4.2).

    feed(data) -> list of complete message strings; partial frames are
    kept across calls. Octet-counting: ``<len> <msg>``; non-transparent:
    LF-terminated. ``automatic``/``RFC6587`` detect per frame by leading
    digit (the go-syslog RFC6587 split behavior)."""

    #: in 'automatic' mode a digit-leading line claiming more than this
    #: (e.g. one starting with an epoch timestamp) is treated as a plain
    #: LF line, not an octet count (reference MaxLogSize scale,
    #: pkg/core/core.go:8)
    MAX_FRAME = 5 * 1024 * 1024
    #: absolute framing bound, any mode: beyond this the stream is
    #: considered desynchronized/abusive and the buffer is force-flushed
    HARD_MAX = 64 * 1024 * 1024

    def __init__(self, fmt: str = "raw"):
        if fmt not in FORMATS:
            raise ValueError(f"format must be one of {FORMATS}, got {fmt!r}")
        self.octet_counting = fmt in ("RFC6587", "automatic")
        self.strict_octet = fmt == "RFC6587"
        self._buf = b""

    def feed(self, data: bytes) -> list[str]:
        self._buf += data
        out: list[str] = []
        while self._buf:
            if self.octet_counting and self._buf[:1].isdigit():
                sep = self._buf.find(b" ")
                if sep < 0:
                    # no space yet: could be a split length prefix OR a
                    # split plain line — NEVER emit a partial buffer
                    # (the rest would be misparsed as a new length)
                    nl = self._buf.find(b"\n")
                    if nl >= 0:
                        line, self._buf = self._buf[:nl], self._buf[nl + 1 :]
                        out.append(line.decode("utf-8", "replace").rstrip("\r"))
                        continue
                    if len(self._buf) > self.HARD_MAX:  # bound memory
                        msg, self._buf = self._buf, b""
                        out.append(msg.decode("utf-8", "replace"))
                    break  # wait for more bytes
                try:
                    n = int(self._buf[:sep])
                except ValueError:
                    n = -1
                # strict RFC6587 accepts any frame up to the hard bound;
                # 'automatic' treats an implausible length (epoch-
                # timestamp-leading plain lines) as LF-framed instead
                limit = self.HARD_MAX if self.strict_octet else self.MAX_FRAME
                if 0 <= n <= limit:
                    start = sep + 1
                    if len(self._buf) < start + n:
                        break  # incomplete frame
                    msg = self._buf[start : start + n]
                    self._buf = self._buf[start + n :]
                    out.append(msg.decode("utf-8", "replace").rstrip("\n"))
                    continue
                if self.strict_octet:
                    # protocol violation in strict mode: resync at the
                    # next LF, discarding the corrupt frame head
                    nl = self._buf.find(b"\n")
                    if nl < 0:
                        if len(self._buf) > self.HARD_MAX:
                            self._buf = b""
                        break
                    self._buf = self._buf[nl + 1 :]
                    continue
            # non-transparent framing: LF-terminated
            line, nl, rest = self._buf.partition(b"\n")
            if not nl:
                if len(self._buf) > self.HARD_MAX:  # bound memory
                    msg, self._buf = self._buf, b""
                    out.append(msg.decode("utf-8", "replace"))
                break
            self._buf = rest
            out.append(line.decode("utf-8", "replace").rstrip("\r"))
        return [m for m in out if m]

    def flush(self) -> list[str]:
        """Connection closed: emit any trailing unterminated message."""
        tail, self._buf = self._buf, b""
        msg = tail.decode("utf-8", "replace").strip()
        return [msg] if msg else []


def extract_message(line: str, fmt: str) -> str:
    """Format layer (reference syslog.go:80-95 + logParts handling):
    parsed formats yield the MSG portion; failures pass through raw."""
    try:
        if fmt == "RFC3164":
            return oracle.syslog_rfc3164(line)
        if fmt == "RFC5424":
            return oracle.syslog_rfc5424(line)
        if fmt in ("automatic", "RFC6587"):
            for parse in (oracle.syslog_rfc5424, oracle.syslog_rfc3164):
                try:
                    return parse(line)
                except Exception:  # noqa: BLE001 — try next format
                    continue
            return line
    except Exception:  # noqa: BLE001 — unparseable → raw passthrough
        return line
    return line


class SyslogListenerSource:
    """Reference `syslog` input: background TCP/UDP listeners buffer
    framed messages; read_new drains the buffer (the flush_frequency
    rotation maps to the Pipeline's tick cadence)."""

    def __init__(
        self,
        address: str = "127.0.0.1",
        port: int = 0,
        protocol: str = "both",
        format: str = "raw",
    ):
        if protocol not in ("tcp", "udp", "both"):
            raise ValueError(f"protocol must be tcp|udp|both, got {protocol!r}")
        if format not in FORMATS:
            raise ValueError(f"format must be one of {FORMATS}, got {format!r}")
        self.address = address
        self.port = port
        self.protocol = protocol
        self.format = format
        self._lock = threading.Lock()
        self._messages: list[str] = []
        self._servers: list = []
        self._threads: list[threading.Thread] = []
        self._stopped = False
        self.tcp_port: int | None = None
        self.udp_port: int | None = None

    def _accept(self, raw_messages: list[str]) -> None:
        msgs = [extract_message(m, self.format) for m in raw_messages]
        with self._lock:
            self._messages.extend(m for m in msgs if m)

    def start(self) -> "SyslogListenerSource":
        src = self

        class TcpHandler(socketserver.StreamRequestHandler):
            def handle(self):
                dec = FrameDecoder(src.format)
                while True:
                    data = self.request.recv(65536)
                    if not data:
                        break
                    src._accept(dec.feed(data))
                src._accept(dec.flush())

        class UdpHandler(socketserver.BaseRequestHandler):
            def handle(self):
                data = self.request[0]
                msg = data.decode("utf-8", "replace").strip()
                if msg:
                    src._accept([msg])

        # ATOMIC start: if any bind fails, tear down whatever came up —
        # a half-started listener must not linger (bound-but-unserved
        # sockets would queue connections forever and stop() would
        # deadlock waiting on a serve_forever loop that never ran)
        try:
            if self.protocol in ("tcp", "both"):
                tcp = socketserver.ThreadingTCPServer(
                    (self.address, self.port), TcpHandler, bind_and_activate=False
                )
                tcp.allow_reuse_address = True
                tcp.daemon_threads = True
                tcp.server_bind()
                tcp.server_activate()
                self.tcp_port = tcp.server_address[1]
                self._servers.append(tcp)
            if self.protocol in ("udp", "both"):
                udp = socketserver.ThreadingUDPServer(
                    # 'both' with port=0 would otherwise get a different
                    # ephemeral port than TCP — acceptable; real configs pin it
                    (self.address, self.port), UdpHandler
                )
                udp.daemon_threads = True
                self.udp_port = udp.server_address[1]
                self._servers.append(udp)
            for srv in self._servers:
                t = threading.Thread(target=srv.serve_forever, daemon=True)
                t.start()
                self._threads.append(t)
        except Exception:
            # no threads have started yet → server_close only (shutdown()
            # would block waiting on a loop that never ran)
            for srv in self._servers:
                srv.server_close()
            self._servers.clear()
            self._threads.clear()
            self.tcp_port = self.udp_port = None
            raise
        self._stopped = False
        return self

    def stop(self) -> None:
        self._stopped = True
        # shutdown() only for servers whose serve_forever thread ran;
        # close the socket in any case
        served = {id(s) for s, t in zip(self._servers, self._threads) if t.is_alive() or t.ident}
        for srv in self._servers:
            if id(srv) in served:
                srv.shutdown()
            srv.server_close()
        self._servers.clear()
        self._threads.clear()

    def drain(self) -> list[str]:
        with self._lock:
            msgs, self._messages = self._messages, []
        return msgs

    def read_new(
        self, spark: SparkSession, state: dict | None
    ) -> tuple[DataFrame, dict]:
        if not self._servers and not self._stopped:
            # conf-driven instances (make_source → Pipeline.run_tick)
            # never call start() explicitly — bring the listeners up on
            # the first tick. An explicitly stop()ped source stays
            # stopped (no silent listener resurrection); call start()
            # to deliberately restart.
            self.start()
        msgs = self.drain()
        df = lines_frame(spark, msgs)
        new_state = dict(state or {})
        new_state["received"] = new_state.get("received", 0) + len(msgs)
        return df, new_state
