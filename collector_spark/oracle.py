"""Pure-Python reference implementations of the per-row transforms.

This module is the ground-truth oracle: the pandas-UDF operators in
``collector_spark.operators`` and the pytest suite both call these
functions, so "byte-identical per row" is enforced by construction and
pinned against the reference's own unit-test fixture vectors.

Semantics are derived from the reference (citations are path:line into
/root/reference/):

- KV / CEF parsing        internal/processor/kv/kv.go:107-139, kv/cef.go:23-143
- syslog raw/3164/5424    internal/processor/syslog/syslog.go:96-141
- JSON add/remove/replace internal/processor/json/json.go:88-130
- empty-line drop + trim  pkg/core/tmp_writer.go:53-73
- path templating         pkg/core/variable_replacer/variable_replacer.go:12-36
- HTML text extraction    (new, per BASELINE.json north_star: grok/regex
                           extraction over the binary html column)

No code is copied from the reference; behaviors are re-derived from its
unit tests (internal/processor/ *_test.go files) and re-implemented.
"""

from __future__ import annotations

import hashlib
import json
import re
import uuid as _uuid
from datetime import datetime, timezone

MAX_LOG_SIZE = 5 * 1024 * 1024  # reference: pkg/core/core.go:8


class ParseError(ValueError):
    """Raised when a line cannot be parsed; the pipeline drops such rows
    (reference logs the error and skips the line, kv.go:66-79)."""


# ---------------------------------------------------------------------------
# KV ("key=value") parsing — reference internal/processor/kv/kv.go:107-139
# ---------------------------------------------------------------------------

_EMPTY_KV_RE = re.compile(r"[a-zA-Z0-9]+=[ ]")
_TRAILING_KV_RE = re.compile(r"[ ][a-zA-Z0-9]+=$")
_TOKEN_RE = re.compile(r"^([^\s=]+)=(.*)$", re.DOTALL)


def _parse_key_value(event: str, cef: bool) -> dict[str, str]:
    """Mirror of the reference's parseKeyValue (kv.go:107-139).

    1. keys with empty values ("key= ") are blanked out;
    2. a trailing " key=" is stripped;
    3. remaining space-separated tokens must each be key=value —
       any leading non-KV text or a value starting with '=' is a
       parse error (matches jjeffery/kv behavior on the reference's
       test vectors, kv_test.go:9-47).
    """
    new_event = _EMPTY_KV_RE.sub(" ", event)
    if new_event and new_event[-1] == "=":
        new_event = _TRAILING_KV_RE.sub("", new_event)

    out: dict[str, str] = {}
    for token in new_event.split():
        m = _TOKEN_RE.match(token)
        if m is None:
            raise ParseError(f'invalid key value format at: "{token}"')
        key, value = m.group(1), m.group(2)
        if value.startswith("="):
            raise ParseError(f'invalid key value format at: "{token}"')
        if cef:
            key = _cef_unescape_extension(key)
            value = _cef_unescape_extension(value)
        out[key] = value
    return out


def parse_kv(line: str) -> dict[str, str]:
    """kv processor, type=raw (kv.go:141-157). Returns the parsed map."""
    return _parse_key_value(line, cef=False)


def parse_kv_json(line: str) -> str:
    """kv raw → compact JSON string (reference marshals the map)."""
    return json.dumps(parse_kv(line), separators=(",", ":"), sort_keys=True)


# ---------------------------------------------------------------------------
# CEF parsing — reference internal/processor/kv/cef.go:23-143
# ---------------------------------------------------------------------------

CEF_FIELDS = (
    "version",
    "device_vendor",
    "device_product",
    "device_version",
    "device_event_class_id",
    "name",
    "severity",
)

# Non-KV space: a whitespace char NOT followed by `word=`
# (reference cef.go:78: regexp2 `\s(?!([\w\-]+)\=)`).
_NON_KV_SPACE_RE = re.compile(r"\s(?!([\w\-]+)=)")


def _cef_unescape_field(field: str) -> str:
    """Header-field unescapes: \\\\ -> \\, \\| -> |, \\n -> newline
    (cef.go:122-131). Single left-to-right pass like Go's Replacer."""
    if "\\" not in field:  # fast path: nothing to unescape
        return field
    out = []
    i, n = 0, len(field)
    while i < n:
        c = field[i]
        if c == "\\" and i + 1 < n:
            nxt = field[i + 1]
            if nxt == "\\":
                out.append("\\")
                i += 2
                continue
            if nxt == "|":
                out.append("|")
                i += 2
                continue
            if nxt == "n":
                out.append("\n")
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _cef_unescape_extension(field: str) -> str:
    """Extension unescapes: \\\\ -> \\, \\n -> newline, \\= -> =
    (cef.go:134-143)."""
    if "\\" not in field:  # fast path: nothing to unescape
        return field
    out = []
    i, n = 0, len(field)
    while i < n:
        c = field[i]
        if c == "\\" and i + 1 < n:
            nxt = field[i + 1]
            if nxt == "\\":
                out.append("\\")
                i += 2
                continue
            if nxt == "n":
                out.append("\n")
                i += 2
                continue
            if nxt == "=":
                out.append("=")
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)


def parse_cef(line: str) -> dict:
    """CEF line → dict with the 7 header fields + extensions map.

    Mirrors cefStringToObject (cef.go:43-119): split on '|'; the first
    field is 'CEF:<ver>' or a bare integer version; fields 2-7 are
    header-unescaped; everything from the 8th '|' on is the extension
    string, parsed via placeholder-protected KV tokenization; extension
    values are trimmed.
    """
    arr = line.split("|")
    if len(arr) < 7:
        raise ParseError("invalid CEF format")

    first = arr[0]
    if ":" in first:
        # reference: strings.Split(arr[0], ":")[1] — ONLY the segment
        # between the first and second colon ('CEF:0:junk' → '0', not
        # '0:junk'; cef.go:52-61)
        validate = first.split(":")
        if validate[0] != "CEF":
            raise ParseError("invalid CEF format")
        version = validate[1]
    else:
        # strconv.Atoi acceptance: ASCII digits with optional sign, NO
        # whitespace/underscores/unicode digits (Python int() takes all
        # of those); 18-digit bound stands in for Atoi's int64 range
        if not re.fullmatch(r"[+-]?[0-9]{1,18}", first):
            raise ParseError("invalid CEF format")
        version = first

    extensions_raw = "|".join(arr[7:])
    safe = extensions_raw.replace(":", "{{COLON}}")
    safe = safe.replace("\\\\=", "{{EQUAL_ESCAPE_2}}")
    safe = safe.replace("\\=", "{{EQUAL_ESCAPE_1}}")
    safe = _NON_KV_SPACE_RE.sub("{{SPACE}}", safe)

    raw_map = _parse_key_value(safe, cef=True)

    def _restore(s: str) -> str:
        return (
            s.replace("{{SPACE}}", " ")
            .replace("{{EQUAL_ESCAPE_1}}", "\\=")
            .replace("{{EQUAL_ESCAPE_2}}", "\\\\=")
            .replace("{{COLON}}", ":")
        )

    extensions = {_restore(k): _restore(v).strip() for k, v in raw_map.items()}

    return {
        "version": version,
        "device_vendor": _cef_unescape_field(arr[1]),
        "device_product": _cef_unescape_field(arr[2]),
        "device_version": _cef_unescape_field(arr[3]),
        "device_event_class_id": _cef_unescape_field(arr[4]),
        "name": _cef_unescape_field(arr[5]),
        "severity": _cef_unescape_field(arr[6]),
        "extensions": extensions,
    }


def parse_cef_json(line: str) -> str:
    return json.dumps(parse_cef(line), separators=(",", ":"), sort_keys=True)


# ---------------------------------------------------------------------------
# Syslog — reference internal/processor/syslog/syslog.go:96-141
# ---------------------------------------------------------------------------

_PRI_RE = re.compile(r"^<([0-9]+)>")

# RFC3164: "<PRI>Mmm dd hh:mm:ss host MSG" (go-syslog rfc3164 semantics on
# the reference's test vectors, syslog_test.go:31-44).
_RFC3164_RE = re.compile(
    r"^<(?P<pri>\d{1,3})>"
    r"(?P<ts>[A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "
    r"(?P<host>\S+) "
    r"(?P<msg>.*)$",
    re.DOTALL | re.ASCII,
)

# RFC5424: "<PRI>VERSION TS HOST APP PROCID MSGID [SD] MSG"
# STRUCTURED-DATA is NILVALUE ('-') *or* adjacent '[..]' elements — an
# exclusive alternation. The old '(?: -| \[.*?\])+' mixed them, so after
# a '-' it would swallow a '[...]'-leading MSG head as fake SD
# ('... ID47 - [warn] disk full' lost '[warn]'); go-syslog keeps it.
_RFC5424_RE = re.compile(
    r"^<(?P<pri>\d{1,3})>(?P<ver>[1-9]\d{0,2}) "
    r"(?P<ts>\S+) (?P<host>\S+) (?P<app>\S+) (?P<procid>\S+) (?P<msgid>\S+)"
    r" (?P<sd>-|(?:\[.*?\])+)"
    r"(?: (?P<msg>.*))?$",
    re.DOTALL | re.ASCII,
)


def syslog_raw(line: str) -> str:
    """Strip a leading <PRI> (syslog.go:96-99)."""
    return _PRI_RE.sub("", line)


def syslog_rfc3164(line: str) -> str:
    m = _RFC3164_RE.match(line)
    if m is None or int(m.group("pri")) > 191:
        raise ParseError("invalid RFC3164 message")
    return m.group("msg")


def syslog_rfc5424(line: str) -> str:
    m = _RFC5424_RE.match(line)
    if m is None or int(m.group("pri")) > 191:
        raise ParseError("invalid RFC5424 message")
    return m.group("msg") or ""


# ---------------------------------------------------------------------------
# JSON mutate — reference internal/processor/json/json.go:88-130
# ---------------------------------------------------------------------------


def _path_parts(key: str) -> list[str]:
    return key.split(".")


def _json_set(obj: dict, key: str, value) -> None:
    """gjson/sjson dotted-path set: intermediate objects are created."""
    parts = _path_parts(key)
    cur = obj
    for p in parts[:-1]:
        nxt = cur.get(p)
        if not isinstance(nxt, dict):
            nxt = {}
            cur[p] = nxt
        cur = nxt
    cur[parts[-1]] = value


def _json_get(obj: dict, key: str, default=None):
    cur = obj
    for p in _path_parts(key):
        if isinstance(cur, dict) and p in cur:
            cur = cur[p]
        else:
            return default
    return cur


_MISSING = object()


def _json_delete(obj: dict, key: str) -> None:
    parts = _path_parts(key)
    cur = obj
    for p in parts[:-1]:
        cur = cur.get(p) if isinstance(cur, dict) else None
        if cur is None:
            return
    if isinstance(cur, dict):
        cur.pop(parts[-1], None)


def json_mutate(
    line: str,
    add: list[dict] | None = None,
    remove: list[dict] | None = None,
    replace: list[dict] | None = None,
) -> str | None:
    """json processor semantics (json.go:88-130):

    - non-JSON lines are dropped (returns None);
    - add: set ``key`` to the (string) ``value``;
    - remove: delete ``key`` if present;
    - replace: set ``key`` to ``new_value`` only when current == ``value``.

    Output is compact JSON preserving key insertion order (the reference
    uses sjson string surgery; semantic content is identical, byte layout
    of pre-existing whitespace is normalized — a documented divergence).
    """
    line = line.strip()
    if not line:
        return None
    try:
        obj = json.loads(line)
    except (ValueError, TypeError):
        return None
    if not isinstance(obj, dict):
        # jsonpb/sjson operate on objects; keep scalars/arrays untouched
        return json.dumps(obj, separators=(",", ":"))
    for action in add or []:
        _json_set(obj, action["key"], action["value"])
    for action in remove or []:
        if _json_get(obj, action["key"], _MISSING) is not _MISSING:
            _json_delete(obj, action["key"])
    for action in replace or []:
        cur = _json_get(obj, action["key"], _MISSING)
        if cur is not _MISSING and cur == action["value"]:
            _json_set(obj, action["key"], action["new_value"])
    return json.dumps(obj, separators=(",", ":"))


# ---------------------------------------------------------------------------
# Path templating — reference pkg/core/variable_replacer/variable_replacer.go
# ---------------------------------------------------------------------------

_MONTHS = (
    "January February March April May June July August September "
    "October November December"
).split()


def variable_replace(t: datetime, s: str, uuid: str | None = None) -> str:
    """%year% %month% ... %uuid% %unix% substitution
    (variable_replacer.go:12-36)."""
    if t.tzinfo is None:
        t = t.replace(tzinfo=timezone.utc)
    tz = t.strftime("%z")
    tz_fmt = "Z" if tz in ("+0000", "") else f"{tz[:3]}:{tz[3:]}:00"
    mapping = {
        "%year%": f"{t.year:04d}",
        "%year_short%": f"{t.year % 100:02d}",
        "%month%": f"{t.month:02d}",
        "%month_name%": _MONTHS[t.month - 1],
        "%month_name_short%": _MONTHS[t.month - 1][:3],
        "%day%": f"{t.day:02d}",
        "%hour%": f"{t.hour:02d}",
        "%minute%": f"{t.minute:02d}",
        "%second%": f"{t.second:02d}",
        "%timezone%": tz_fmt,
        "%unix%": str(int(t.timestamp())),
        "%uuid%": uuid if uuid is not None else str(_uuid.uuid4()),
    }
    for k, v in mapping.items():
        s = s.replace(k, v)
    return s


# ---------------------------------------------------------------------------
# HTML text extraction (web-scale payload; BASELINE.json north_star)
# ---------------------------------------------------------------------------
#
# The synthetic pages generator (collector_spark.datagen) wraps each
# ground-truth paragraph in <p>…</p> (HTML-escaped) and embeds log lines
# in <pre data-log="1">…</pre>. The extractor below is the reference
# algorithm both the pandas UDF and the pytest oracle use: byte-identical
# output is required per url.

_SCRIPT_STYLE_RE = re.compile(r"<(script|style)\b.*?</\1>", re.DOTALL | re.IGNORECASE)
_P_RE = re.compile(r"<p(?:\s[^>]*)?>(.*?)</p>", re.DOTALL)
_PRE_LOG_RE = re.compile(r'<pre data-log="1">(.*?)</pre>', re.DOTALL)


def html_unescape(s: str) -> str:
    """Minimal entity decode matching the generator's escape set."""
    return (
        s.replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&#39;", "'")
        .replace("&amp;", "&")
    )


def html_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&#39;")
    )


def extract_text(html: bytes | str) -> str:
    """Extract the ground-truth text from a synthetic page: all <p>
    bodies, entity-decoded, joined by '\\n'."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    html = _SCRIPT_STYLE_RE.sub("", html)
    return "\n".join(html_unescape(m) for m in _P_RE.findall(html))


def extract_log_lines(html: bytes | str) -> list[str]:
    """Extract embedded log lines from <pre data-log="1"> blocks (one
    line per newline inside the block), entity-decoded."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    lines: list[str] = []
    for block in _PRE_LOG_RE.findall(html):
        for ln in block.split("\n"):
            ln = ln.strip()
            if ln:
                lines.append(html_unescape(ln))
    return lines


# ---------------------------------------------------------------------------
# Text-analysis primitives (training-data pipeline ops; oracle side)
# ---------------------------------------------------------------------------


def rolling_fingerprint(text: str, mod: int = (1 << 61) - 1, base: int = 257) -> int:
    """Deterministic polynomial rolling hash over UTF-8 bytes."""
    h = 0
    for b in text.encode("utf-8"):
        h = (h * base + b) % mod
    return h


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over md5(token) bit votes."""
    votes = [0] * 64
    for tok in tokens:
        d = hashlib.md5(tok.encode("utf-8")).digest()
        v = int.from_bytes(d[:8], "big")
        for i in range(64):
            votes[i] += 1 if (v >> i) & 1 else -1
    out = 0
    for i in range(64):
        if votes[i] > 0:
            out |= 1 << i
    return out


# 31-bit Mersenne prime: a*h+b stays under 2^62, so executors can run
# the whole affine family in native uint64 numpy (no bigint objects) —
# a ~100x speedup over the 61-bit variant at identical MinHash accuracy
# (collision prob 1/p is negligible either way at corpus scale).
_MERSENNE_P = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    h_k(x) = (a_k * x + b_k) mod p. Derived from md5 so every process
    (Spark executor, pytest oracle, any language) agrees."""
    out = []
    for k in range(num_hashes):
        d = hashlib.md5(f"minhash:{seed}:{k}".encode()).digest()
        a = (int.from_bytes(d[:8], "big") % (_MERSENNE_P - 1)) + 1
        b = int.from_bytes(d[8:16], "big") % _MERSENNE_P
        out.append((a, b))
    return out


def shingle_hash(shingle: str) -> int:
    """Base 31-bit hash of one shingle (md5 prefix, top bit dropped)."""
    return int.from_bytes(hashlib.md5(shingle.encode("utf-8")).digest()[:4], "big") & _MERSENNE_P


def minhash_signature(
    shingles: set[str], num_hashes: int = 64, seed: int = 42
) -> list[int]:
    """MinHash signature: one base hash per shingle, k affine
    permutations over the Mersenne prime 2^31-1 (classic
    Broder/MMDS construction)."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    hs = [shingle_hash(s) for s in shingles]
    if not hs:
        return [0] * num_hashes
    return [min((a * h + b) % _MERSENNE_P for h in hs) for a, b in coeffs]


def word_shingles(text: str, n: int = 3) -> set[str]:
    words = text.split()
    if len(words) < n:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}
