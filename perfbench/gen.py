"""Deterministic input generators for the benchmark.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical files, a different seed gives different ones. The
program under test only ever sees the files these functions write.

- ``write_pages``: a synthetic pages parquet (url, warc_ts, html, text,
  lang) whose html embeds one JSON, one KV and one syslog-wrapped CEF
  log line in a ``<pre data-log="1">`` block, plus the same pages' JSON
  log lines as newline-delimited text files.
- ``daemon_schedule``: the open-loop line schedule for the daemon
  workload, syslog-wrapped CEF lines with a fixed share of malformed
  ones, each stamped with its sequence number and due time.
- ``manifest_seed_lines``: a day of 10 s ticks of history in the
  manifest's ``BatchRecord`` JSON-lines format.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict

import numpy as np

# seed-independent shape of the generated data
N_DOMAINS = 1000
ZIPF_S = 1.2
CODES = (200, 200, 200, 301, 400, 404, 500)  # 301 fails the CEL filter
LANGS = ("en", "de", "fr", "es", "zh")
WORDS = (
    "data spark table query row column batch window join filter scan hash "
    "merge value part order line small fast slow agg key the a <b>&\"x'y\""
).split()
N_FILES = 8
PARA_POOL = 2048
BASE_EPOCH_S = 1_709_251_200  # 2024-03-01T00:00:00Z
MALFORMED_EVERY = 50  # ~2% of daemon lines are malformed
MANIFEST_SEED_RECORDS = 8640  # one day of 10 s ticks


def _escape(s: str) -> str:
    """HTML-escape with the entity set the extractor reverses."""
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&#39;")
    )


def _domains(seed: int) -> list[str]:
    """The domain names of the program's own lookup table for ``seed``,
    so the broadcast enrich join matches."""
    from collector_spark.datagen import domain_map_rows

    return [r["domain"] for r in domain_map_rows(seed)]


def _zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    weights = 1.0 / np.arange(1, N_DOMAINS + 1) ** ZIPF_S
    cum = np.cumsum(weights)
    return np.searchsorted(cum, rng.random(n) * cum[-1], side="right").clip(
        0, N_DOMAINS - 1
    )


def pages_rows(n: int, seed: int) -> dict[str, list]:
    """Column lists for ``n`` pages plus the JSON log line of each."""
    rng = np.random.default_rng([seed, 1])
    domains = _domains(seed)
    dom = _zipf_ranks(rng, n)
    path_a = rng.integers(0, 100, n)
    codes = np.asarray(CODES)[rng.integers(0, len(CODES), n)]
    nbytes = rng.integers(0, 100_000, n)
    lang = rng.integers(0, len(LANGS), n)
    ts = BASE_EPOCH_S + rng.integers(0, 4 * 86400, n)
    n_paras = rng.integers(1, 5, n)
    para_idx = rng.integers(0, PARA_POOL, (n, 4))
    sev = rng.integers(0, 10, n)
    ip = rng.integers(0, 256, (n, 2))

    word_idx = rng.integers(0, len(WORDS), (PARA_POOL, 32))
    para_len = rng.integers(8, 32, PARA_POOL)
    paras = [
        " ".join(WORDS[w] for w in word_idx[p, : para_len[p]])
        for p in range(PARA_POOL)
    ]
    paras_html = [f"<p>{_escape(p)}</p>" for p in paras]

    urls, htmls, texts, json_lines = [], [], [], []
    for i in range(n):
        d = domains[dom[i]]
        code = int(codes[i])
        path = f"/p/{path_a[i]}/{i}"
        urls.append(f"https://{d}{path}")
        line = (
            f'{{"code":{code},"status":"{"success" if code == 200 else "error"}",'
            f'"bytes":{nbytes[i]},"path":"{path}"}}'
        )
        json_lines.append(line)
        kv = f"dvc=10.0.{ip[i, 0]}.{ip[i, 1]} rt={1600000000000 + i} cat={d}:SYS"
        cef = (
            f"<134>Apr 13 10:23:{i % 60:02d} host{dom[i]} "
            f"CEF:0|synthetic|pages|1.0|pages:event|Page event|{sev[i]}|"
            f"src=192.168.{ip[i, 1]}.{ip[i, 0]} requestCode={code} cat=pages:info"
        )
        chosen = para_idx[i, : n_paras[i]]
        texts.append("\n".join(paras[p] for p in chosen))
        htmls.append(
            (
                f"<html><head><title>page {i}</title>"
                f"<script>var t={i % 97};</script></head><body>"
                f"<div class='nav'>nav {i % 13}</div>"
                + "".join(paras_html[p] for p in chosen)
                + '<pre data-log="1">'
                + "\n".join(_escape(x) for x in (line, kv, cef))
                + "</pre></body></html>"
            ).encode()
        )
    return {
        "url": urls,
        "warc_ts": (ts * 1_000_000).tolist(),
        "html": htmls,
        "text": texts,
        "lang": [LANGS[k] for k in lang],
        "json_lines": json_lines,
    }


def write_pages(out_dir: str, n: int, seed: int) -> None:
    """``out_dir/pages/part-*.parquet`` and ``out_dir/lines/part-*.txt``,
    ``N_FILES`` files each, so Spark scans them in parallel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = pages_rows(n, seed)
    schema = pa.schema(
        [
            pa.field("url", pa.string(), False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
            pa.field("html", pa.binary(), False),
            pa.field("text", pa.string(), False),
            pa.field("lang", pa.string(), False),
        ]
    )
    os.makedirs(os.path.join(out_dir, "pages"))
    os.makedirs(os.path.join(out_dir, "lines"))
    bounds = np.linspace(0, n, N_FILES + 1).astype(int)
    for k in range(N_FILES):
        lo, hi = bounds[k], bounds[k + 1]
        table = pa.table(
            {name: cols[name][lo:hi] for name in schema.names}, schema=schema
        )
        pq.write_table(
            table, os.path.join(out_dir, "pages", f"part-{k:05d}.parquet")
        )
        with open(os.path.join(out_dir, "lines", f"part-{k:05d}.txt"), "w") as f:
            f.write("\n".join(cols["json_lines"][lo:hi]) + "\n")


def daemon_line(seed: int, seq: int, due_ms: int) -> str:
    """One log line; every ``MALFORMED_EVERY``-th (offset by seed) is
    malformed, alternating between no syslog header and no CEF body."""
    h = (seq * 2654435761 + seed * 40503) & 0xFFFFFFFF
    host = h % 64
    if is_malformed(seed, seq):
        if (seq // MALFORMED_EVERY) % 2:
            return f"garbled line seq={seq} due={due_ms}"
        return (
            f"<134>Apr 13 10:23:{seq % 60:02d} host{host} "
            f"not a cef body seq={seq} due={due_ms}"
        )
    return (
        f"<134>Apr 13 10:23:{seq % 60:02d} host{host} "
        f"CEF:0|synthetic|collector|1.0|evt:{h % 7}|Event {h % 11}|{h % 10}|"
        f"src=10.0.{(h >> 8) % 256}.{(h >> 16) % 256} seq={seq} due={due_ms} "
        f"cat=bench"
    )


def is_malformed(seed: int, seq: int) -> bool:
    return (seq + seed) % MALFORMED_EVERY == 0


def due_s(seq: int, seq0: int, rate: float) -> float:
    """Due time of line ``seq`` in seconds after line ``seq0`` fell due,
    at a fixed ``rate`` in lines per second."""
    return (seq - seq0) / rate


def daemon_schedule(
    seed: int, rate: float, seq0: int, first: int, last: int
) -> list[tuple[float, str]]:
    """(due time, line) for lines ``first`` to ``last - 1``; lines before
    ``seq0`` have negative due times."""
    out = []
    for seq in range(first, last):
        due = due_s(seq, seq0, rate)
        out.append((due, daemon_line(seed, seq, int(round(due * 1000)))))
    return out


def manifest_seed_lines(seed: int, n: int = MANIFEST_SEED_RECORDS) -> list[str]:
    """``n`` committed 10 s ticks in ``BatchRecord`` JSON-lines format.
    Their source state names an older, rotated file, so a ``FileSource``
    on a new file resumes from byte 0 after them."""
    from collector_spark.checkpoint import BatchRecord

    rng = np.random.default_rng([seed, 3])
    events = rng.integers(3000, 6000, n)
    out, offset = [], 0
    for i in range(n):
        ev = int(events[i])
        q = ev // MALFORMED_EVERY
        offset += (ev + q) * 150
        parts = np.diff(np.linspace(0, ev, 5).astype(int))
        rec = BatchRecord(
            batch_id=i,
            source_state={"archive/app.log.1": offset},
            per_sink_counts={"events": ev, "__quarantine__": q},
            partition_counts={str(k): int(c) for k, c in enumerate(parts)},
            committed_at=float(BASE_EPOCH_S + 10 * i),
        )
        out.append(json.dumps(asdict(rec), separators=(",", ":")))
    return out
