"""Deterministic synthetic Common-Crawl-style ``pages`` table + lookup dims.

Schema per BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Properties the tests and bench rely on:
- fully deterministic per (seed, row index) — regenerating at any scale or
  parallelism yields byte-identical rows (generation is a pure function of
  the index, so it distributes over ``spark.range(n)`` with no coordination);
- domains are Zipfian over N_DOMAINS so url-domain skew is real (the skew
  handling / salting paths get exercised, per SURVEY.md §7 hard parts);
- ``html`` embeds the ground-truth ``text`` as escaped <p> paragraphs plus
  log lines (syslog-wrapped CEF / KV / JSON) in <pre data-log="1"> blocks,
  so the extract stage has something byte-exact to recover and the
  processor chain has real log lines to parse;
- lookup dims (lang_map, domain_map, tld_map) mirror the reference's
  field-rewrite enrichment (internal/processor/json/json.go:110-120),
  generalized to broadcast joins.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from collector_spark import oracle
from collector_spark.session import driver_frame

N_DOMAINS = 1000
ZIPF_S = 1.2
BASE_TS = datetime(2024, 3, 1, tzinfo=timezone.utc)

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_NAMES = {
    "en": ("English", "Germanic"),
    "de": ("German", "Germanic"),
    "fr": ("French", "Romance"),
    "es": ("Spanish", "Romance"),
    "zh": ("Chinese", "Sinitic"),
}
TLDS = ["com", "org", "net", "de", "fr", "es", "cn", "io"]
TLD_COUNTRY = {
    "com": "US",
    "org": "US",
    "net": "US",
    "de": "DE",
    "fr": "FR",
    "es": "ES",
    "cn": "CN",
    "io": "IO",
}
CATEGORIES = ["news", "blog", "shop", "forum", "docs"]

_WORDS = (
    "data spark table query row column batch window join filter scan hash "
    "merge value part order line small fast slow agg key the a"
).split()

# cumulative Zipf weights computed once
_ZIPF_CUM: list[float] = []
_total = 0.0
for _i in range(1, N_DOMAINS + 1):
    _total += 1.0 / (_i**ZIPF_S)
    _ZIPF_CUM.append(_total)


def _h(seed: int, idx: int, salt: str) -> int:
    """Deterministic 64-bit hash stream."""
    b = hashlib.md5(f"{seed}:{idx}:{salt}".encode()).digest()
    return int.from_bytes(b[:8], "big")


def _zipf_domain_idx(u: float) -> int:
    """Inverse-CDF sample of a Zipf(N_DOMAINS, ZIPF_S) rank from u∈[0,1)."""
    target = u * _ZIPF_CUM[-1]
    lo, hi = 0, N_DOMAINS - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if _ZIPF_CUM[mid] < target:
            lo = mid + 1
        else:
            hi = mid
    return lo


def gen_row(seed: int, idx: int) -> dict:
    """Pure function: (seed, idx) → one pages row."""
    u = (_h(seed, idx, "dom") % (1 << 53)) / float(1 << 53)
    dom_idx = _zipf_domain_idx(u)
    tld = TLDS[_h(seed, dom_idx, "tld") % len(TLDS)]
    domain = f"site{dom_idx}.{tld}"
    path_a = _h(seed, idx, "pa") % 100
    url = f"https://{domain}/p/{path_a}/{idx}"

    lang = LANGS[_h(seed, idx, "lang") % len(LANGS)]
    ts = BASE_TS + timedelta(seconds=int(_h(seed, idx, "ts") % (4 * 86400)))

    n_paras = 1 + _h(seed, idx, "np") % 4
    paras = []
    for p in range(n_paras):
        n_words = 8 + _h(seed, idx, f"nw{p}") % 24
        words = [
            _WORDS[_h(seed, idx, f"w{p}:{w}") % len(_WORDS)] for w in range(n_words)
        ]
        # sprinkle characters that exercise escaping
        if _h(seed, idx, f"esc{p}") % 7 == 0:
            words.append('<b>&"x\'y"')
        paras.append(" ".join(words))
    text = "\n".join(paras)

    # embedded log lines: JSON, KV, syslog-wrapped CEF
    code = [200, 200, 200, 400, 404, 500][_h(seed, idx, "code") % 6]
    json_line = json.dumps(
        {
            "code": code,
            "status": "success" if code == 200 else "error",
            "bytes": int(_h(seed, idx, "by") % 100000),
            "path": f"/p/{path_a}/{idx}",
        },
        separators=(",", ":"),
    )
    kv_line = (
        f"dvc=10.0.{_h(seed, idx, 'kv1') % 256}.{_h(seed, idx, 'kv2') % 256} "
        f"rt={1600000000000 + idx} cat=site{dom_idx}:SYS"
    )
    sev = _h(seed, idx, "sev") % 10
    cef_line = (
        f"<134>Apr 13 10:23:{idx % 60:02d} host{dom_idx} "
        f"CEF:0|synthetic|pages|1.0|pages:event|Page event|{sev}|"
        f"src=192.168.{_h(seed, idx, 'c1') % 256}.{_h(seed, idx, 'c2') % 256} "
        f"requestCode={code} cat=pages:info"
    )
    log_lines = [json_line, kv_line, cef_line]

    noise = f"<div class='nav'>nav {idx % 13}</div><span>&copy; sit{dom_idx}</span>"
    html = (
        "<html><head><title>"
        + oracle.html_escape(f"page {idx}")
        + "</title><script>var t="
        + str(idx % 97)
        + ";</script><style>.x{color:red}</style></head><body>"
        + noise
        + "".join(
            f"<p>{oracle.html_escape(p)}</p><div data-i='{i}'></div>"
            for i, p in enumerate(paras)
        )
        + '<pre data-log="1">'
        + "\n".join(oracle.html_escape(ln) for ln in log_lines)
        + "</pre></body></html>"
    )

    return {
        "url": url,
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
    }


PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def gen_pages_local(n: int, seed: int = 42) -> list[dict]:
    """Small-scale pure-Python generation (tests / oracle side)."""
    return [gen_row(seed, i) for i in range(n)]


def gen_pages_df(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed generation: spark.range(n) → mapInPandas(gen_row).
    Same bytes as gen_pages_local for every index, any parallelism."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_row(seed, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n, numPartitions=partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


def write_pages(
    spark: SparkSession, path: str, n: int, seed: int = 42, partitions: int = 128
) -> None:
    """Fixed partition count so the on-disk layout (and thus scan split
    behavior) is identical no matter which parallelism level generated
    the cache — required for fair local[8]-vs-local[32] comparisons."""
    gen_pages_df(spark, n, seed, partitions=partitions).write.mode(
        "overwrite"
    ).parquet(path)


# ---------------------------------------------------------------------------
# Lookup dims (broadcast enrichment tables)
# ---------------------------------------------------------------------------


def lang_map_rows() -> list[dict]:
    return [
        {"lang": code, "lang_name": name, "lang_family": fam}
        for code, (name, fam) in LANG_NAMES.items()
    ]


def domain_map_rows(seed: int = 42) -> list[dict]:
    rows = []
    for d in range(N_DOMAINS):
        tld = TLDS[_h(seed, d, "tld") % len(TLDS)]
        rows.append(
            {
                "domain": f"site{d}.{tld}",
                "category": CATEGORIES[_h(seed, d, "cat") % len(CATEGORIES)],
                "reputation": int(_h(seed, d, "rep") % 100),
            }
        )
    return rows


def tld_map_rows() -> list[dict]:
    return [{"tld": t, "country": c} for t, c in TLD_COUNTRY.items()]


def _strings(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


#: dim schemas: alphabetical column order, all nullable, as dict-row
#: inference gave them
LOOKUP_SCHEMAS = {
    "lang_map": _strings("lang", "lang_family", "lang_name"),
    "domain_map": _strings("category", "domain").add("reputation", T.LongType()),
    "tld_map": _strings("country", "tld"),
}


def lookup_dfs(
    spark: SparkSession, seed: int = 42, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """The lookup dims by name: all of them, or only ``names``."""
    rows = {
        "lang_map": lang_map_rows(),
        "domain_map": domain_map_rows(seed),
        "tld_map": tld_map_rows(),
    }
    return {
        name: driver_frame(spark, schema, *([r[c] for r in rows[name]] for c in schema.names))
        for name, schema in LOOKUP_SCHEMAS.items()
        if names is None or name in names
    }
