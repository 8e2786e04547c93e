"""HTML → text extraction over the binary ``html`` column.

This is the web-scale "parse" stage of the north star: a vectorized
pandas UDF applies the grok/regex extraction to ``html: binary`` and
produces ``extracted_text: string`` byte-identical (per url) to the
ground-truth ``text`` column / the pure-Python oracle
(collector_spark.oracle.extract_text).

Scale notes:
- the UDF receives Arrow record batches (no per-row Python at the Spark
  layer); inside the batch we use pandas ``.str`` vectorized ops for the
  regex passes and only fall back to a per-element join for paragraph
  reassembly;
- the plan must NEVER read ``html`` unless extraction is requested —
  callers select columns explicitly so parquet column pruning holds
  (verified in tests via the scan's ReadSchema).
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from collector_spark import oracle


def _extract_text_series(html: pd.Series) -> pd.Series:
    # decode binary → str once per batch
    s = html.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else None)
    # strip <script>/<style> and collect <p> bodies, vectorized
    s = s.str.replace(oracle._SCRIPT_STYLE_RE, "", regex=True)
    paras = s.str.findall(oracle._P_RE)
    # NULL html: the .str ops turn None into NaN (a float) — `is not
    # None` passes it and join() then iterates a float; use pd.isna
    return paras.map(
        lambda ps: None
        if not isinstance(ps, list)
        else "\n".join(oracle.html_unescape(p) for p in ps)
    )


def _extract_log_lines_series(html: pd.Series) -> pd.Series:
    return html.map(lambda b: oracle.extract_log_lines(b) if b is not None else None)


extract_text_udf = F.pandas_udf(_extract_text_series, T.StringType())
extract_log_lines_udf = F.pandas_udf(
    _extract_log_lines_series, T.ArrayType(T.StringType())
)


# ---------------------------------------------------------------------------
# Native (JVM) extraction — the fast path.
#
# The synthetic-page extraction grammar is regex-expressible, so the
# whole parse stage compiles to Catalyst expressions (regexp_extract_all
# + explode + replace chains) inside whole-stage codegen: zero Python,
# zero Arrow transfer of the 100 MB html column to workers. The pandas
# UDF path above remains the general extractor (arbitrary Python logic);
# tests assert both produce byte-identical output vs the oracle.
# ---------------------------------------------------------------------------

_PRE_RE_JAVA = '(?s)<pre data-log="1">(.*?)</pre>'
_P_RE_JAVA = r"(?s)<p(?:\s[^>]*)?>(.*?)</p>"
_SCRIPT_STYLE_RE_JAVA = r"(?is)<(script|style)\b.*?</\1>"

# keep order in sync with oracle.html_unescape
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def unescape_entities_col(col: Column) -> Column:
    for ent, ch in _ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def native_extract_text_col(html_col: Column) -> Column:
    """extract_text as a pure Catalyst expression (byte-identical to
    oracle.extract_text)."""
    s = html_col.cast("string")
    s = F.regexp_replace(s, _SCRIPT_STYLE_RE_JAVA, "")
    paras = F.regexp_extract_all(s, F.lit(_P_RE_JAVA), 1)
    return F.array_join(F.transform(paras, unescape_entities_col), "\n")


def native_log_lines(df: DataFrame, html_col: str = "html", keep_cols: tuple[str, ...] = ("url",)) -> DataFrame:
    """extract_log_lines as native expressions: pre-block regex → explode
    → per-line trim/drop-empty/unescape. Matches oracle.extract_log_lines
    per line. (Catalyst pushes the drop-empty filter below the trim
    projection by inlining it, so filtering the trimmed ``_raw`` first
    plans the same.)"""
    cols, blocks, lines, non_empty, value = _log_line_columns(html_col, tuple(keep_cols))
    return (
        df.select(*cols, blocks)
        .select(*cols, lines)
        .filter(non_empty)
        .select(*cols, value)
    )


@functools.cache
def _log_line_columns(html_col: str, keep_cols: tuple[str, ...]) -> tuple:
    """native_log_lines' Columns, compiled once per (html_col, keep_cols)."""
    blocks = F.regexp_extract_all(F.col(html_col).cast("string"), F.lit(_PRE_RE_JAVA), 1)
    trimmed = F.trim(F.col("_raw"))
    return (
        [F.col(c) for c in keep_cols],
        F.explode(blocks).alias("_block"),
        F.explode(F.split(F.col("_block"), "\n")).alias("_raw"),
        F.length(trimmed) > 0,
        unescape_entities_col(trimmed).alias("value"),
    )


class HtmlExtractor:
    """Parse stage: pages(url, warc_ts, html, …) → + extracted_text.

    ``with_log_lines=True`` additionally explodes the embedded
    <pre data-log="1"> log lines into a ``value`` column — the bridge from
    the web-scale payload to the reference's line-oriented processors.
    """

    def __init__(
        self,
        html_col: str = "html",
        out_col: str = "extracted_text",
        engine: str = "native",
    ):
        """engine='native' (Catalyst expressions, default) or 'pandas'
        (Arrow UDF — the general path for non-regex-expressible logic)."""
        if engine not in ("native", "pandas"):
            raise ValueError(engine)
        self.html_col = html_col
        self.out_col = out_col
        self.engine = engine

    def apply(self, df: DataFrame) -> DataFrame:
        col = (
            native_extract_text_col(F.col(self.html_col))
            if self.engine == "native"
            else extract_text_udf(F.col(self.html_col))
        )
        return df.withColumn(self.out_col, col)

    def log_lines(self, df: DataFrame, keep_cols: tuple[str, ...] = ("url",)) -> DataFrame:
        """pages → one row per embedded log line (column ``value``)."""
        if self.engine == "native":
            return native_log_lines(df, self.html_col, keep_cols)
        cols = [F.col(c) for c in keep_cols]
        return (
            df.select(*cols, extract_log_lines_udf(F.col(self.html_col)).alias("_lines"))
            .select(*cols, F.explode("_lines").alias("value"))
        )
