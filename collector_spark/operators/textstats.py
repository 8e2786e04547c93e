"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, fingerprinting.

Everything here is a native Catalyst expression (split/filter/length/
regexp over arrays) — zero Python per row — with a matching DuckDB SQL
builder for the correctness oracle. Only the rolling-hash fingerprint
needs a pandas UDF (arbitrary-precision modular arithmetic), and it is
pinned against collector_spark.oracle.rolling_fingerprint instead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from collector_spark import oracle

# marker stopwords per language (tiny n-gram-free heuristic; deterministic
# and SQL-expressible so Spark and DuckDB agree bit-for-bit)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "una", "por"],
    "zh": ["的", "是", "了", "在", "我"],
}
_LANG_ORDER = ["en", "de", "fr", "es", "zh"]  # tie-break: first wins

STOPWORDS_EN = "the a an and or of to in is are was were be been it this that".split()


def tokens_col(text: Column) -> Column:
    """Whitespace tokens; empty string → empty array (not [''])."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


TOKEN_COUNT_SQL = (
    "len(list_filter(regexp_split_to_array(trim({col}), '\\s+'), w -> w <> ''))"
)


def bpe_ish_token_count_col(text: Column) -> Column:
    """Sub-word-ish token count: split on word/number/punct boundaries
    (a BPE-like regex segmentation, still JVM-native)."""
    return F.size(
        F.filter(
            F.split(text, r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
            lambda w: F.trim(w) != "",
        )
    )


def _marker_count(text: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens_col(F.lower(text)), lambda w: F.array_contains(arr, w)))


def lang_id_col(text: Column) -> Column:
    """argmax over per-language marker-word counts; 'und' when no marker
    hits. Deterministic tie-break by _LANG_ORDER."""
    counts = [(lang, _marker_count(text, LANG_MARKERS[lang])) for lang in _LANG_ORDER]
    best = F.greatest(*[c for _, c in counts])
    expr = F.lit("und")
    for lang, c in reversed(counts):  # reversed → earlier langs win ties
        expr = F.when((c == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def lang_id_sql(col: str) -> str:
    def cnt(lang: str) -> str:
        lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        return (
            f"len(list_filter(regexp_split_to_array(trim(lower({col})), '\\s+'), "
            f"w -> list_contains([{lst}], w)))"
        )

    counts = {lang: cnt(lang) for lang in _LANG_ORDER}
    best = f"greatest({', '.join(counts.values())})"
    expr = "'und'"
    for lang in reversed(_LANG_ORDER):
        expr = (
            f"CASE WHEN {counts[lang]} = {best} AND {best} > 0 "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return expr


def quality_score_col(text_col: str = "text") -> Column:
    """Composite quality score in [0,1]: rewards sane length, mixed case,
    stopword presence; penalizes punctuation soup. Fully deterministic
    and reproducible in SQL."""
    text = F.col(text_col)
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    stops = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, F.lower(w))))
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    stop_score = F.least(stops / F.greatest(n_tokens, F.lit(1)) * 5.0, F.lit(1.0))
    punct_penalty = F.least(punct / F.greatest(n_chars, F.lit(1)) * 5.0, F.lit(1.0))
    return F.round(
        (len_score * 0.4 + stop_score * 0.4 + (1.0 - punct_penalty) * 0.2), 4
    )


def quality_score_sql(col: str) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({col}), '\\s+'), w -> w <> '')"
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    n_tokens = f"len({toks})"
    n_chars = f"length({col})"
    punct = f"length(regexp_replace({col}, '[^.!?,;:]', '', 'g'))"
    stops = f"len(list_filter({toks}, w -> list_contains([{stop_list}], lower(w))))"
    # operand ORDER must match quality_score_col exactly: (x / g) * 5.0
    # and x * 5.0 / g produce different doubles (0.043750000000000004 vs
    # 0.04375 at stops=7, n=800) that round differently at 4 decimals
    len_score = f"least({n_tokens} / 100.0, 1.0)"
    stop_score = f"least(({stops} / greatest({n_tokens}, 1)) * 5.0, 1.0)"
    punct_pen = f"least(({punct} / greatest({n_chars}, 1)) * 5.0, 1.0)"
    return f"round({len_score} * 0.4 + {stop_score} * 0.4 + (1.0 - {punct_pen}) * 0.2, 4)"


# ---------------------------------------------------------------------------
# Redaction (PII-style scrubbing, training-data hygiene)
# ---------------------------------------------------------------------------

# RE2-compatible patterns (work identically in Java regex and DuckDB)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"

REDACTIONS = [(_EMAIL_RE, "<EMAIL>"), (_IPV4_RE, "<IP>")]


def redact_col(text: Column) -> Column:
    """Scrub emails and IPv4 addresses (JVM-side regexp_replace chain)."""
    for pat, repl in REDACTIONS:
        text = F.regexp_replace(text, pat, repl)
    return text


def redact_sql(col: str) -> str:
    expr = col
    for pat, repl in REDACTIONS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


def pseudonymize_col(value: Column, secret: str, length: int = 16) -> Column:
    """Keyed consistent pseudonym: the same (secret, value) always maps
    to the same ``length``-hex token, values are unlinkable without the
    secret, and joins/group-bys on the pseudonym behave exactly like
    the original key (cardinality preserved modulo hash collisions —
    at 16 hex chars, ~n²/2⁶⁵). Redaction destroys analysis; this keeps
    it (user-level dedup, per-user aggregates, session stitching over
    anonymized logs). md5(secret ‖ ':' ‖ value) so the DuckDB oracle
    replays byte-identically; rotate the secret to unlink epochs. NULL
    stays NULL (no phantom pseudonym shared by all null keys)."""
    return F.when(
        value.isNotNull(),
        F.substring(F.md5(F.concat(F.lit(secret + ":"), value.cast("string"))), 1, length),
    )


def pseudonymize_sql(col: str, secret: str, length: int = 16) -> str:
    esc = secret.replace("'", "''")
    return (
        f"CASE WHEN {col} IS NOT NULL THEN "
        f"substr(md5('{esc}:' || CAST({col} AS VARCHAR)), 1, {length}) END"
    )


# ---------------------------------------------------------------------------
# Repetition signal (distinct-token ratio, Gopher-style corpus filtering)
# ---------------------------------------------------------------------------


def distinct_token_ratio_col(text: Column) -> Column:
    """|distinct words| / |words| — low values flag boilerplate/spam.
    1.0 for empty docs (nothing repeated)."""
    toks = tokens_col(text)
    n = F.size(toks)
    return F.round(
        F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(1.0)), 4
    )


def distinct_token_ratio_sql(col: str) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({col}), '\\s+'), w -> w <> '')"
    return (
        f"round(CASE WHEN len({toks}) > 0 "
        f"THEN len(list_distinct({toks})) / CAST(len({toks}) AS DOUBLE) "
        f"ELSE 1.0 END, 4)"
    )


_FP_UDF = None


def _fingerprint_udf():
    # cached: a fresh pandas_udf object per call is wasted driver work
    global _FP_UDF
    if _FP_UDF is None:

        def udf(s: pd.Series) -> pd.Series:
            # NULL text → NULL fingerprint (not fingerprint(''), which
            # would silently collide NULL docs with empty docs in
            # fingerprint-keyed grouping)
            return s.map(
                lambda t: None if t is None else oracle.rolling_fingerprint(t)
            )

        _FP_UDF = F.pandas_udf(udf, T.LongType())
    return _FP_UDF


def fingerprint_col(text: Column) -> Column:
    """Rolling polynomial hash (mod 2^61-1) — pinned to
    oracle.rolling_fingerprint. For an oracle-checkable fingerprint use
    F.md5 instead (both engines have md5)."""
    return _fingerprint_udf()(text)


def approx_distinct_profile(
    df,
    group_col: str,
    *value_cols: str,
    rsd: float = 0.02,
):
    """Sketch-based per-group cardinality profile: HyperLogLog++
    (``approx_count_distinct``) per value column with relative standard
    deviation ``rsd``.

    The 100 TB corpus-profiling tool: exact countDistinct shuffles every
    distinct value per group; the HLL sketch is fixed-size (~1.04/rsd)^2
    registers, merged map-side — one tiny row per (group, column)
    regardless of cardinality. Accuracy is pinned by a tolerance test
    (tests/test_training_ops.py), not an equality oracle — sketches are
    approximate by construction."""
    aggs = [
        F.approx_count_distinct(c, rsd=rsd).alias(f"approx_distinct_{c}")
        for c in value_cols
    ]
    return df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
