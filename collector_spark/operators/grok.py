"""Grok pattern extraction — the logstash-style ``%{PATTERN:field}``
language over raw log lines, compiled to ONE Catalyst regex pass.

The reference's parse stage is per-line Go regex (kv.go/syslog.go); the
north rule names "grok/regex parse" as the pipeline's first stage. This
operator supplies the general named-pattern form: a grok expression
compiles at config time into a single anchored Java/RE2-portable regex,
and extraction runs as ``regexp_replace`` into a ``\\x01``-delimited
group string plus one ``split``, evaluated once per row however many
fields the pattern binds: ``grok_extract`` materializes it as its own
projection, the processor binds it inside its one rewrite
(``stage.bind``). Inlining the tree into every field column cost
n_fields× — codegen subexpression elimination does not merge the
copies; see grok_extract.

Portability contract: the compiled regex stays inside the same
dialect-portable subset the CEL ``matches()`` validator enforces (no
lookaround, no \\p classes), so the DuckDB oracle replays extraction
with ``regexp_extract(line, regex, i)`` byte-identically.

Unmatched lines: ``drop_unmatched=True`` (default) filters them —
grok's "_grokparsefailure drop" convention and the reference's
drop-line-on-parse-failure behavior (kv.go:50-60); ``False`` keeps
them with all-NULL fields.

Lines containing raw ``\\x01`` bytes count as unmatched: match
detection splits the replaced string on ``\\x01``, so such a line could
otherwise false-match (or a matched capture containing the marker would
shift every following field). The guard is a cheap ``contains`` test,
not a regex.
"""

from __future__ import annotations

import re
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from collector_spark.operators.stage import Processor, bind


class GrokError(ValueError):
    """Invalid grok expression — rejected at config (plan-build) time."""


#: built-in pattern library (the commonly used logstash core subset),
#: every entry portable across Java regex (Spark rlike/regexp_replace),
#: RE2 (DuckDB), and Python re
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NONNEGINT": r"\d+",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "NUMBER": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "HOSTNAME": r"[A-Za-z0-9][A-Za-z0-9.-]*",
    "IPORHOST": r"(?:\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}|[A-Za-z0-9][A-Za-z0-9.-]*)",
    "USER": r"[A-Za-z0-9._-]+",
    "USERNAME": r"[A-Za-z0-9._-]+",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "HTTPDATE": r"\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARNING|WARN|ERROR|FATAL|CRITICAL)",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "PATH": r"(?:/[\w.-]*)+",
    "QS": r'"(?:[^"\\]|\\.)*"',
    "SYSLOGPRI": r"<\d{1,3}>",
}

#: grok patterns whose captures get a numeric Spark type (try_cast —
#: a syntactically-matched-but-unrepresentable value becomes NULL
#: instead of an ANSI-mode job kill)
_NUMERIC_TYPES = {
    "INT": "bigint",
    "NONNEGINT": "bigint",
    "BASE10NUM": "double",
    "NUMBER": "double",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")

#: same portability gate CEL matches() uses: constructs that diverge
#: across Java regex / RE2 / Python re
_NONPORTABLE = re.compile(r"\(\?(?!:)|\\[pP]|\\[1-9]|\\[AzZG]")

_MARKER = "\x01"


def compile_grok(
    pattern: str, extra_patterns: dict[str, str] | None = None
) -> tuple[str, list[str], dict[str, str]]:
    """Compile a grok expression → (regex, field names in group order,
    field → spark type). Literal text between ``%{..}`` references is
    regex (logstash semantics) and must stay in the portable dialect
    subset. Raises GrokError at config time on unknown patterns,
    duplicate field names, or non-portable literal regex."""
    library = {**GROK_PATTERNS, **(extra_patterns or {})}
    fields: list[str] = []
    types: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        pat, name = m.group(1), m.group(2)
        if pat not in library:
            raise GrokError(f"unknown grok pattern %{{{pat}}}")
        body = library[pat]
        if name is None:
            return f"(?:{body})"
        if name in fields:
            raise GrokError(f"duplicate grok field {name!r}")
        fields.append(name)
        types[name] = _NUMERIC_TYPES.get(pat, "string")
        return f"({body})"

    regex = _GROK_REF.sub(sub, pattern)
    if not fields:
        raise GrokError("grok pattern binds no fields (no %{PAT:name})")
    if _NONPORTABLE.search(_GROK_REF.sub("", pattern)):
        raise GrokError(
            "literal regex in grok pattern uses non-portable constructs "
            "(lookaround/backrefs/\\p classes diverge across dialects)"
        )
    try:
        n_groups = re.compile(regex).groups
    except re.error as exc:
        raise GrokError(f"grok pattern compiles to invalid regex: {exc}") from None
    if n_groups != len(fields):
        raise GrokError(
            "literal regex in grok pattern must not add capturing groups "
            "(use (?:..) so group order matches field order)"
        )
    return regex, fields, types


_PARTS = "_grok_parts"


def _parts(value: Column, regex: str, n: int) -> Column:
    """The line rewritten by the anchored pattern to its ``n``
    marker-joined capture groups, split: an unmatched line passes
    through ``regexp_replace`` unchanged and yields the wrong part
    count."""
    repl = _MARKER.join(f"${i + 1}" for i in range(n))
    return F.split(F.regexp_replace(value, f"^{regex}$", repl), _MARKER)


def _fields(
    value: Column, parts: Column, regex: str, fields: list[str], types: dict[str, str]
) -> tuple[Column, list[Column]]:
    """(matched, one typed column per field) off the parts array. A
    marker-bearing line can false-match the part count (or shift fields
    when a capture contains \\x01), so it counts as unmatched."""
    # a 1-field split count can't distinguish match from pass-through
    hit = value.rlike(f"^{regex}$") if len(fields) == 1 else F.size(parts) == len(fields)
    cols = [
        parts[i] if types[name] == "string" else parts[i].try_cast(types[name])
        for i, name in enumerate(fields)
    ]
    return ~value.contains(_MARKER) & hit, cols


def grok_extract(
    df: DataFrame,
    pattern: str,
    value_col: str = "value",
    drop_unmatched: bool = True,
    extra_patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Append one typed column per grok field. ``drop_unmatched=True``
    filters lines the pattern rejects (reference drop-on-parse-failure,
    kv.go:50-60); ``False`` keeps them with NULL fields.

    The parts array is MATERIALIZED as its own projection first —
    Catalyst's CollapseProject keeps a non-cheap expression that is
    referenced more than once in a separate project, so the regex runs
    once per row. Inlining the replace/split tree into every field
    column measured n_fields× the cost (codegen subexpression
    elimination did NOT merge the copies: 2.8 s vs 1.0 s for 8 fields
    over 100k rows)."""
    regex, fields, types = compile_grok(pattern, extra_patterns)
    clash = set(fields) & set(df.columns)
    if clash:
        raise GrokError(f"grok fields collide with existing columns: {sorted(clash)}")
    if _PARTS in df.columns:
        raise GrokError(f"{_PARTS!r} is a reserved column name")
    value = F.col(value_col)
    tmp = df.withColumn(_PARTS, _parts(value, regex, len(fields)))
    matched, cols = _fields(value, F.col(_PARTS), regex, fields, types)
    if drop_unmatched:
        tmp = tmp.filter(matched)
    return tmp.select(
        *df.columns, *(F.when(matched, c).alias(name) for name, c in zip(fields, cols))
    )


class GrokParser(Processor):
    """Pipeline processor: ``{"kind": "grok", "pattern": ...}`` — lines
    in, JSON objects of the extracted fields out (the kv/syslog
    processor line model), unmatched lines dropped; in quarantine mode
    they are the dead letters."""

    def __init__(
        self,
        pattern: str,
        value_col: str = "value",
        extra_patterns: dict[str, str] | None = None,
    ):
        self.value_col = value_col
        self.regex, self.fields, self.types = compile_grok(pattern, extra_patterns)

    @cached_property
    def _tag_columns(self) -> tuple[dict[str, Column], Column]:
        """(rewrites, keep), compiled once: the value becomes the fields'
        JSON object, or NULL when the pattern does not match. The parts
        array is bound once per row (``bind``), so the regex runs once
        however many fields the pattern has."""
        value = F.col(self.value_col)

        def to_json(parts: Column) -> Column:
            matched, cols = _fields(value, parts, self.regex, self.fields, self.types)
            named = (c.alias(f) for f, c in zip(self.fields, cols))
            return F.when(matched, F.to_json(F.struct(*named)))

        rewrite = bind(_parts(value, self.regex, len(self.fields)), to_json)
        return {self.value_col: rewrite}, value.isNotNull()

    def tag_columns(self, df: DataFrame) -> tuple[DataFrame, dict[str, Column], Column]:
        return (df, *self._tag_columns)
