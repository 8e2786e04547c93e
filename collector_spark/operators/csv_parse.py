"""CSV/TSV line parser — delimited records as a pipeline processor.

The reference parses kv/cef/syslog/json lines but has no delimited-
record processor (§2.7 gap list); log exports and flat telemetry feeds
are routinely CSV/TSV. This is the fully-native Catalyst form:
``from_csv`` with a user schema (quoting, escapes, and type coercion
JVM-side — no Python per row), PERMISSIVE mode with a corrupt-record
column so malformed lines are DROPPED exactly like the reference's
kv drop-on-parse-failure (kv.go:50-60) instead of surfacing as
half-null rows.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from collector_spark.operators.stage import Processor, bind

__all__ = ["csv_extract", "CsvParser"]


_NAME = __import__("re").compile(r"^[A-Za-z_]\w*$")


def _schema_fields(schema: str) -> list[str]:
    """Field names from a flat DDL schema string. Splits on top-level
    commas only, so parameterized types — ``amount decimal(10,2)`` —
    don't shed bogus fields (a bare ``schema.split(',')`` yielded
    ``'2)'`` as a field name and failed confusingly at analysis time).
    Rejects nested types, non-identifier names, duplicates, and the
    reserved ``_corrupt`` name at config time."""
    # CSV records are flat; a nested type ("a array<int>") can't map to
    # one delimited cell — reject it loudly
    if "<" in schema or ">" in schema:
        raise ValueError(f"csv schema must use flat atomic types, got {schema!r}")
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    if depth != 0:
        raise ValueError(f"unbalanced parentheses in csv schema {schema!r}")
    names: list[str] = []
    for p in parts:
        toks = p.strip().split()
        if len(toks) < 2 or not _NAME.match(toks[0]):
            raise ValueError(
                f"csv schema field {p.strip()!r} is not 'name type'"
            )
        names.append(toks[0])
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate field names in csv schema {schema!r}")
    if "_corrupt" in names:
        raise ValueError("'_corrupt' is a reserved csv field name")
    return names


def _parsed(value: Column, schema: str, sep: str, quote: str, escape: str) -> Column:
    # PERMISSIVE + corrupt column is the standard Spark malformed-line
    # pattern: a line that does not fit the schema lands in _corrupt.
    # escape defaults to the quote char: RFC-4180 doubled-quote style
    # (csv.writer / Excel / Postgres COPY / DuckDB) — Spark's own
    # default escape is backslash, which mis-reads standard CSV.
    full_schema = schema + ", _corrupt string"
    return F.from_csv(
        value,
        F.lit(full_schema),
        {
            "sep": sep,
            "quote": quote,
            "escape": escape,
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": "_corrupt",
        },
    )


def csv_extract(
    df: DataFrame,
    schema: str,
    sep: str = ",",
    value_col: str = "value",
    drop_malformed: bool = True,
    quote: str = '"',
    escape: str = '"',
) -> DataFrame:
    """Append one typed column per schema field. ``drop_malformed``
    filters lines the schema rejects; ``False`` keeps them with NULLs."""
    fields = _schema_fields(schema)
    clash = set(fields) & set(df.columns)
    if clash:
        raise ValueError(
            f"csv schema fields collide with existing columns: {sorted(clash)}"
        )
    if "_p" in df.columns:
        raise ValueError("'_p' is a reserved column name")
    parsed = _parsed(F.col(value_col), schema, sep, quote, escape)
    out = df.withColumn("_p", parsed)
    if drop_malformed:
        out = out.filter(F.col("_p._corrupt").isNull())
    return out.select(
        *df.columns, *[F.col(f"_p.{f}").alias(f) for f in fields]
    )


class CsvParser(Processor):
    """Pipeline processor: ``{"kind": "csv", "schema": ..., "sep": ...}``
    — delimited lines in, JSON objects out (the kv/syslog/grok line
    model), malformed lines dropped; in quarantine mode they are the
    dead letters."""

    def __init__(
        self,
        schema: str,
        sep: str = ",",
        value_col: str = "value",
        quote: str = '"',
        escape: str = '"',
    ):
        self.fields = _schema_fields(schema)
        self.schema = schema
        self.sep = sep
        self.quote = quote
        self.escape = escape
        self.value_col = value_col

    @cached_property
    def _tag_columns(self) -> tuple[dict[str, Column], Column]:
        """(rewrites, keep), compiled once: the value becomes the record's
        JSON object, or NULL when the line is malformed. The parse is
        bound once per row (``bind``), not repeated per field."""
        value = F.col(self.value_col)
        parsed = _parsed(value, self.schema, self.sep, self.quote, self.escape)

        def to_json(p: Column) -> Column:
            return F.when(p["_corrupt"].isNull(), F.to_json(p.dropFields("_corrupt")))

        return {self.value_col: bind(parsed, to_json)}, value.isNotNull()

    def tag_columns(self, df: DataFrame) -> tuple[DataFrame, dict[str, Column], Column]:
        return (df, *self._tag_columns)
