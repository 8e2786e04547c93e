"""`syslog` processor — PRI strip / RFC3164 / RFC5424 MSG extraction.

Reference: internal/processor/syslog/syslog.go:52-141.

Spark-first design: all three modes compile to native regexp expressions
(JVM-side, whole-stage codegen) — no Python per row at all. The regex
patterns are the same ones the shared oracle uses, so pytest pins
byte-level parity on the reference's fixture vectors
(syslog_test.go:8-51). Rows that fail to parse are dropped
(reference logs + skips, syslog.go:70-93).
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Keep in sync with collector_spark.oracle semantics.
_PRI = r"^<([0-9]{1,3})>"
# RFC3164: <PRI>Mmm dd hh:mm:ss host MSG   (day may be space-padded)
_RFC3164_MSG = r"^<[0-9]{1,3}>[A-Z][a-z]{2} [ 0-9][0-9] [0-9]{2}:[0-9]{2}:[0-9]{2} \S+ (.*)$"
# RFC5424: <PRI>VER TS HOST APP PROCID MSGID SD MSG ; SD is '-' XOR
# adjacent [..] groups (exclusive — mixing let a '-' swallow a
# '[...]'-leading MSG head as fake SD; oracle._RFC5424_RE matches)
_RFC5424_MSG = (
    r"^<[0-9]{1,3}>[1-9][0-9]{0,2} \S+ \S+ \S+ \S+ \S+ (?:-|(?:\[[^\]]*\])+) (.*)$"
)


def syslog_raw_col(col: Column) -> Column:
    return F.regexp_replace(col, _PRI, "")


def syslog_rfc3164_col(col: Column) -> Column:
    """NULL when the line does not match (→ dropped)."""
    extracted = F.regexp_extract(col, _RFC3164_MSG, 1)
    return F.when(col.rlike(_RFC3164_MSG), extracted)


def syslog_rfc5424_col(col: Column) -> Column:
    extracted = F.regexp_extract(col, _RFC5424_MSG, 1)
    return F.when(col.rlike(_RFC5424_MSG), extracted)


_MODES = {
    "raw": syslog_raw_col,
    "rfc3164": syslog_rfc3164_col,
    "rfc5424": syslog_rfc5424_col,
}


class SyslogParser:
    """syslog processor (config: {type: raw|rfc5424|rfc3164}, default raw)."""

    def __init__(self, type: str = "raw", value_col: str = "value"):
        if type not in _MODES:
            raise ValueError(f"syslog type must be one of {sorted(_MODES)}, got {type!r}")
        self.type = type
        self.value_col = value_col

    @cached_property
    def _columns(self) -> tuple[Column, Column, Column | None, Column]:
        """(non-empty, rewrite, parsed, keep), compiled once; ``parsed``
        is None in raw mode. Each test reads the value of the frame it
        is evaluated on: ``apply`` tests non-empty before the rewrite,
        while ``keep`` is evaluated on the frame ``tag`` returns."""
        trimmed = F.trim(F.col(self.value_col))
        nonempty = F.length(trimmed) > 0
        parsed = None if self.type == "raw" else F.col(self.value_col).isNotNull()
        keep = nonempty if parsed is None else nonempty & parsed
        return nonempty, _MODES[self.type](trimmed), parsed, keep

    def apply(self, df: DataFrame) -> DataFrame:
        nonempty, rewrite, parsed, _ = self._columns
        out = df.filter(nonempty).withColumn(self.value_col, rewrite)
        return out if parsed is None else out.filter(parsed)

    def tag_columns(self, df: DataFrame) -> tuple[DataFrame, dict[str, Column], Column]:
        """``tag`` as (frame, rewrites, keep): ``tag(df)`` is
        ``(frame.withColumns(rewrites), keep)``."""
        _, rewrite, _, keep = self._columns
        return df, {self.value_col: rewrite}, keep

    def tag(self, df: DataFrame) -> tuple[DataFrame, Column]:
        """Non-dropping variant for the quarantine path."""
        df, rewrites, keep = self.tag_columns(df)
        return df.withColumns(rewrites), keep

    def sql_expr(self, col: str = "value") -> str:
        """Equivalent DuckDB expression for the oracle gate."""
        if self.type == "raw":
            return f"regexp_replace(trim({col}), '{_PRI}', '')"
        pattern = _RFC3164_MSG if self.type == "rfc3164" else _RFC5424_MSG
        escaped = pattern.replace("'", "''").replace("\\", "\\\\")
        return f"regexp_extract(trim({col}), '{escaped}', 1)"
