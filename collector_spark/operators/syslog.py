"""`syslog` processor — PRI strip / RFC3164 / RFC5424 MSG extraction.

Reference: internal/processor/syslog/syslog.go:52-141.

Spark-first design: all three modes compile to native regexp expressions
(JVM-side, whole-stage codegen) — no Python per row at all. The regex
patterns are the same ones the shared oracle uses, so pytest pins
byte-level parity on the reference's fixture vectors
(syslog_test.go:8-51). Rows that fail to parse, or whose MSG is empty,
are dropped (reference logs + skips, syslog.go:70-93).
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from collector_spark.operators.stage import Processor

# Keep in sync with collector_spark.oracle semantics.
# raw mode strips any all-digit PRI (oracle._PRI_RE, syslog.go:96-99)
_PRI = r"^<([0-9]+)>"
# the RFC modes take a PRI of 1-3 digits worth at most 191, zero
# padding allowed (<013>), as the oracle's int(pri) > 191 check does
_RFC_PRI = r"^<(?:[0-9]{1,2}|0[0-9]{2}|1[0-8][0-9]|19[01])>"
# RFC3164: <PRI>Mmm dd hh:mm:ss host MSG   (day may be space-padded)
_RFC3164_MSG = _RFC_PRI + r"[A-Z][a-z]{2} [ 0-9][0-9] [0-9]{2}:[0-9]{2}:[0-9]{2} \S+ (.*)$"
# RFC5424: <PRI>VER TS HOST APP PROCID MSGID SD MSG ; SD is '-' XOR
# adjacent [..] groups (exclusive — mixing let a '-' swallow a
# '[...]'-leading MSG head as fake SD; oracle._RFC5424_RE matches)
_RFC5424_MSG = _RFC_PRI + r"[1-9][0-9]{0,2} \S+ \S+ \S+ \S+ \S+ (?:-|(?:\[[^\]]*\])+) (.*)$"


#: the MSG pattern of each RFC mode; raw mode strips the PRI only
_MSG = {"rfc3164": _RFC3164_MSG, "rfc5424": _RFC5424_MSG}


class SyslogParser(Processor):
    """syslog processor (config: {type: raw|rfc5424|rfc3164}, default raw)."""

    def __init__(self, type: str = "raw", value_col: str = "value"):
        if type != "raw" and type not in _MSG:
            raise ValueError(f"syslog type must be one of {['raw', *_MSG]}, got {type!r}")
        self.type = type
        self.value_col = value_col

    @cached_property
    def _tag_columns(self) -> tuple[dict[str, Column], Column]:
        """(rewrites, keep), compiled once. ``keep`` reads the rewritten
        value: a line whose MSG is empty or blank (``<13>`` alone, an RFC
        line with nothing after its header) is dropped, as the reference's
        temp writer drops a line that comes out empty (tmp_writer.go:54-56),
        and so is an RFC line that does not parse."""
        value = F.col(self.value_col)
        trimmed = F.trim(value)
        keep = F.length(trimmed) > 0  # read on the output: the MSG
        if self.type == "raw":
            return {self.value_col: F.regexp_replace(trimmed, _PRI, "")}, keep
        # NULL when the line does not match
        pattern = _MSG[self.type]
        msg = F.when(trimmed.rlike(pattern), F.regexp_extract(trimmed, pattern, 1))
        return {self.value_col: msg}, keep & value.isNotNull()

    def tag_columns(self, df: DataFrame) -> tuple[DataFrame, dict[str, Column], Column]:
        return (df, *self._tag_columns)
