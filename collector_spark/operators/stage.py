"""The processor stage contract (``Processor``), and the VARIANT
companion of a JSON value column that the stages keep fresh. Like the
reference, each processor has one code path: it reads a batch and
writes the lines that survive it (manager.go:123-177).
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Processor:
    """Base of the built-in processors, which define only
    ``tag_columns(df) -> (frame, rewrites, keep)``: the rows of
    ``frame.withColumns(rewrites)`` are the stage's output, and ``keep``
    is a Column over that output. ``apply`` (plain mode) filters on it;
    ``Pipeline.transform_tagged`` (quarantine mode) tags the rows where
    it fails, so both modes drop the same rows. ``frame`` may add the
    VARIANT companion but changes no column (``Pipeline`` evaluates its
    own columns over it) and adds no scratch column (it would reach the
    output). A class sets ``keeps_variant = True`` when its rewrites
    leave the value's parse unchanged."""

    def tag_columns(self, df: DataFrame) -> tuple[DataFrame, dict[str, Column], Column]:
        raise NotImplementedError

    def apply(self, df: DataFrame) -> DataFrame:
        """The stage's output, filtered on ``keep``, with a fresh
        companion if ``df`` carried one."""
        frame, rewrites, keep = self.tag_columns(df)
        out = frame.withColumns(rewrites) if rewrites else frame
        return fresh(self, df, out.filter(keep), self.value_col)


def fresh(stage, received: DataFrame, out: DataFrame, value_col: str = "value") -> DataFrame:
    """``out``, which ``stage`` made from ``received``, with a companion
    that is the parse of its current value: any stage may rewrite the
    value, so the companion is re-derived unless the stage's class sets
    ``keeps_variant = True``."""
    if getattr(stage, "keeps_variant", False):
        return out
    return rederive_variant(received, out, value_col)


def bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` as a Generate output (so a top-level
    ``withColumns`` item only), ``value`` evaluated once per row: the
    one-element ``transform`` binds it (per-field copies of an 8-field
    grok regex ran 4-6x slower), and a filter on the output reads the
    column instead of re-running ``body`` (see ``with_variant``)."""
    return F.explode(F.transform(F.array(value), body))


# ---------------------------------------------------------------------------
# The VARIANT companion of a JSON value column: each value version is
# parsed once, and every json-mode reader reads the parse
# ---------------------------------------------------------------------------


def variant_col(value_col: str = "value") -> str:
    """Name of the VARIANT companion column of ``value_col``."""
    return f"_{value_col}_variant"


def json_trim(value: Column) -> Column:
    """``value`` without JSON whitespace (space, tab, LF, CR) at its ends,
    so an object line's last character is its closing brace (``F.trim``
    strips spaces only). A line with a brace at both ends, the common
    case, runs no regex. The class is written as regex escapes: a raw
    tab, LF or CR in a literal prints raw and splits a plan line."""
    return F.when(value.startswith("{") & value.endswith("}"), value).otherwise(
        F.regexp_extract(value, r"(?s)^[ \t\n\r]*(.*?)[ \t\n\r]*\z", 1)
    )


def with_variant(df: DataFrame, value_col: str = "value") -> DataFrame:
    """``df`` plus ``try_parse_json(value_col)`` as its VARIANT companion
    column, unless that column is already there. The only way the column
    is added; while present it is the parse of the current ``value_col``
    (a non-JSON or duplicate-key line parses to NULL).

    The parse is the only output of a Generate, not a ``withColumn``:
    FilterExec does no subexpression elimination, and Catalyst pushes a
    filter through a projected alias by inlining it, so N reads of a
    projected parse inside one filter would parse the line N times."""
    if variant_col(value_col) in df.columns:
        return df
    return _add_variant(df, value_col)


@functools.cache
def _variant_generator(value_col: str) -> Column:
    """The Generate that adds ``value_col``'s companion. A Column is
    plan-free (each use gets fresh expression ids), so one per value
    column serves every frame; built on first use, since building needs
    a live session."""
    parsed = F.try_parse_json(F.col(value_col)).alias(variant_col(value_col))
    return F.inline(F.array(F.struct(parsed)))


def _add_variant(df: DataFrame, value_col: str, keep: list[str] | None = None) -> DataFrame:
    """``df``'s columns ``keep`` (all by default) plus a fresh companion."""
    gen = _variant_generator(value_col)
    if keep is None:
        return df.select("*", gen)
    return df.select(*(F.col("`" + c.replace("`", "``") + "`") for c in keep), gen)


def rederive_variant(received: DataFrame, out: DataFrame, value_col: str = "value") -> DataFrame:
    """For a stage that rewrote ``value_col`` of ``received`` into ``out``:
    the companion parse of the old value is stale, so drop it, and parse
    the new value when the stage received a companion (a downstream
    reader expects one), in one projection (not a drop and a select:
    each is one more eagerly analysed frame). Without a companion on
    either frame it returns ``out`` itself."""
    name = variant_col(value_col)
    if name in received.columns:
        return _add_variant(out, value_col, [c for c in out.columns if c != name])
    return out.drop(name) if name in out.columns else out
