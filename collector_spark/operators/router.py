"""Rule-driven router — the reference's multi-output fan-out, made
predicate-aware.

Reference semantics (internal/app/manager/manager.go:179-216): every
configured output receives the SAME processed batch, sequentially; an
output error skips that output but the batch still commits. Our router
generalizes this: each sink has an optional CEL-subset predicate
(predicate absent = receives everything, exactly the reference behavior);
a row may match multiple sinks.

Physical strategy (scale):
- each route's match is its sink's flag in the pipeline's one write
  plan (``Pipeline.views``): a Spark write is a filtered view of one
  parent, persisted only when two or more Spark writes read it, so N
  sinks cost one materialization + N cheap filtered passes, not N
  recomputations (the reference re-reads its temp file per output,
  manager.go:190-199, the same idea on local disk); the driver filters
  one Arrow table by the same flags for every sink that takes rows;
- per-sink aggregate counts come from the same pass via ``groupBy`` over
  a routes array (``explode`` of matched sink names), one shuffle of
  (sink, count) partials only — map-side combined, tiny at any scale.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from collector_spark.operators.cel import ColumnCompiler, parse_rule
from collector_spark.operators.stage import variant_col, with_variant


@dataclass
class Route:
    """One sink: name + optional CEL-subset predicate."""

    name: str
    predicate: str | None = None  # None = match all rows (reference fan-out)

    def column(self, mode: str = "json", value_col: str = "value") -> Column:
        if self.predicate is None:
            return F.lit(True)
        ast = parse_rule(self.predicate)
        compiler = ColumnCompiler(mode=mode, value_col=value_col)
        return F.coalesce(compiler.compile(ast).cast("boolean"), F.lit(False))


class Router:
    """Fan a DataFrame out to named routes.

    split()         → {sink_name: filtered DataFrame view} of one parent
    sink_counts()   → DataFrame (sink, cnt) per-sink aggregate counts

    In json mode the predicates read the value's VARIANT companion; each
    adds it first unless the frame carries it already, and the views
    split() returns never carry it (a sink writes the value text only).
    """

    def __init__(self, routes: list[Route], mode: str = "json", value_col: str = "value"):
        if not routes:
            raise ValueError("at least one route required")
        names = [r.name for r in routes]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate route names: {names}")
        # names flow into selectExpr identifiers, F.sum aliases, and the
        # oracle SQL's string literals — reject anything that would be
        # SQL syntax (e.g. 'my-route' parses as subtraction; a quote
        # breaks the literal) at config time, like the reference's
        # config validation
        bad = [n for n in names if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", n)]
        if bad:
            raise ValueError(
                f"route names must match [A-Za-z_][A-Za-z0-9_]*: {bad}"
            )
        self.routes = routes
        self.mode = mode
        self.value_col = value_col

    @cached_property
    def _compiled(self) -> list[tuple[str, Column]]:
        return [(r.name, r.column(self.mode, self.value_col)) for r in self.routes]

    def _route_cols(self) -> list[tuple[str, Column]]:
        """(name, match) per route; a json-mode match reads the frame's
        VARIANT companion (see ``parsed``). Compiled on first use, then
        reused."""
        return self._compiled

    def parsed(self, df: DataFrame) -> DataFrame:
        """``df`` with the VARIANT companion the json-mode matches read."""
        if self.mode == "json" and any(r.predicate is not None for r in self.routes):
            return with_variant(df, self.value_col)
        return df

    def split(self, df: DataFrame) -> dict[str, DataFrame]:
        """N filtered views of ``df``, one per route (write each to its
        sink). Each view recomputes ``df`` unless the caller persists it,
        which pays only when more than one view is written."""
        df = self.parsed(df)
        parsed = variant_col(self.value_col)
        carries_parsed = parsed in df.columns
        views = {}
        for r, (name, col) in zip(self.routes, self._route_cols()):
            # a route without a predicate views the parent unfiltered
            view = df if r.predicate is None else df.filter(col)
            views[name] = view.drop(parsed) if carries_parsed else view
        return views

    def sink_counts(self, df: DataFrame) -> DataFrame:
        """Per-sink aggregate counts (the reference's per-output written
        count, e.g. internal/output/file/file.go:83-91) in ONE pass:
        sum of boolean matches per route — no explode, no extra shuffle
        beyond the final tiny aggregation."""
        aggs = [
            # COALESCE: empty input sums to NULL in Spark but the SQL
            # twin emits 0 — keep the two sides hash-identical
            F.coalesce(F.sum(col.cast("long")), F.lit(0)).alias(name)
            for name, col in self._route_cols()
        ]
        wide = self.parsed(df).agg(*aggs)
        # unpivot to (sink, cnt); names are backtick-quoted identifiers
        # (validated at __init__, but e.g. a reserved word still needs
        # quoting inside selectExpr)
        pairs = ", ".join(f"'{r.name}', `{r.name}`" for r in self.routes)
        return wide.selectExpr(
            f"stack({len(self.routes)}, {pairs}) as (sink, cnt)"
        )
