"""The north-star pages job as a reusable plan builder.

scan pages → native extract of embedded log lines (regexp_extract_all +
explode inside whole-stage codegen; the binary html column never leaves
the scan stage) → CEL filter → JSON mutate (native add) → broadcast
enrich (domain/tld lookups) → ONE aggregation pass whose per-category
row carries the per-route match sums, so per-sink counts (sum over
categories) and the category rollup come from a single map + one tiny
shuffle. Each JSON line is parsed twice, once per value version: the
CEL filter and the json add read the parse of the extracted line, the
route sums the parse of the mutated one, which the json add re-derives
(``stage.rederive_variant``).

Used by bench.py (the sweep and the ``scaling`` subcommand) and by
tests/test_plans_scale.py (physical-plan assertions: exactly one
exchange, broadcast-only joins, html-only-in-scan).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from collector_spark.datagen import lookup_dfs
from collector_spark.operators.cel import CelFilter
from collector_spark.operators.enrich import enrich_pages
from collector_spark.operators.extract import HtmlExtractor
from collector_spark.operators.json_mutate import JsonMutator
from collector_spark.operators.router import Route, Router

ROUTES = [
    Route("ok", "event.code == 200"),
    Route("errors", "event.code >= 400"),
    Route("all", None),
]

# One instance of each operator serves every batch: each compiles its
# Columns on first use (they need a live session) and reuses them, so a
# batch's plan build pays for its frames, not for rebuilding expressions.
_EXTRACT = HtmlExtractor(engine="native")
_CEL = CelFilter(rules=["event.code == 200 || event.code >= 400"], action="accept")
_JSON_ADD = JsonMutator(add=[{"key": "pipeline", "value": "bench"}], engine="native")
_ROUTER = Router(ROUTES)
_DIMS = ("domain_map", "tld_map")


@functools.cache
def _pages_columns() -> tuple[Column, list[Column]]:
    """(JSON-line test, per-route match sums), compiled once."""
    sums = [F.sum(col.cast("long")).alias(name) for name, col in _ROUTER._route_cols()]
    return F.col("value").startswith("{"), sums


def build_pages_agg(spark: SparkSession, pages: DataFrame, seed: int = 42) -> DataFrame:
    """(category, ok, errors, all) — one row per category."""
    is_json, sums = _pages_columns()
    lines = _EXTRACT.log_lines(pages, keep_cols=("url",)).filter(is_json)
    lines = _JSON_ADD.apply(_CEL.apply(lines))
    enriched = enrich_pages(lines, lookup_dfs(spark, seed, _DIMS))
    return enriched.groupBy("category").agg(*sums)


def run_pages_pipeline(spark: SparkSession, pages_path: str, seed: int = 42) -> dict:
    per_cat = build_pages_agg(spark, spark.read.parquet(pages_path), seed).collect()
    counts = {
        r.name: int(sum(row[r.name] or 0 for row in per_cat)) for r in ROUTES
    }
    return {"sink_counts": counts, "n_categories": len(per_cat)}
