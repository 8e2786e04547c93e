"""Enrichment — broadcast-join lookup tables.

The reference's only enrichment primitive is the json processor's
field-rewrite (internal/processor/json/json.go:110-120: replace value X
with Y when equal). Generalized here, per the north rule, to data-driven
broadcast joins against small dimension tables (lang/domain/tld maps).

Scale notes:
- lookups are always broadcast (``F.broadcast``) — never a shuffle join
  for a <100MB dim at any fact-table scale;
- ``url_domain``/``url_tld`` are native Catalyst expressions
  (parse_url-style regexp) so domain extraction costs no Python and no
  extra pass over the data;
- for skewed fact keys the join itself is fine under broadcast (no
  shuffle), which is exactly why broadcast is the right physical choice
  at 100 TB: the Zipf-heavy ``domain`` column never becomes a shuffle key.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DOMAIN_RE = r"^[a-z]+://([^/:?#]+)"


def url_domain(col: Column) -> Column:
    """Extract the host from a URL, JVM-side."""
    return F.regexp_extract(col, _DOMAIN_RE, 1)


def url_tld(col: Column) -> Column:
    """Last dot-label of the host."""
    return F.element_at(F.split(url_domain(col), r"\."), -1)


@functools.cache
def _url_parts() -> dict[str, Column]:
    """domain and tld of ``url``, compiled once."""
    url = F.col("url")
    return {"domain": url_domain(url), "tld": url_tld(url)}


DOMAIN_SQL = "regexp_extract({col}, '^[a-z]+://([^/:?#]+)', 1)"
TLD_SQL = "list_extract(string_split(regexp_extract({col}, '^[a-z]+://([^/:?#]+)', 1), '.'), -1)"


def enrich_pages(df: DataFrame, lookups: dict[str, DataFrame]) -> DataFrame:
    """Standard pages enrichment: derive domain/tld, join all three dims.

    All three joins are broadcast; Catalyst collapses them into one stage
    with no shuffle of the fact table.
    """
    out = df.withColumns(_url_parts())
    if "domain_map" in lookups:
        out = out.join(F.broadcast(lookups["domain_map"]), on="domain", how="left")
    if "tld_map" in lookups:
        out = out.join(F.broadcast(lookups["tld_map"]), on="tld", how="left")
    if "lang_map" in lookups:
        out = out.join(F.broadcast(lookups["lang_map"]), on="lang", how="left")
    return out
