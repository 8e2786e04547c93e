"""Driver contract for the spark-graft builder (PySpark target).

Each ``QUERIES`` row is one operator/pipeline from SURVEY.md §2 (or a
training-data op from the build brief), expressed with the
collector_spark engine, plus the equivalent DuckDB SQL that the driver
runs side-by-side at sf=0.01. ``queries()`` and ``oracle_sql()`` are
derived from that one table.

Column names and types are aligned on both sides (the driver hashes
values after sorting columns by name). Aggregate counts are cast to
BIGINT in DuckDB (its SUM returns HUGEINT); floats are rounded
identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SEVERITY_MOD = 10


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# 1. Flagship: parse → route → aggregate (collector's manager loop as one job)
# ---------------------------------------------------------------------------

_ROUTES = [
    ("errors", 'event.event_type == "error"'),
    ("high_value", "event.val > 90"),
    ("clicks_views", 'event.event_type in ["click", "view"]'),
    ("all_events", None),
]


def q_pipeline_parse_route_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events → JSON log lines (the reference's record model) → rule-driven
    router → per-sink aggregate counts (manager.go:190-216 semantics)."""
    from collector_spark.operators.router import Route, Router

    ev = _events(spark, sf_dir)
    lines = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("event_type"),
                F.col("value").alias("val"),
            )
        ).alias("value")
    )
    router = Router([Route(n, p) for n, p in _ROUTES], mode="json")
    return router.sink_counts(lines)


def _sql_pipeline_parse_route_agg() -> str:
    selects = []
    preds = {
        "errors": "event_type = 'error'",
        "high_value": "value > 90",
        "clicks_views": "event_type IN ('click', 'view')",
        "all_events": "TRUE",
    }
    for name, _ in _ROUTES:
        selects.append(
            f"SELECT '{name}' AS sink, CAST(SUM(CASE WHEN {preds[name]} THEN 1 ELSE 0 END) AS BIGINT) AS cnt FROM events"
        )
    return " UNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# 2/3. CEL filter accept/reject (processor `cel`, cel.go:50-88)
# ---------------------------------------------------------------------------

_CEL_RULE = 'event.k > 50 && event.event_type == "click"'


def _events_with_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).withColumn(
        "k", F.get_json_object("props", "$.k").try_cast("double")
    )


def q_cel_filter_accept(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.cel import CelFilter

    ev = _events_with_k(spark, sf_dir)
    filt = CelFilter(rules=[_CEL_RULE], action="accept", mode="columns")
    return filt.apply(ev).select("event_id")


def q_cel_filter_reject(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.cel import CelFilter

    ev = _events_with_k(spark, sf_dir)
    filt = CelFilter(rules=[_CEL_RULE], action="reject", mode="columns")
    return filt.apply(ev).select("event_id")


_SQL_CEL_PRED = (
    "COALESCE((TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50) "
    "AND (event_type = 'click'), FALSE)"
)

# cel-go time surface (engine.go:39-41 embeds the full cel-go env; the
# msgraph createdDateTime window rules, msgraph.go:105-132, are the
# reference use-case): a 5-day window expressed as a timestamp literal
# plus duration arithmetic, evaluated over the TIMESTAMP-typed ts column
_CEL_TIME_RULE = (
    'event.ts >= timestamp("2024-01-10T00:00:00Z") '
    '&& event.ts < timestamp("2024-01-10T00:00:00Z") + duration("120h")'
)


def q_cel_filter_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.cel import CelFilter

    ev = _events(spark, sf_dir)
    filt = CelFilter(rules=[_CEL_TIME_RULE], action="accept", mode="columns")
    return filt.apply(ev).select("event_id")


# hand-written oracle (NOT SqlCompiler-generated): epoch of
# 2024-01-10T00:00:00Z = 1704844800, 120h = 432000 s; DuckDB's naive
# TIMESTAMP cast is host-timezone-independent
_SQL_CEL_TIME = """
SELECT event_id FROM events
WHERE COALESCE(
  epoch(TRY_CAST(ts AS TIMESTAMP)) >= 1704844800.0
  AND epoch(TRY_CAST(ts AS TIMESTAMP)) < 1704844800.0 + 432000.0, FALSE)
"""


# ---------------------------------------------------------------------------
# Grok extraction (operators/grok.py) — the general %{PATTERN:field}
# form of the north rule's grok/regex parse stage. Access-log lines are
# constructed deterministically from the events table (the kv_roundtrip
# convention) and parsed back; the DuckDB oracle replays both the
# construction and the extraction with the same compiled regex.
# ---------------------------------------------------------------------------

_GROK_LOG_PATTERN = (
    r'%{INT:log_id} %{IP:client} - %{USER:user} \[%{TIMESTAMP_ISO8601:ts_str}\] '
    r'"%{WORD:method} %{NOTSPACE:path} HTTP/1.1" %{INT:status} %{INT:bytes}'
)


def _grok_log_line() -> "F.Column":
    method = (
        F.when(F.col("event_type") == "click", "GET")
        .when(F.col("event_type") == "view", "HEAD")
        .when(F.col("event_type") == "purchase", "POST")
        .when(F.col("event_type") == "error", "DELETE")
        .otherwise("PUT")
    )
    status = (
        F.when(F.col("value") > 90, F.lit(500))
        .when(F.col("value") > 50, F.lit(404))
        .otherwise(F.lit(200))
    )
    return F.concat(
        F.col("event_id").cast("string"),
        F.lit(" 10.0."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        F.expr("(user_id div 256) % 256").cast("string"),
        F.lit(" - user"),
        F.col("user_id").cast("string"),
        F.lit(" ["),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit('] "'),
        method,
        F.lit(" /api/"),
        F.col("event_type"),
        F.lit("/"),
        (F.col("event_id") % 100).cast("string"),
        F.lit(' HTTP/1.1" '),
        status.cast("string"),
        F.lit(" "),
        F.floor(F.col("value") * 10).cast("string"),
    )


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue on returned
    items in one quarter. Scale shape: lineitem filters on the return
    flag BEFORE the orderkey shuffle; the per-customer aggregate runs
    BEFORE customer/nation attach (aggregate-then-join keeps the wide
    customer row out of the big shuffle); nation broadcasts."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_SQL_RETURNED_CUSTOMERS = """
SELECT c_custkey, c_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate <  TIMESTAMP '1997-10-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with their customer. Scale shape: the HAVING aggregate
    runs first on (orderkey, qty) only — the big table collapses to the
    few qualifying keys before any wide row is joined."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 210)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey"))
    )


_SQL_LARGE_VOLUME = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 210)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey
"""


def q_rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day order revenue with a 7-day rolling sum (range frame over
    day numbers). Scale shape: the window input is the DAILY aggregate
    (one row per day — thousands of rows at any corpus size), so the
    global orderBy window is a deliberate tiny-table single partition,
    not a scale trap. The rolling sum runs over DECIMAL(18,2) so frame
    summation order cannot produce float drift against the oracle."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("day_rev"))
        .withColumn("_d", F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
    )
    w = Window.orderBy("_d").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "day_rev",
        F.sum(F.col("day_rev").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_rev"),
    )


_SQL_ROLLING_REV = """
SELECT day, day_rev,
       CAST(SUM(CAST(day_rev AS DECIMAL(18,2))) OVER (
         ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rolling_rev
FROM (
  SELECT CAST(o_orderdate AS DATE) AS day,
         ROUND(SUM(o_totalprice), 2) AS day_rev,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
  FROM orders GROUP BY 1, 3)
"""


def q_cel_filter_struct_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exists() over an array of OBJECTS (cel-go struct-element macro
    bodies): each event becomes {"items": [{t, v}, {t: "x", v: 2k}]}
    and the rule matches when the "x" item's value exceeds 150 —
    equivalently k > 75, which the hand-written oracle checks directly."""
    from collector_spark.operators.cel import CelFilter

    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").try_cast("double")
    items = F.array(
        F.struct(F.col("event_type").alias("t"), k.alias("v")),
        F.struct(F.lit("x").alias("t"), (k * 2).alias("v")),
    )
    lines = ev.select(
        "event_id", F.to_json(F.struct(items.alias("items"))).alias("value")
    )
    filt = CelFilter(
        rules=['event.items.exists(i, i.t == "x" && i.v > 150)'],
        action="accept",
        mode="json",
    )
    return filt.apply(lines).select("event_id")


_SQL_CEL_STRUCT_MACRO = """
SELECT event_id FROM events
WHERE COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) * 2 > 150, FALSE)
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel over events: signup → click (after it) →
    purchase (after that). Cross-row ORDER matching — inexpressible in
    the reference's per-line model; one pruned-scan groupBy per step."""
    from collector_spark.operators.funnel import funnel_counts

    return funnel_counts(
        _events(spark, sf_dir), ["signup", "click", "purchase"]
    )


_SQL_FUNNEL = """
WITH s0 AS (
  SELECT user_id AS u, MIN(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY 1),
s1 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t1
  FROM events e JOIN s0 ON e.user_id = s0.u
  WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1),
s2 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.u
  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1)
SELECT 0 AS step_idx, 'signup' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM s0
UNION ALL SELECT 1, 'click', CAST(COUNT(*) AS BIGINT) FROM s1
UNION ALL SELECT 2, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s2
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle over events: users bucketed by their
    first-activity week, distinct-counted in each later week they
    appear."""
    from collector_spark.operators.funnel import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir))


_SQL_RETENTION = """
WITH activity AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS p
  FROM events),
firsts AS (SELECT u, MIN(p) AS cohort FROM activity GROUP BY 1)
SELECT cohort,
       CAST(datediff('day', cohort, p) AS INT) AS days_since,
       CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
FROM activity JOIN firsts USING (u)
GROUP BY 1, 2
"""


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of events (exact counts, one
    aggregation pass, unpivoted without a per-column re-scan)."""
    from collector_spark.operators.profile import profile_columns

    return profile_columns(
        _events(spark, sf_dir), ["event_id", "user_id", "event_type", "value"]
    )


_SQL_PROFILE = """
SELECT 'event_id' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct FROM events
UNION ALL
SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
UNION ALL
SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events
UNION ALL
SELECT 'value', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT value) AS BIGINT) FROM events
"""


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-record parse: events rendered as CSV lines and parsed
    back through the native from_csv processor path (typed columns,
    malformed lines dropped)."""
    from collector_spark.operators.csv_parse import csv_extract

    ev = _events(spark, sf_dir)
    lines = ev.select(
        F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.col("event_type"),
            F.col("value").cast("string"),
        ).alias("value")
    )
    out = csv_extract(lines, "event_id bigint, event_type string, v double")
    return out.select("event_id", "event_type", F.round("v", 6).alias("v"))


_SQL_CSV_ROUNDTRIP = """
WITH lines AS (
  SELECT CAST(event_id AS VARCHAR) || ',' || event_type || ',' ||
         CAST(value AS VARCHAR) AS line
  FROM events)
SELECT CAST(split_part(line, ',', 1) AS BIGINT) AS event_id,
       split_part(line, ',', 2) AS event_type,
       ROUND(CAST(split_part(line, ',', 3) AS DOUBLE), 6) AS v
FROM lines
"""


def q_pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed consistent pseudonymization of user ids: per-pseudonym
    event counts must behave exactly like per-user counts (cardinality
    and group sizes preserved) while the ids are unlinkable without the
    secret — redaction would destroy this analysis."""
    from collector_spark.operators.textstats import pseudonymize_col

    ev = _events(spark, sf_dir)
    return (
        ev.select(pseudonymize_col(F.col("user_id"), "gate-secret").alias("pseudo"))
        .groupBy("pseudo")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def _sql_pseudonymize() -> str:
    from collector_spark.operators.textstats import pseudonymize_sql

    p = pseudonymize_sql("user_id", "gate-secret")
    return f"""
SELECT {p} AS pseudo, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
"""


def q_multiline_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline log merge (stack-trace folding): deterministic log
    lines constructed from events (per-event_type streams, start lines
    where value > 30), folded by the start-flag cumulative-sum window.
    One shuffle, partitioned by stream."""
    from collector_spark.operators.multiline import merge_multiline

    ev = _events(spark, sf_dir)
    lines = ev.select(
        F.col("event_type").alias("path"),
        F.col("event_id").alias("line_no"),
        F.when(
            F.col("value") > 30,
            F.concat(F.lit("ERR "), F.col("event_id").cast("string"), F.lit(" boom")),
        )
        .otherwise(F.concat(F.lit("  at frame "), F.col("event_id").cast("string")))
        .alias("value"),
    )
    return merge_multiline(lines, r"^ERR ")


_SQL_MULTILINE = """
WITH lines AS (
  SELECT event_type AS path, event_id AS line_no,
         CASE WHEN value > 30 THEN 'ERR ' || CAST(event_id AS VARCHAR) || ' boom'
              ELSE '  at frame ' || CAST(event_id AS VARCHAR) END AS v
  FROM events),
flagged AS (
  SELECT path, line_no, v,
         SUM(CASE WHEN regexp_matches(v, '^ERR ') THEN 1 ELSE 0 END)
           OVER (PARTITION BY path ORDER BY line_no) AS rec
  FROM lines)
SELECT path, CAST(rec AS BIGINT) AS record_no, MIN(line_no) AS start_line,
       string_agg(v, chr(10) ORDER BY line_no) AS record,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM flagged GROUP BY path, rec
"""


def q_cel_filter_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cel-go int() conversion in a rule over the raw props JSON lines
    (json mode): int(event.k) % 7 == 3 — conversion + arithmetic
    compiled to native Catalyst, truncation semantics aligned across
    Spark/DuckDB/Python (Conv docstring)."""
    from collector_spark.operators.cel import CelFilter

    ev = _events(spark, sf_dir)
    filt = CelFilter(
        rules=["int(event.k) % 7 == 3"], action="accept",
        mode="json", value_col="props",
    )
    return filt.apply(ev.select("event_id", "props")).select("event_id")


_SQL_CEL_CONV = """
SELECT event_id FROM events
WHERE COALESCE(
  TRY_CAST(TRUNC(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS BIGINT)
    % 7 = 3, FALSE)
"""


def q_grok_access_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.grok import grok_extract

    ev = _events(spark, sf_dir)
    lines = ev.select(_grok_log_line().alias("value"))
    out = grok_extract(lines, _GROK_LOG_PATTERN, value_col="value")
    return out.select(
        "log_id", "client", "user", "ts_str", "method", "path", "status", "bytes"
    )


def _sql_grok_access_log() -> str:
    from collector_spark.operators.grok import compile_grok

    regex, fields, types = compile_grok(_GROK_LOG_PATTERN)
    rx = ("^" + regex + "$").replace("'", "''")
    casts = {"bigint": "BIGINT"}
    cols = ", ".join(
        f"CAST(regexp_extract(line, '{rx}', {i + 1}) AS {casts[types[f]]}) AS {f}"
        if types[f] in casts
        else f"regexp_extract(line, '{rx}', {i + 1}) AS {f}"
        for i, f in enumerate(fields)
    )
    return f"""
WITH lines AS (
  SELECT CAST(event_id AS VARCHAR) || ' 10.0.' || CAST(user_id % 256 AS VARCHAR)
      || '.' || CAST(user_id // 256 % 256 AS VARCHAR)
      || ' - user' || CAST(user_id AS VARCHAR)
      || ' [' || strftime(ts, '%Y-%m-%dT%H:%M:%S') || '] "'
      || CASE event_type WHEN 'click' THEN 'GET' WHEN 'view' THEN 'HEAD'
              WHEN 'purchase' THEN 'POST' WHEN 'error' THEN 'DELETE'
              ELSE 'PUT' END
      || ' /api/' || event_type || '/' || CAST(event_id % 100 AS VARCHAR)
      || ' HTTP/1.1" '
      || CAST(CASE WHEN value > 90 THEN 500 WHEN value > 50 THEN 404
              ELSE 200 END AS VARCHAR)
      || ' ' || CAST(CAST(FLOOR(value * 10) AS BIGINT) AS VARCHAR) AS line
  FROM events)
SELECT {cols} FROM lines WHERE regexp_matches(line, '{rx}')
"""


# ---------------------------------------------------------------------------
# 4. JSON mutate (processor `json`, json.go:88-130)
# ---------------------------------------------------------------------------


def q_json_mutate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add source=events, replace k==50→0 on the raw props JSON lines,
    then extract the mutated fields."""
    from collector_spark.operators.json_mutate import JsonMutator

    ev = _events(spark, sf_dir)
    mut = JsonMutator(
        add=[{"key": "source", "value": "events"}],
        replace=[{"key": "k", "value": 50, "new_value": 0}],
        value_col="props",
    )
    out = mut.apply(ev.select("event_id", "props"))
    return out.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_after"),
        F.get_json_object("props", "$.source").alias("source"),
    )


_SQL_JSON_MUTATE = """
SELECT event_id,
       CAST(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) = 50
                 THEN 0
                 ELSE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS BIGINT) AS k_after,
       'events' AS source
FROM events
WHERE json_valid(props)
"""


# ---------------------------------------------------------------------------
# 5. Syslog PRI strip (processor `syslog` raw, syslog.go:96-99)
# ---------------------------------------------------------------------------


def q_syslog_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.syslog import SyslogParser

    docs = _documents(spark, sf_dir)
    lines = docs.select(
        "doc_id",
        F.concat(
            F.lit("<"), (F.col("doc_id") % 192).cast("string"), F.lit(">"), F.col("text")
        ).alias("value"),
    )
    return SyslogParser("raw").apply(lines).select("doc_id", "value")


_SQL_SYSLOG_STRIP = """
SELECT doc_id, value
FROM (SELECT doc_id,
             regexp_replace('<' || CAST(doc_id % 192 AS VARCHAR) || '>' || text,
                            '^<([0-9]+)>', '') AS value
      FROM documents)
WHERE length(trim(value)) > 0
"""


# ---------------------------------------------------------------------------
# 6. KV parse round-trip (processor `kv` raw, kv.go:107-157)
# ---------------------------------------------------------------------------


def q_kv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.kv import KvParser

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # kv values cannot contain spaces (the reference's parser rejects the
    # line, kv_test.go:42-47) — encode them first, like a real log would
    lines = orders.select(
        "o_orderkey",
        F.concat_ws(
            " ",
            F.concat(F.lit("status="), F.col("o_orderstatus")),
            F.concat(F.lit("prio="), F.translate(F.col("o_orderpriority"), " ", "_")),
        ).alias("value"),
    )
    out = KvParser(type="raw").apply(lines)
    return out.select(
        "o_orderkey",
        F.col("parsed")["status"].alias("status"),
        F.col("parsed")["prio"].alias("prio"),
    )


_SQL_KV_ROUNDTRIP = """
SELECT o_orderkey, o_orderstatus AS status,
       replace(o_orderpriority, ' ', '_') AS prio
FROM orders
"""


# ---------------------------------------------------------------------------
# 7. CEF parse round-trip (processor `kv` cef, cef.go:23-143)
# ---------------------------------------------------------------------------


def q_cef_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.kv import KvParser

    ev = _events(spark, sf_dir)
    lines = ev.select(
        F.concat(
            F.lit("CEF:0|collector_spark|events|1.0|"),
            F.col("event_type"),
            F.lit("|Event "),
            F.col("event_type"),
            F.lit("|"),
            (F.col("event_id") % SEVERITY_MOD).cast("string"),
            F.lit("|dvc=10.0.0.1 rt="),
            F.col("event_id").cast("string"),
            F.lit(" cat=events:synthetic"),
        ).alias("value")
    )
    out = KvParser(type="cef").apply(lines)
    return out.select(
        F.col("parsed.extensions")["rt"].try_cast("bigint").alias("event_id"),
        F.col("parsed.device_event_class_id").alias("class_id"),
        F.col("parsed.severity").alias("severity"),
        F.col("parsed.extensions")["cat"].alias("cat"),
    )


_SQL_CEF_ROUNDTRIP = f"""
SELECT event_id,
       event_type AS class_id,
       CAST(event_id % {SEVERITY_MOD} AS VARCHAR) AS severity,
       'events:synthetic' AS cat
FROM events
"""


# ---------------------------------------------------------------------------
# 8. Broadcast enrichment join (north rule lookup enrich)
# ---------------------------------------------------------------------------


def q_enrich_broadcast_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


_SQL_ENRICH = """
SELECT r_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# ---------------------------------------------------------------------------
# 9. Aggregation: pricing summary (TPC-H Q1 shape)
# ---------------------------------------------------------------------------


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# 10. Window ranking (gap list §2.7: sorts/top-k)
# ---------------------------------------------------------------------------


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


_SQL_WINDOW_TOP = """
SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# 11. Event-time tumbling window aggregation (gap list §2.7: event time)
# ---------------------------------------------------------------------------


def q_event_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


_SQL_EVENT_WINDOW = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# 12. Exact dedup (training-data op)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.dedup import exact_dup_groups

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    doubled = docs.unionAll(docs.withColumn("doc_id", F.col("doc_id") + 1000000))
    return exact_dup_groups(doubled, ["text"], "doc_id")


_SQL_DEDUP_EXACT = """
SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
FROM (SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text FROM documents)
GROUP BY md5(text)
HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# 13. MinHash-LSH near-dup (rows-only oracle: md5-based hash family is not
#     SQL-expressible; pinned against the Python oracle in pytest instead)
# ---------------------------------------------------------------------------


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.dedup import minhash_lsh_pairs

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    near = docs.withColumn("doc_id", F.col("doc_id") + 1000000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" tail marker"))
    )
    pairs = minhash_lsh_pairs(
        docs.unionAll(near), num_hashes=64, bands=16, threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"))


def _sql_minhash_lsh() -> str:
    """Full MinHash-LSH in DuckDB: the md5-seeded 31-bit affine family is
    EXACT integer math, so the (a, b) coefficients bake into SQL literals
    and the whole pipeline — shingling, signatures, banding, signature-
    agreement Jaccard — replays byte-identically. (Banding compares the
    band's signature slots directly where Spark buckets them through
    xxhash64 — identical pair sets modulo a ~2^-64 hash collision.)"""
    from collector_spark.oracle import _minhash_coeffs

    sig_terms = ",".join(
        f"CASE WHEN len(hl)=0 THEN 0 ELSE "
        f"list_min(list_transform(hl, h -> ({a}*h+{b})%2147483647)) END"
        for a, b in _minhash_coeffs(64, 42)
    )
    return f"""
WITH base AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || ' tail marker' FROM documents
  ) WHERE regexp_matches(text, '\\S')
),
words AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') ws
  FROM base
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) = 0 THEN []
              WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
              ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END shingles
  FROM words
),
hs AS (
  SELECT doc_id,
         list_transform(shingles,
           s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) & 2147483647) hl
  FROM sh
),
sig AS (SELECT doc_id, [{sig_terms}] sg FROM hs),
banded AS (SELECT doc_id, sg, unnest(range(0, 16)) band FROM sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.doc_id < r.doc_id
   AND l.sg[l.band*4 + 1 : l.band*4 + 4] = r.sg[r.band*4 + 1 : r.band*4 + 4]
)
SELECT id_a, id_b,
       ROUND(list_sum(list_transform(range(1, 65),
               i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 64.0,
             4) AS est_jaccard
FROM cand JOIN sig a ON cand.id_a = a.doc_id JOIN sig b ON cand.id_b = b.doc_id
WHERE list_sum(list_transform(range(1, 65),
        i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 64.0 >= 0.5
"""


# ---------------------------------------------------------------------------
# 14. SimHash fingerprints (rows-only oracle, pinned in pytest)
# ---------------------------------------------------------------------------


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.dedup import simhash_near_pairs

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    copies = docs.withColumn("doc_id", F.col("doc_id") + 1000000)
    return simhash_near_pairs(docs.unionAll(copies), max_hamming=0)


def _sql_simhash_pairs() -> str:
    """SimHash in DuckDB: md5(token) low-64 bits as UBIGINT, per-bit
    ±1 votes as 64 aggregates, fingerprint reassembled, hamming-0 pairs
    by fingerprint equality. Exact integer math — byte-identical to
    oracle.simhash64 / the Spark UDF."""
    vote_terms = ",".join(
        f"SUM(CASE WHEN (v >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    fp_terms = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS HUGEINT) ELSE 0 END"
        for i in range(64)
    )
    return f"""
WITH base AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents
  ) WHERE regexp_matches(text, '\\S')
),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) tok
  FROM base
),
tv AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) v FROM toks),
votes AS (SELECT doc_id, {vote_terms} FROM tv GROUP BY doc_id),
fp AS (
  SELECT base.doc_id, COALESCE({fp_terms}, 0) AS f
  FROM base LEFT JOIN votes USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
"""


def q_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup groups via min-label connected components
    with pointer jumping. The corpus is 4 generations of each doc chained
    by near-dup edges (doc ↔ doc+1M ↔ doc+2M ↔ doc+3M, diameter 3) — the
    oracle is the closed form (component = doc_id mod 1M), which only a
    correct transitive closure reproduces."""
    from collector_spark.operators.dedup import near_dedup_groups

    docs = _documents(spark, sf_dir).select("doc_id")
    gens = [docs.select((F.col("doc_id") + 1000000 * g).alias("doc_id")) for g in range(4)]
    corpus = gens[0]
    for g in gens[1:]:
        corpus = corpus.unionAll(g)
    edges = None
    for g in range(3):
        e = docs.select(
            (F.col("doc_id") + 1000000 * g).alias("id_a"),
            (F.col("doc_id") + 1000000 * (g + 1)).alias("id_b"),
        )
        edges = e if edges is None else edges.unionAll(e)
    out = near_dedup_groups(corpus, edges)
    return out.select("doc_id", "representative")


_SQL_CONNECTED = """
WITH gens AS (
  SELECT doc_id + 1000000 * g.g AS doc_id, doc_id AS representative
  FROM documents, (SELECT unnest(range(0, 4)) AS g) g
)
SELECT doc_id, representative FROM gens
"""


# ---------------------------------------------------------------------------
# 15. ANN brute-force cosine top-k
# ---------------------------------------------------------------------------

_ANN_K = 10
_ANN_NQ = 5


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.similarity import brute_force_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    out = brute_force_topk(emb, queries, k=_ANN_K, round_digits=6)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 4).alias("cosine")
    )


_SQL_ANN = f"""
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, ROUND(cosine, 4) AS cosine
FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])), 6) DESC,
                    b.vec_id ASC) AS rank
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id < {_ANN_NQ} AND b.vec_id <> a.vec_id
) WHERE rank <= {_ANN_K}
"""


# ---------------------------------------------------------------------------
# 16. Embedding near-dup pairs (identical copies → cosine 1.0)
# ---------------------------------------------------------------------------


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.similarity import embedding_near_dup_pairs

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.withColumn("vec_id", F.col("vec_id") + 1000000)
    pairs = embedding_near_dup_pairs(
        emb.unionAll(copies), threshold=0.9999, dim=64, bands=4, band_bits=16
    )
    return pairs.select("id_a", "id_b")


_SQL_EMB_NEAR_DUP = """
SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM embeddings
"""


# ---------------------------------------------------------------------------
# 17-19. Text analysis
# ---------------------------------------------------------------------------


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.textstats import lang_id_col

    docs = _documents(spark, sf_dir)
    return docs.select("doc_id", lang_id_col(F.col("text")).alias("pred_lang"))


def _sql_lang_id() -> str:
    from collector_spark.operators.textstats import lang_id_sql

    return f"SELECT doc_id, {lang_id_sql('text')} AS pred_lang FROM documents"


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format rollup: one row per user-id bucket, one column per
    event type (§2.7 relational surface). The pivot values are pinned
    explicitly — at scale an implicit pivot triggers a distinct-values
    job AND an unbounded column explosion; pinning keeps it one pass."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("bucket", (F.col("user_id") % 10).cast("int"))
        .groupBy("bucket")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )


_SQL_PIVOT = """
SELECT CAST(user_id % 10 AS INT) AS bucket,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY 1
"""


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc-length distribution (corpus profiling): exact
    interpolated percentiles, which match DuckDB's quantile_cont
    bit-for-bit. At 100 TB swap F.percentile for
    F.percentile_approx(..., accuracy) — same plan shape, bounded-memory
    sketch instead of per-group sorted lists."""
    docs = _documents(spark, sf_dir)
    ln = F.length("text")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile(ln, F.lit(0.5)), 2).alias("p50_chars"),
        F.round(F.percentile(ln, F.lit(0.95)), 2).alias("p95_chars"),
        F.max(ln).cast("int").alias("max_chars"),
    )


_SQL_DOC_QUANTILES = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(len(text), 0.5), 2) AS p50_chars,
       ROUND(quantile_cont(len(text), 0.95), 2) AS p95_chars,
       CAST(MAX(len(text)) AS INT) AS max_chars
FROM documents GROUP BY lang
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.textstats import quality_score_col, token_count_col

    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        quality_score_col(text_col="text").alias("quality"),
    )


def _sql_quality() -> str:
    from collector_spark.operators.textstats import TOKEN_COUNT_SQL, quality_score_sql

    return (
        f"SELECT doc_id, CAST({TOKEN_COUNT_SQL.format(col='text')} AS INT) AS n_tokens, "
        f"{quality_score_sql('text')} AS quality FROM documents"
    )


def q_token_count_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.textstats import (
        bpe_ish_token_count_col,
        token_count_col,
    )

    docs = _documents(spark, sf_dir)
    return (
        docs.withColumn("n_tokens", token_count_col(F.col("text")))
        .withColumn("n_bpe", bpe_ish_token_count_col(F.col("text")))
        .groupBy("lang")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _sql_token_count_agg() -> str:
    from collector_spark.operators.textstats import TOKEN_COUNT_SQL

    tc = TOKEN_COUNT_SQL.format(col="text")
    # bpe-ish segmentation (split at every alnum/non-alnum boundary,
    # whitespace filtered) counts exactly: alnum runs + non-alnum
    # non-space characters — expressible without the lookarounds RE2
    # lacks
    bpe = (
        "(len(regexp_extract_all(text, '[A-Za-z0-9]+')) + "
        "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')))"
    )
    return (
        f"SELECT lang, CAST(SUM({tc}) AS BIGINT) AS total_tokens, "
        f"CAST(SUM({bpe}) AS BIGINT) AS total_bpe_tokens, "
        f"CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang"
    )


def q_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    return docs.select("doc_id", F.md5(F.col("text")).alias("fp"))


_SQL_FP = "SELECT doc_id, md5(text) AS fp FROM documents"


def q_dedup_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint (also Python-oracle pinned in
    tests/test_training_ops.py; DuckDB oracle below replays the exact
    byte-wise fold in HUGEINT)."""
    from collector_spark.operators.textstats import fingerprint_col

    docs = _documents(spark, sf_dir)
    return docs.select("doc_id", fingerprint_col(F.col("text")).alias("fp"))


_SQL_FP_ROLLING = """
SELECT doc_id, CAST(list_reduce(
  list_prepend(CAST(0 AS HUGEINT),
    list_transform(range(1, octet_length(encode(text)) + 1),
      i -> CAST(CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS UBIGINT) AS HUGEINT))),
  (acc, b) -> (acc * 257 + b) % 2305843009213693951
) AS BIGINT) AS fp
FROM documents
"""


# ---------------------------------------------------------------------------
# 20. As-of join (custom operator, SURVEY.md §2.7 gap list)
# ---------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: each trade event gets the latest mark value
    (right.ts <= left.ts, same event_type). Single shuffle + window sweep,
    no range cross-join (operators/asof.py)."""
    from collector_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    marks = (
        ev.filter(F.col("event_id") % 20 == 0)
        .groupBy("event_type", "ts")
        .agg(F.max("value").alias("mark_value"))
    )
    trades = ev.filter(F.col("event_id") % 20 != 0).select(
        "event_id", "event_type", "ts"
    )
    out = asof_join(trades, marks, on=["event_type"], ts_col="ts")
    return out.select("event_id", F.round("mark_value", 4).alias("mark_value"))


_SQL_ASOF = """
WITH marks AS (
  SELECT event_type, ts, MAX(value) AS mark_value
  FROM events WHERE event_id % 20 = 0 GROUP BY event_type, ts
), trades AS (
  SELECT event_id, event_type, ts FROM events WHERE event_id % 20 <> 0
)
SELECT t.event_id, ROUND(m.mark_value, 4) AS mark_value
FROM trades t ASOF LEFT JOIN marks m
  ON t.event_type = m.event_type AND t.ts >= m.ts
"""


# ---------------------------------------------------------------------------
# 21. Gap-based sessionization (SURVEY.md §2.7: sessionization)
# ---------------------------------------------------------------------------

_SESSION_GAP_MIN = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag(F.col("ts")).over(w)
    gap = F.expr(f"INTERVAL {_SESSION_GAP_MIN} MINUTES")
    gapped = ev.withColumn(
        "new_s",
        F.when(prev.isNull() | ((F.col("ts") - prev) > gap), 1).otherwise(0),
    )
    sess = gapped.withColumn("session_id", F.sum("new_s").over(w))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
    )


_SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL {_SESSION_GAP_MIN} MINUTE
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events, MIN(ts) AS session_start
FROM s GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# 22. N-gram Jaccard dedup (training op; exact verify stage after LSH)
# ---------------------------------------------------------------------------


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs (doc, doc+tail) verified with exact 3-gram Jaccard;
    shingle sets built JVM-side (operators/dedup.py ngram_jaccard_pairs)."""
    from collector_spark.operators.dedup import ngram_jaccard_pairs

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    near = docs.withColumn("doc_id", F.col("doc_id") + 1000000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra tail words here"))
    )
    both = docs.unionAll(near)
    cand = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1000000).alias("id_b")
    )
    out = ngram_jaccard_pairs(both, cand, shingle_n=3, threshold=0.2)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


_SQL_NGRAM_JACCARD = r"""
WITH both_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' extra tail words here' FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(0, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 1)),
             i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i+1:i+3], ' ')
           )
         ) AS shingles
  FROM both_docs
)
SELECT id_a, id_b, ROUND(jac, 4) AS jaccard
FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.shingles, b.shingles))::DOUBLE
           / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jac
  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000
)
WHERE jac >= 0.2
"""


# ---------------------------------------------------------------------------
# 23. Rollup aggregation (SURVEY.md §2.7: grouping sets)
# ---------------------------------------------------------------------------


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.rollup("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_SQL_ROLLUP = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY ROLLUP (event_type)
"""


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimension cube (event_type × user bucket) — all four grouping
    combinations in one pass, map-side combined per grouping set."""
    ev = _events(spark, sf_dir).withColumn(
        "bucket", (F.col("user_id") % 4).cast("int")
    )
    return ev.cube("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_SQL_CUBE = """
SELECT event_type, CAST(user_id % 4 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY CUBE (event_type, (CAST(user_id % 4 AS INT)))
"""


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running revenue over event time — the ROWS UNBOUNDED
    PRECEDING window frame (§2.7 ranking/frames surface). One shuffle on
    user_id, per-partition ordered sweep, no self-join."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 97 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


_SQL_RUNNING = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
FROM events WHERE user_id % 97 = 0
"""


# ---------------------------------------------------------------------------
# 24. Set ops + distinct (SURVEY.md §2.7: set operations)
# ---------------------------------------------------------------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one order but no high-value (>400k) order:
    DISTINCT + EXCEPT."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    all_cust = orders.select("o_custkey").distinct()
    big_cust = orders.filter(F.col("o_totalprice") > 400000).select("o_custkey").distinct()
    return all_cust.exceptAll(big_cust)


_SQL_SET_OPS = """
SELECT DISTINCT o_custkey FROM orders
EXCEPT
SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000
"""


# ---------------------------------------------------------------------------
# 25. Shuffle join + aggregation (TPC-H Q3 shape; the big-join path with AQE)
# ---------------------------------------------------------------------------


def q_join_shuffle_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


_SQL_JOIN_SHUFFLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# 26. ANN via LSH buckets (scale path; EXACT DuckDB oracle: integer-
#     quantized hyperplane family — see similarity._hyperplanes_int)
# ---------------------------------------------------------------------------

_LSH_BANDS = 16
_LSH_BAND_BITS = 16


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-band sign-LSH in its honest regime: find planted high-cosine
    neighbors (deterministically perturbed copies, cosine ≈ 0.995) in a
    corpus.  16-bit band keys keep the candidate join sub-quadratic at
    any corpus size; recall comes from the 16 bands, not key narrowness
    (moderate-similarity ANN is ann_ivf_topk's job).

    Exactness: the perturbation is rational per-element scaling
    (1 + ((vec_id+i) mod 7 - 3)*0.05) — every step is one correctly-
    rounded IEEE op, so Spark and DuckDB produce bit-identical float32
    vectors — and ``quantized=True`` switches the sketch to the integer
    hyperplane family whose dot-product signs are exact int64 math.
    Together they make the full band→candidate→re-rank pipeline replay
    in DuckDB (round-2 VERDICT #2; was the last no_oracle row)."""
    from collector_spark.operators.similarity import lsh_topk

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    # perturb FIRST (lambda sees the original vec_id — aliasing the id in
    # the same select would make the lambda resolve against the shifted
    # value), then offset the id
    perturbed = emb.withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x, i: (
                x.cast("double")
                * (
                    F.lit(1.0)
                    + ((F.col("vec_id") + i) % 7 - F.lit(3)).cast("double")
                    * F.lit(0.05)
                )
            ).cast("float"),
        ),
    ).withColumn("vec_id", F.col("vec_id") + 1000000)
    corpus = emb.unionAll(perturbed)
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    out = lsh_topk(
        corpus,
        queries,
        k=_ANN_K,
        dim=64,
        bands=_LSH_BANDS,
        band_bits=_LSH_BAND_BITS,
        quantized=True,
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def _sql_ann_lsh() -> str:
    """Full sign-LSH ANN in DuckDB: the integer hyperplane coefficients
    bake into a VALUES table; embeddings quantize to floor(v*2^20)
    (exact — float32→double is lossless, *2^20 shifts the exponent);
    band keys are SUM(sign<<bit) in pure BIGINT math; candidates and the
    cosine re-rank then mirror lsh_topk step for step."""
    from collector_spark.operators.similarity import QUANT_SCALE, _hyperplanes_int

    dim = 64
    planes = _hyperplanes_int(dim, _LSH_BANDS * _LSH_BAND_BITS, 42)
    rows = ",\n".join(
        f"({b},{t},[{','.join(str(int(c)) for c in planes[b * _LSH_BAND_BITS + t])}])"
        for b in range(_LSH_BANDS)
        for t in range(_LSH_BAND_BITS)
    )
    return f"""
WITH planes(band, bit, w) AS (VALUES
{rows}),
base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(1, {dim + 1}),
           i -> CAST(CAST(CAST(embedding[i] AS DOUBLE)
                          * (1.0 + ((vec_id + (i - 1)) % 7 - 3) * 0.05)
                     AS FLOAT) AS DOUBLE))
  FROM embeddings
),
quant AS (
  SELECT vec_id,
         list_transform(ev, v -> CAST(FLOOR(v * {QUANT_SCALE}.0) AS BIGINT)) AS qe
  FROM base
),
sig AS (
  SELECT vec_id, band,
         SUM(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
                                               j -> w[j] * qe[j])) >= 0
                  THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS bv
  FROM quant, planes
  GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM (SELECT * FROM sig WHERE vec_id < {_ANN_NQ}) q
  JOIN sig c ON q.band = c.band AND q.bv = c.bv AND c.vec_id <> q.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_cosine_similarity(a.ev, b.ev), 6) AS cosine
  FROM cand
  JOIN base a ON cand.query_id = a.vec_id
  JOIN base b ON cand.neighbor_id = b.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, ROUND(cosine, 4) AS cosine
FROM (SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= {_ANN_K}
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list ANN with all lists probed → exact results, so
    the brute-force DuckDB oracle applies (the approximate path is
    recall-tested in tests/test_training_ops.py). Exercises the
    suggest_n_centroids sqrt(N) default via corpus_rows_hint — the
    production sizing path — rather than a hand-picked n_centroids."""
    from collector_spark.operators.similarity import ivf_topk, suggest_n_centroids

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    rows = emb.count()  # at scale this hint comes free from table stats
    out = ivf_topk(
        emb,
        queries,
        k=_ANN_K,
        dim=64,
        corpus_rows_hint=rows,
        n_probe=suggest_n_centroids(rows),
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with distributed k-means-refined centroids (2 Lloyd
    iterations). All lists probed → still exact, so the same brute-force
    oracle applies; the refinement's recall effect at n_probe <
    n_centroids is pinned in tests/test_training_ops.py."""
    from collector_spark.operators.similarity import ivf_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    out = ivf_topk(
        emb, queries, k=_ANN_K, dim=64, n_centroids=16, n_probe=16, kmeans_iters=2
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 4).alias("cosine")
    )


# ---------------------------------------------------------------------------
# 27/28. Multimodal plumbing (decode stubbed per build brief; Spark-side
#        schema/batching real — operators/multimodal.py)
# ---------------------------------------------------------------------------


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").alias("media_id"), F.col("text").cast("binary").alias("data")
    )


def _hex_be32(x):
    return F.lpad(F.hex(x), 8, "0")


def _hex_le16(x):
    h = F.lpad(F.hex(x), 4, "0")
    return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))


def _hex_le32(x):
    h = F.lpad(F.hex(x), 8, "0")
    return F.concat(
        F.substring(h, 7, 2), F.substring(h, 5, 2),
        F.substring(h, 3, 2), F.substring(h, 1, 2),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL header parsing round-trip (round-4 VERDICT #3): each doc is
    wrapped in a genuine container header — PNG / GIF / WAV by doc_id%3,
    dimensions and duration derived from doc fields — built JVM-side as
    hex → unhex binary, then ``parse_media_header`` recovers them from
    the BYTES inside the mapInPandas stage. The DuckDB oracle replays
    the closed-form generator, so a parser that misreads any offset or
    endianness hash-mismatches. Real-world fixture files (actual
    PNG/GIF/JPEG/WAV bytes) pin the parser in tests/test_multimodal.py."""
    from collector_spark.operators.multimodal import extract_media_features

    docs = _documents(spark, sf_dir)
    w = (F.col("n_chars") % 800 + 1).cast("int")
    h = (F.col("doc_id") % 600 + 1).cast("int")
    wav_data = ((F.col("n_chars") % 1000 + 1) * 64).cast("int")
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        _hex_be32(w), _hex_be32(h),
    )
    gif_hex = F.concat(F.lit("474946383961"), _hex_le16(w), _hex_le16(h))
    wav_hex = F.concat(
        F.lit("52494646"), _hex_le32(wav_data + 36), F.lit("57415645"),
        F.lit("666D7420"), _hex_le32(F.lit(16)),
        _hex_le16(F.lit(1)), _hex_le16(F.lit(1)),
        _hex_le32(F.lit(16000)), _hex_le32(F.lit(32000)),
        _hex_le16(F.lit(2)), _hex_le16(F.lit(16)),
        F.lit("64617461"), _hex_le32(wav_data),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(
            F.when(F.col("doc_id") % 3 == 0, png_hex)
            .when(F.col("doc_id") % 3 == 1, gif_hex)
            .otherwise(wav_hex)
        ).alias("data"),
    )
    out = extract_media_features(media, media_type="image", fmt="bin")
    return out.select(
        "media_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


_SQL_MULTIMODAL_META = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 2 THEN 'audio' ELSE 'image' END AS media_type,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'wav' END AS format,
       CASE WHEN doc_id % 3 < 2 THEN CAST(n_chars % 800 + 1 AS INT) END AS width,
       CASE WHEN doc_id % 3 < 2 THEN CAST(doc_id % 600 + 1 AS INT) END AS height,
       CASE WHEN doc_id % 3 = 2
            THEN CAST(((n_chars % 1000 + 1) * 64) * 1000 // 32000 AS BIGINT)
       END AS duration_ms,
       CAST(CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 10 ELSE 44 END AS BIGINT)
           AS n_bytes
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature vectors from the stubbed decoder, projected to a hashable
    form: each float is b/255.0 for one sha256 byte, so reconstructing the
    byte and hex-encoding yields exactly ``substr(sha256(text), 1, 32)`` —
    a DuckDB-checkable strong equality on the full vector."""
    from collector_spark.operators.multimodal import extract_media_features

    out = extract_media_features(_media_df(spark, sf_dir))
    hex_bytes = F.transform(
        "features",
        lambda x: F.lpad(F.lower(F.hex(F.round(x * 255).cast("int"))), 2, "0"),
    )
    return out.select(
        "media_id",
        F.size("features").alias("feat_dim"),
        F.concat_ws("", hex_bytes).alias("feat_hex"),
    )


_SQL_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id,
       CAST(16 AS INT) AS feat_dim,
       substr(sha256(text), 1, 32) AS feat_hex
FROM documents
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.multimodal import frame_sample_plan

    frames = frame_sample_plan(_media_df(spark, sf_dir))
    return frames.select(
        "media_id", "frame_idx", F.length("frame").alias("frame_bytes")
    )


_SQL_FRAME_SAMPLE = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(CAST(text AS BLOB)) AS n_bytes
  FROM documents
)
SELECT media_id, CAST(u.i AS INT) AS frame_idx,
       CAST(least(1024, n_bytes - u.i * 1024) AS INT) AS frame_bytes
FROM m, UNNEST(range(0, greatest(least(CAST(floor(n_bytes / 1024) AS INT), 16), 1))) AS u(i)
"""


# ---------------------------------------------------------------------------
# 29/30. Redaction + repetition signal (training-data hygiene)
# ---------------------------------------------------------------------------


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.textstats import redact_col

    docs = _documents(spark, sf_dir)
    salted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"), F.lit(" contact bob@example.com from 10.1.2.3")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return salted.select("doc_id", redact_col(F.col("text")).alias("clean"))


def _sql_redact() -> str:
    from collector_spark.operators.textstats import redact_sql

    inner = (
        "CASE WHEN doc_id % 3 = 0 "
        "THEN text || ' contact bob@example.com from 10.1.2.3' "
        "ELSE text END"
    )
    return f"SELECT doc_id, {redact_sql(inner)} AS clean FROM documents"


def q_distinct_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collector_spark.operators.textstats import distinct_token_ratio_col

    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id", distinct_token_ratio_col(F.col("text")).alias("distinct_ratio")
    )


def _sql_distinct_ratio() -> str:
    from collector_spark.operators.textstats import distinct_token_ratio_sql

    return (
        f"SELECT doc_id, {distinct_token_ratio_sql('text')} AS distinct_ratio "
        "FROM documents"
    )


# ---------------------------------------------------------------------------
# 31-33. Semi/anti joins + multi-join aggregation (§2.7 relational surface)
# ---------------------------------------------------------------------------


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers WITH at least one urgent order (left semi join)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


_SQL_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO urgent orders (left anti join).

    Anti-joins against the '1-URGENT' order subset rather than all orders:
    at every TPC-H sf every in-range customer has *some* order, so the
    all-orders variant passed vacuously at 0 rows (round-2 VERDICT #1).
    This variant returns a known non-empty complement of q_semi_join.
    """
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey")


_SQL_ANTI = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


def q_multi_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation through a 5-table join chain."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SQL_MULTI_JOIN = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# 34. CEL macros (cel-go exists_one / filter / map — engine.go:39-41 embeds
#     the full cel-go env, so these are legal in reference rules)
# ---------------------------------------------------------------------------

# exercises the three list-valued macro forms: filter().size(),
# exists_one(), and `lit in map()` — over a numeric list column
_CEL_MACRO_RULE = (
    "event.nums.filter(x, x >= 50.0).size() == 2"
    " || event.nums.exists_one(x, x > 300.0)"
    " || 0.0 in event.nums.map(n, n % 2.0)"
)


def q_cel_filter_macros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cel-go macro surface over a numeric list column (columns mode):
    keep events where both k and value are >= 50, or exactly one of them
    exceeds 300, or either is an even number."""
    from collector_spark.operators.cel import CelFilter

    ev = _events_with_k(spark, sf_dir).withColumn(
        "nums", F.array(F.coalesce(F.col("k"), F.lit(-1.0)), F.col("value"))
    )
    filt = CelFilter(rules=[_CEL_MACRO_RULE], action="accept", mode="columns")
    return filt.apply(ev).select("event_id")


_SQL_CEL_MACROS = """
SELECT event_id FROM (
  SELECT event_id,
         [COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), -1.0),
          value] AS nums
  FROM events
)
WHERE COALESCE(len(list_filter(nums, x -> x >= 50.0)) = 2, FALSE)
   OR COALESCE(len(list_filter(nums, x -> x > 300.0)) = 1, FALSE)
   OR COALESCE(list_contains(list_transform(nums, n -> n % 2.0), 0.0), FALSE)
"""


# ---------------------------------------------------------------------------
# 35-37. More relational shapes: top-k join agg (TPC-H Q3), EXISTS with a
# non-equi condition (Q4), correlated-aggregate decorrelation (Q17)
# ---------------------------------------------------------------------------


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 open orders by revenue for one market
    segment. Plan shape for scale: the filtered customer dim broadcasts;
    the only shuffle is lineitem⋈orders on the order key + the top-k."""
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    ord_c = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        li.join(ord_c, li.l_orderkey == ord_c.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_SQL_TOP_REVENUE = """
SELECT l_orderkey, o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one lineitem shipped >60 days
    after the order date, counted per priority. The non-equi predicate
    rides on the equi semi-join key — one shuffle on the order key."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_SQL_LATE_SHIPMENT = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-half-average-quantity
    lineitems. The correlated scalar subquery decorrelates into a
    per-part aggregate re-joined on l_partkey — both sides shuffle on
    the same key, so the join is co-partitioned.

    Exactness note: l_quantity is integer-valued, so AVG is
    order-independent (exact double sums below 2^53) and the `<`
    boundary is replayable; only the final price SUM needs rounding."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part_avg = li.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("qty_limit")
    )
    small = li.join(part_avg, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_limit")
    )
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
    )


_SQL_SMALL_QTY = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN (SELECT l_partkey AS pk, 0.5 * AVG(l_quantity) AS qty_limit
      FROM lineitem GROUP BY l_partkey) p
  ON l.l_partkey = p.pk
WHERE l.l_quantity < p.qty_limit
"""


# ---------------------------------------------------------------------------
# Corpus-hygiene training-data ops (operators/corpus.py) — decontamination,
# duplication profiling, repetition filter, vocab histogram, hash split
# ---------------------------------------------------------------------------

_BENCH_SOURCES = ("src0", "src1")


def _duck_ngrams(n: int, where: str = "TRUE", distinct: bool = True) -> str:
    """DuckDB CTE body producing (doc_id, source, g) word n-grams with the
    same tokenize-then-slide contract as corpus.word_ngrams_exploded."""
    d = "DISTINCT " if distinct else ""
    return f"""
  SELECT {d}doc_id, source, array_to_string(t[i:i+{n - 1}], ' ') AS g
  FROM (SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS t
        FROM documents WHERE {where}),
       UNNEST(range(1, greatest(len(t)-{n - 1}, 0)+1)) AS r(i)"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of
    its distinct 8-grams that appear anywhere in the benchmark subset
    (sources src0/src1 stand in for an eval set). The published LM
    decontamination rule (n-gram overlap at n=8..13); beyond-reference
    training-data op."""
    from collector_spark.operators.corpus import contamination_profile

    docs = _documents(spark, sf_dir)
    bench = docs.filter(F.col("source").isin(*_BENCH_SOURCES))
    train = docs.filter(~F.col("source").isin(*_BENCH_SOURCES))
    return contamination_profile(train, bench, n=8)


def _sql_contamination() -> str:
    srcs = ", ".join(f"'{s}'" for s in _BENCH_SOURCES)
    return f"""
WITH grams AS ({_duck_ngrams(8)}),
bench AS (SELECT DISTINCT substr(md5(g),1,16) AS k
          FROM grams WHERE source IN ({srcs})),
train AS (SELECT doc_id, substr(md5(g),1,16) AS k
          FROM grams WHERE source NOT IN ({srcs})),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id),
hits AS (SELECT t.doc_id, COUNT(*) AS hit_grams
         FROM train t JOIN bench b ON t.k = b.k GROUP BY t.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(hit_grams, 0) AS BIGINT) AS hit_grams,
       ROUND(COALESCE(hit_grams / CAST(n_grams AS DOUBLE), 0.0), 6)
         AS contamination_ratio
FROM documents d
LEFT JOIN totals USING (doc_id) LEFT JOIN hits USING (doc_id)
WHERE d.source NOT IN ({srcs})
"""


def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-Bloom decontamination screen (corpus.bloom_contamination):
    the zero-train-shuffle scale path next to contamination_check — the
    benchmark 8-grams fold into a broadcast 2^16-bit bitmap and the
    training side is map-only. Flagged = Bloom-positive (hits + the
    filter's deterministic false positives, replayed exactly by the
    oracle)."""
    from collector_spark.operators.corpus import bloom_contamination

    docs = _documents(spark, sf_dir)
    bench = docs.filter(F.col("source").isin(*_BENCH_SOURCES))
    train = docs.filter(~F.col("source").isin(*_BENCH_SOURCES))
    return bloom_contamination(train, bench, n=8, k=4)


def _sql_bloom_contamination() -> str:
    srcs = ", ".join(f"'{s}'" for s in _BENCH_SOURCES)
    probe = lambda j: (  # noqa: E731 — j-th 16-bit md5 slice as BIGINT
        f"CAST(CAST(('0x'||substr(h, {1 + 4 * j}, 4)) AS UBIGINT) AS BIGINT)"
    )
    probes = ", ".join(f"{probe(j)} AS p{j}" for j in range(4))
    tests = " AND ".join(
        f"COALESCE((b{j}.b & (CAST(1 AS BIGINT) << CAST(p{j} % 32 AS INT)))"
        f" <> 0, FALSE)"
        for j in range(4)
    )
    joins = "\n".join(
        f"LEFT JOIN bits b{j} ON b{j}.w = p{j} // 32" for j in range(4)
    )
    return f"""
WITH grams AS ({_duck_ngrams(8)}),
bench AS (SELECT DISTINCT md5(g) AS h FROM grams WHERE source IN ({srcs})),
pos AS (SELECT unnest([{", ".join(probe(j) for j in range(4))}]) AS p FROM bench),
bits AS (SELECT p // 32 AS w,
                BIT_OR(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS b
         FROM pos GROUP BY 1),
train AS (SELECT DISTINCT doc_id, md5(g) AS h
          FROM grams WHERE source NOT IN ({srcs})),
pr AS (SELECT doc_id, {probes} FROM train),
fl AS (SELECT pr.doc_id, {tests} AS f
       FROM pr
{joins}),
agg AS (SELECT doc_id, COUNT(*) AS n_grams,
               SUM(CASE WHEN f THEN 1 ELSE 0 END) AS flagged_grams
        FROM fl GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(flagged_grams, 0) AS BIGINT) AS flagged_grams,
       ROUND(COALESCE(flagged_grams / CAST(n_grams AS DOUBLE), 0.0), 6)
         AS flagged_ratio
FROM documents d LEFT JOIN agg USING (doc_id)
WHERE d.source NOT IN ({srcs})
"""


def q_dup_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplication profile: per document, the share of its
    distinct 5-grams occurring in at least one OTHER document (document
    frequency >= 2). The profiling half of exact-substring training-data
    dedup (Lee et al. 2021)."""
    from collector_spark.operators.corpus import dup_span_profile

    return dup_span_profile(_documents(spark, sf_dir), n=5)


def _sql_dup_span() -> str:
    return f"""
WITH grams AS ({_duck_ngrams(5)}),
keyed AS (SELECT doc_id, substr(md5(g),1,16) AS k FROM grams),
dfq AS (SELECT k, COUNT(*) AS df FROM keyed GROUP BY k),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS dup_grams
  FROM keyed JOIN dfq USING (k) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(dup_grams, 0) AS BIGINT) AS dup_grams,
       ROUND(COALESCE(dup_grams / CAST(n_grams AS DOUBLE), 0.0), 6)
         AS dup_ratio
FROM documents d LEFT JOIN per_doc USING (doc_id)
"""


def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup surgery: cut every token covered by a
    5-gram occurring in >= 2 distinct documents and reassemble the rest
    (Lee et al. 2021 span removal, distributed as a gram-DF join)."""
    from collector_spark.operators.corpus import remove_duplicated_spans

    return remove_duplicated_spans(_documents(spark, sf_dir), n=5)


def _sql_span_removal(n: int = 5) -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') END AS t
  FROM documents),
grams AS (
  SELECT doc_id, i-1 AS pos,
         substr(md5(array_to_string(t[i:i+{n - 1}], ' ')), 1, 16) AS k
  FROM base, UNNEST(range(1, greatest(len(t)-{n - 1}, 0)+1)) AS r(i)),
dup AS (SELECT k FROM grams GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS idx
  FROM grams JOIN dup USING (k), UNNEST(range(0, {n})) AS u(j)),
tokens AS (
  SELECT doc_id, i-1 AS idx, t[i] AS tok
  FROM base, UNNEST(range(1, len(t)+1)) AS r(i)),
kept AS (
  SELECT tk.doc_id, tk.idx, tk.tok FROM tokens tk
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = tk.doc_id AND c.idx = tk.idx)),
reass AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text,
         COUNT(*) AS kept_tokens
  FROM kept GROUP BY doc_id)
SELECT b.doc_id,
       COALESCE(clean_text, '') AS clean_text,
       CAST(COALESCE(kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(len(t) - COALESCE(kept_tokens, 0) AS BIGINT) AS removed_tokens
FROM base b LEFT JOIN reass USING (doc_id)
"""


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signal: top-trigram share per document
    (the C4/Gopher repetition-removal filter family)."""
    from collector_spark.operators.corpus import repetition_profile

    return repetition_profile(_documents(spark, sf_dir), n=3)


def _sql_repetition() -> str:
    return f"""
WITH grams AS ({_duck_ngrams(3, distinct=False)}),
per_gram AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
per_doc AS (SELECT doc_id, SUM(c) AS n_grams, MAX(c) AS top_count
            FROM per_gram GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(top_count, 0) AS BIGINT) AS top_count,
       ROUND(COALESCE(top_count / CAST(n_grams AS DOUBLE), 0.0), 6)
         AS top_share
FROM documents d LEFT JOIN per_doc USING (doc_id)
"""


def q_quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style keep/drop filter with per-document drop reason
    (first-failing-rule-wins: too_short → low_diversity → lang)."""
    from collector_spark.operators.corpus import quality_filter_report

    return quality_filter_report(_documents(spark, sf_dir))


_SQL_QUALITY_FILTER = """
SELECT doc_id, reason, reason = 'kept' AS keep
FROM (
  SELECT doc_id,
         CASE WHEN wc < 25 THEN 'too_short'
              WHEN dr < 0.35 THEN 'low_diversity'
              WHEN lang NOT IN ('en','de','fr','es') THEN 'lang'
              ELSE 'kept' END AS reason
  FROM (SELECT doc_id, lang,
               len(t) AS wc,
               len(list_distinct(t)) / CAST(len(t) AS DOUBLE) AS dr
        FROM (SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS t
              FROM documents)))
"""


def q_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document most-salient token: max term frequency, ties broken
    by lower corpus document frequency then token — the TF-IDF argmax on
    exact integer keys (no float idf, fully replayable)."""
    from collector_spark.operators.corpus import salient_terms

    return salient_terms(_documents(spark, sf_dir))


_SQL_SALIENT_TERMS = """
WITH toks AS (
  SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS t
  FROM documents WHERE trim(text) <> ''),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY doc_id, t),
dfq AS (SELECT t, COUNT(*) AS df_docs FROM tf GROUP BY t),
ranked AS (
  SELECT doc_id, t AS term, CAST(tf AS BIGINT) AS tf,
         CAST(df_docs AS BIGINT) AS df_docs,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, df_docs ASC, t ASC) AS rn
  FROM tf JOIN dfq USING (t))
SELECT doc_id, term, tf, df_docs FROM ranked WHERE rn = 1
"""


def q_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM token-id encoding: top-500 vocabulary (deterministic id order),
    docs truncated at 16 positions, OOV → -1. The vocabulary broadcasts,
    so encoding is a map-only stage over the exploded corpus."""
    from collector_spark.operators.corpus import encode_tokens

    return encode_tokens(
        _documents(spark, sf_dir), vocab_size=500, max_pos=16
    )


_SQL_ENCODE_TOKENS = """
WITH vocab AS (
  SELECT token,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS INT) AS token_id
  FROM (
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT UNNEST(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS token
          FROM documents)
    GROUP BY token ORDER BY cnt DESC, token LIMIT 500)
),
toks AS (
  SELECT doc_id, CAST(pos AS INT) AS pos, t[pos + 1] AS token FROM (
    SELECT doc_id, t, UNNEST(range(len(t))) AS pos
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS t
          FROM documents))
  WHERE pos < 16
)
SELECT doc_id, pos, COALESCE(token_id, -1) AS token_id
FROM toks LEFT JOIN vocab USING (token)
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary histogram head: top-50 tokens by corpus
    frequency (tie-broken by token). TakeOrderedAndProject top-k — the
    full sort is never materialized."""
    from collector_spark.operators.corpus import vocab_top_k

    return vocab_top_k(_documents(spark, sf_dir), k=50)


_SQL_VOCAB_TOPK = """
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT UNNEST(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS token
      FROM documents WHERE trim(text) <> '')
GROUP BY token ORDER BY cnt DESC, token LIMIT 50
"""


def q_hash_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/val/test split (80/10/10) with
    per-split count and mean document size — stable across runs,
    machines, and partitionings, unlike an RNG split."""
    from collector_spark.operators.corpus import split_summary

    return split_summary(_documents(spark, sf_dir))


_SQL_HASH_SPLIT = """
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_size
FROM (SELECT n_chars,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT n_chars,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS UBIGINT) % 100 AS b
            FROM documents))
GROUP BY split
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM sequence packing: docs laid end-to-end in id order, token
    stream cut into 512-token bins, each doc assigned its start bin.
    Distributed two-phase prefix sum (id-range bucket partials + tiny
    offset window) — no global single-partition window."""
    from collector_spark.operators.corpus import pack_sequences

    return pack_sequences(_documents(spark, sf_dir), budget=512)


_SQL_PACK = """
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(FLOOR(start_tok / 512.0) AS BIGINT) AS bin_id
FROM (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM (SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) END AS n_tokens
        FROM documents))
"""

_SAMPLE_RATES = {"en": 50, "de": 25, "zh": 10}


def q_stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (md5-bucket thresholds per
    language stratum; 20% default) — per-stratum kept counts."""
    from collector_spark.operators.corpus import stratified_sample

    kept = stratified_sample(
        _documents(spark, sf_dir),
        rates=_SAMPLE_RATES,
        default_pct=20,
        strat_col="lang",
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("kept"))


def _sql_stratified() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_SAMPLE_RATES.items())
    )
    return f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS kept
FROM (SELECT lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 100 AS b,
             CASE {whens} ELSE 20 END AS rate
      FROM documents)
WHERE b < rate GROUP BY lang
"""


def q_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gaps via lag() — lead/lag window coverage.
    Gaps in exact integer microseconds (unix_micros ↔ DuckDB epoch_us)
    so the avg is replayable bit-for-bit after one rounding."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _events(spark, sf_dir).withColumn(
        # timestamp_diff is naive wall-clock arithmetic — works on the
        # TIMESTAMP_NTZ parquet column and is session-timezone-independent
        # (unix_micros would need an NTZ→LTZ cast whose epoch depends on
        # the session tz), matching DuckDB's naive epoch_us difference.
        "gap_us",
        F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts")),
    )
    return (
        ev.filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_us"), 4).alias("avg_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


_SQL_EVENT_GAPS = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(AVG(gap_us), 4) AS avg_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
"""


def q_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry rate anomaly: per-event-type hourly counts z-scored
    against that type's own hourly distribution (the alerting query a
    log pipeline runs over its routed stream). Two aggregation
    shuffles — hourly buckets, then per-type moments — and the tiny
    per-type stats table broadcasts back onto the buckets; no window
    over the full stream. stddev_samp of a single-bucket type is NULL
    and the s > 0 guard drops it on both engines (keeps the division
    ANSI-safe too)."""
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.avg("cnt").alias("_m"), F.stddev_samp("cnt").alias("_s")
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(F.col("_s") > 0)
        .select(
            "event_type",
            "hour_ts",
            "cnt",
            F.round((F.col("cnt") - F.col("_m")) / F.col("_s"), 4).alias("z"),
        )
    )


_SQL_EVENT_ANOMALY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, AVG(cnt) AS m, STDDEV_SAMP(cnt) AS s
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.hour_ts, h.cnt, ROUND((h.cnt - m) / s, 4) AS z
FROM hourly h JOIN stats USING (event_type)
WHERE s > 0
"""


def q_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts
    (including the zero bucket via LEFT OUTER join). Scale shape: one
    shuffle on the customer key, then a tiny histogram aggregation —
    both map-side combinable."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_SQL_ORDER_HIST = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) GROUP BY c_count
"""


def q_high_balance_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per-nation count + balance of above-average-
    balance customers with no urgent orders (scalar-subquery threshold
    broadcast + anti join). The threshold is a 1-row broadcast cross
    join — no driver collect, one plan."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    urgent = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    thr = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 6).alias("_t")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("_t"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


_SQL_HIGH_BAL = """
WITH thr AS (
  SELECT ROUND(AVG(c_acctbal), 6) AS t FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer CROSS JOIN thr
WHERE c_acctbal > t
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# Curation: corpus-statistics selection ops (operators/curation.py)
# ---------------------------------------------------------------------------

_DUCK_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')"


def q_per_source_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped feature normalization: per-source z-score of document
    length (the feature-scaling pass of a quality-classifier pipeline).
    Two-pass agg + broadcast join, NOT a per-source window — with few
    huge groups a Window.partitionBy(source) funnels each source
    through one task; the n_sources-row stats table broadcasts free."""
    docs = _documents(spark, sf_dir)
    stats = docs.groupBy("source").agg(
        F.avg("n_chars").alias("_m"), F.stddev_samp("n_chars").alias("_s")
    )
    return (
        docs.join(F.broadcast(stats), "source")
        .select(
            "doc_id",
            "source",
            # try_divide: a constant-length source has stddev 0 → NULL
            # z (matches DuckDB /0 → NULL), not an ANSI runtime error
            F.round(
                F.try_divide(F.col("n_chars") - F.col("_m"), F.col("_s")), 4
            ).alias("z_len"),
        )
    )


_SQL_ZSCORE = """
WITH stats AS (
  SELECT source, AVG(n_chars) AS m, STDDEV_SAMP(n_chars) AS s
  FROM documents GROUP BY source
)
SELECT doc_id, d.source, ROUND((n_chars - m) / s, 4) AS z_len
FROM documents d JOIN stats USING (source)
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality proxy: per-document mean negative
    log-probability under the corpus's own Laplace-smoothed unigram
    distribution (curation.unigram_logprob)."""
    from collector_spark.operators.curation import unigram_logprob

    return unigram_logprob(_documents(spark, sf_dir))


_SQL_UNIGRAM = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
totals AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, COUNT(*) AS v FROM vocab)
SELECT toks.doc_id,
       CAST(COUNT(*) AS INT) AS n_tokens,
       ROUND(AVG(-LN(CAST(cnt + 1 AS DOUBLE) / CAST(t + v AS DOUBLE))), 6)
         AS nll
FROM toks JOIN vocab USING (tok) CROSS JOIN totals
GROUP BY toks.doc_id
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram LM quality proxy (curation.bigram_logprob):
    the next rung up from the unigram proxy — repetitive/templated text
    scores low even when its unigram profile is ordinary."""
    from collector_spark.operators.curation import bigram_logprob

    return bigram_logprob(_documents(spark, sf_dir))


# DuckDB zips parallel unnest() calls positionally (Postgres semantics),
# so the bigram pair stream is two aligned array slices — the same
# in-row construction the Spark side does with slice + zip_with.
_SQL_BIGRAM = f"""
WITH words AS (
  SELECT doc_id, {_DUCK_TOKS} AS w FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(w[1:len(w) - 1]) AS w1,
         unnest(w[2:len(w)]) AS w2
  FROM words WHERE len(w) >= 2
),
cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY w1, w2),
ctx AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw FROM cb GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest({_DUCK_TOKS}) AS tok FROM documents)
)
SELECT bi.doc_id,
       CAST(COUNT(*) AS INT) AS n_bigrams,
       ROUND(AVG(-LN(CAST(cb + 1 AS DOUBLE) / CAST(cw + v AS DOUBLE))), 6)
         AS nll
FROM bi JOIN cb USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN vocab
GROUP BY bi.doc_id
"""

_BUDGET_TOKENS = 8000


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first curriculum selection: keep the best-scored
    documents whose cumulative token count fits an 8k-token budget
    (curation.token_budget_select over textstats.quality_score_col)."""
    from collector_spark.operators.curation import token_budget_select
    from collector_spark.operators.textstats import quality_score_col

    return token_budget_select(
        _documents(spark, sf_dir),
        budget=_BUDGET_TOKENS,
        score_col=quality_score_col(text_col="text"),
    )


def _sql_token_budget() -> str:
    from collector_spark.operators.textstats import quality_score_sql

    return f"""
WITH scored AS (
  SELECT doc_id, {quality_score_sql('text')} AS score,
         CAST(len({_DUCK_TOKS}) AS INT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, score, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, score, n_tokens, cum_tokens
FROM cum WHERE cum_tokens <= {_BUDGET_TOKENS}
"""


_SHUFFLE_SALT = "epoch0"


def q_corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-keyed deterministic global training order: position = rank
    of md5(salt|doc_id) (curation.deterministic_shuffle; distributed
    rank via md5-prefix buckets, no single-partition window)."""
    from collector_spark.operators.curation import deterministic_shuffle

    return deterministic_shuffle(
        _documents(spark, sf_dir), salt=_SHUFFLE_SALT
    ).select("doc_id", "shuffle_key", "position")


_SQL_SHUFFLE_KEY = f"md5('{_SHUFFLE_SALT}|' || CAST(doc_id AS VARCHAR))"
_SQL_CORPUS_SHUFFLE = f"""
SELECT doc_id, {_SQL_SHUFFLE_KEY} AS shuffle_key,
       CAST(ROW_NUMBER() OVER (ORDER BY {_SQL_SHUFFLE_KEY}) AS BIGINT)
         AS position
FROM documents
"""

# target mixture: equal 10% for src0..src9, 0 for the rest (upsamples
# and downsamples both occur against the ~5%-each actual shares)
_MIX_TARGETS = {f"src{i}": 0.1 for i in range(10)}


def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting: per-source sampling weight that reshapes
    actual token shares into the target mix (curation.source_mix_weights)."""
    from collector_spark.operators.curation import source_mix_weights

    return source_mix_weights(_documents(spark, sf_dir), _MIX_TARGETS)


def _sql_mix_weights() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {share!r}"
        for s, share in sorted(_MIX_TARGETS.items())
    )
    # CAST: DuckDB 0.1 literals are DECIMAL; Spark's are double
    target = f"CAST((CASE {cases} ELSE 0.0 END) AS DOUBLE)"
    actual = "(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE))"
    return f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per)
SELECT source, n_docs, n_tokens,
       ROUND({actual}, 6) AS actual_share,
       ROUND({target}, 6) AS target_share,
       ROUND({target} / {actual}, 6) AS weight
FROM per CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


class Query(NamedTuple):
    """One gate query. ``oracle`` is DuckDB SQL text, or a zero-argument
    function for SQL that costs time to generate (built only by
    ``oracle_sql()``). ``green`` is the newest CORRECTNESS_r0N round whose
    driver gate passed on this query's current code; reset it to 0 when
    the implementing code changes. ``bench``/``spot`` put the query in
    bench.py's sweep and sf1 spot lists."""

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[], str]
    green: int
    bench: bool = False
    spot: bool = False


QUERIES: dict[str, Query] = {
    "pipeline_parse_route_agg": Query(
        q_pipeline_parse_route_agg, _sql_pipeline_parse_route_agg, 0, bench=True
    ),
    "cel_filter_accept": Query(
        q_cel_filter_accept,
        f"SELECT event_id FROM events WHERE {_SQL_CEL_PRED}",
        0,
        bench=True,
    ),
    "cel_filter_reject": Query(
        q_cel_filter_reject, f"SELECT event_id FROM events WHERE NOT {_SQL_CEL_PRED}", 0
    ),
    "cel_filter_time": Query(q_cel_filter_time, _SQL_CEL_TIME, 0, bench=True),
    "returned_item_customers": Query(
        q_returned_item_customers, _SQL_RETURNED_CUSTOMERS, 4, bench=True
    ),
    "large_volume_customers": Query(
        q_large_volume_customers, _SQL_LARGE_VOLUME, 4, bench=True
    ),
    "rolling_7day_revenue": Query(
        q_rolling_7day_revenue, _SQL_ROLLING_REV, 4, bench=True
    ),
    "cel_filter_struct_macro": Query(
        q_cel_filter_struct_macro, _SQL_CEL_STRUCT_MACRO, 0, bench=True, spot=True
    ),
    "funnel_conversion": Query(q_funnel_conversion, _SQL_FUNNEL, 4, bench=True),
    "retention_cohorts": Query(q_retention_cohorts, _SQL_RETENTION, 4, bench=True),
    "profile_columns": Query(q_profile_columns, _SQL_PROFILE, 4, bench=True),
    "csv_roundtrip": Query(q_csv_roundtrip, _SQL_CSV_ROUNDTRIP, 0, bench=True),
    "pseudonymize_users": Query(q_pseudonymize_users, _sql_pseudonymize, 4, bench=True),
    "multiline_merge": Query(q_multiline_merge, _SQL_MULTILINE, 4, bench=True),
    "cel_filter_conv": Query(q_cel_filter_conv, _SQL_CEL_CONV, 0, bench=True),
    "grok_access_log": Query(
        q_grok_access_log, _sql_grok_access_log, 0, bench=True, spot=True
    ),
    "json_mutate": Query(q_json_mutate, _SQL_JSON_MUTATE, 0, bench=True, spot=True),
    "syslog_strip": Query(q_syslog_strip, _SQL_SYSLOG_STRIP, 0, bench=True),
    "kv_roundtrip": Query(q_kv_roundtrip, _SQL_KV_ROUNDTRIP, 0, bench=True, spot=True),
    "cef_roundtrip": Query(
        q_cef_roundtrip, _SQL_CEF_ROUNDTRIP, 0, bench=True, spot=True
    ),
    "enrich_broadcast_agg": Query(q_enrich_broadcast_agg, _SQL_ENRICH, 4, bench=True),
    "agg_pricing_summary": Query(q_agg_pricing_summary, _SQL_PRICING, 4, bench=True),
    "window_top_orders": Query(q_window_top_orders, _SQL_WINDOW_TOP, 4, bench=True),
    "event_window_agg": Query(q_event_window_agg, _SQL_EVENT_WINDOW, 4, bench=True),
    "dedup_exact": Query(q_dedup_exact, _SQL_DEDUP_EXACT, 4, bench=True),
    # md5-seeded integer hash families replay exactly in DuckDB
    # (coefficients baked as literals)
    "dedup_minhash_lsh": Query(
        q_dedup_minhash_lsh, _sql_minhash_lsh, 5, bench=True, spot=True
    ),
    "dedup_simhash": Query(q_dedup_simhash, _sql_simhash_pairs, 5, bench=True),
    "dedup_connected_components": Query(
        q_dedup_connected_components, _SQL_CONNECTED, 4, bench=True, spot=True
    ),
    "ann_cosine_topk": Query(q_ann_cosine_topk, _SQL_ANN, 4, bench=True),
    "embedding_near_dup": Query(q_embedding_near_dup, _SQL_EMB_NEAR_DUP, 5, bench=True),
    "lang_id": Query(q_lang_id, _sql_lang_id, 5, bench=True),
    "pivot_event_counts": Query(q_pivot_event_counts, _SQL_PIVOT, 5, bench=True),
    "doc_length_quantiles": Query(
        q_doc_length_quantiles, _SQL_DOC_QUANTILES, 5, bench=True
    ),
    "quality_score": Query(q_quality_score, _sql_quality, 5, bench=True),
    "token_count_agg": Query(q_token_count_agg, _sql_token_count_agg, 5, bench=True),
    "fingerprint_md5": Query(q_fingerprint_md5, _SQL_FP, 5),
    "fingerprint_rolling": Query(q_dedup_fingerprint_rolling, _SQL_FP_ROLLING, 5),
    "asof_join": Query(q_asof_join, _SQL_ASOF, 5, bench=True),
    "sessionize": Query(q_sessionize, _SQL_SESSIONIZE, 5, bench=True),
    "dedup_ngram_jaccard": Query(
        q_dedup_ngram_jaccard, _SQL_NGRAM_JACCARD, 5, bench=True
    ),
    "rollup_counts": Query(q_rollup_counts, _SQL_ROLLUP, 5),
    "cube_counts": Query(q_cube_counts, _SQL_CUBE, 5, bench=True),
    "running_total": Query(q_running_total, _SQL_RUNNING, 5, bench=True),
    "set_ops": Query(q_set_ops, _SQL_SET_OPS, 5),
    "join_shuffle_agg": Query(q_join_shuffle_agg, _SQL_JOIN_SHUFFLE, 5, bench=True),
    # integer-quantized hyperplane family: coefficients baked as
    # BIGINT literals, so it replays exactly in DuckDB
    "ann_lsh_topk": Query(q_ann_lsh_topk, _sql_ann_lsh, 5, bench=True),
    # every list probed: IVF is exact whatever the centroids are,
    # so both IVF variants share the brute-force oracle
    "ann_ivf_topk": Query(q_ann_ivf_topk, _SQL_ANN, 5, bench=True),
    "ann_ivf_kmeans_topk": Query(
        q_ann_ivf_kmeans_topk, _SQL_ANN, 5, bench=True, spot=True
    ),
    "multimodal_meta": Query(q_multimodal_meta, _SQL_MULTIMODAL_META, 5),
    "multimodal_features": Query(
        q_multimodal_features, _SQL_MULTIMODAL_FEATURES, 5, bench=True
    ),
    "frame_sample": Query(q_frame_sample, _SQL_FRAME_SAMPLE, 5),
    "redact_pii": Query(q_redact_pii, _sql_redact, 5),
    "distinct_token_ratio": Query(q_distinct_token_ratio, _sql_distinct_ratio, 5),
    "semi_join": Query(q_semi_join, _SQL_SEMI, 5),
    "anti_join": Query(q_anti_join, _SQL_ANTI, 5),
    "multi_join_agg": Query(q_multi_join_agg, _SQL_MULTI_JOIN, 5),
    "cel_filter_macros": Query(q_cel_filter_macros, _SQL_CEL_MACROS, 0),
    "top_revenue_orders": Query(q_top_revenue_orders, _SQL_TOP_REVENUE, 5, bench=True),
    "late_shipment_priority": Query(
        q_late_shipment_priority, _SQL_LATE_SHIPMENT, 5, bench=True
    ),
    "small_qty_revenue": Query(q_small_qty_revenue, _SQL_SMALL_QTY, 5, bench=True),
    "contamination_check": Query(
        q_contamination_check, _sql_contamination, 5, bench=True, spot=True
    ),
    "bloom_contamination": Query(
        q_bloom_contamination, _sql_bloom_contamination, 5, bench=True
    ),
    "dup_span_profile": Query(q_dup_span_profile, _sql_dup_span, 5, bench=True),
    "dedup_span_removal": Query(
        q_dedup_span_removal, _sql_span_removal, 5, bench=True, spot=True
    ),
    "repetition_profile": Query(q_repetition_profile, _sql_repetition, 5),
    "quality_filter_report": Query(q_quality_filter_report, _SQL_QUALITY_FILTER, 5),
    "salient_terms": Query(q_salient_terms, _SQL_SALIENT_TERMS, 5, bench=True),
    "encode_tokens": Query(q_encode_tokens, _SQL_ENCODE_TOKENS, 4, bench=True),
    "vocab_topk": Query(q_vocab_topk, _SQL_VOCAB_TOPK, 5, bench=True),
    "hash_split_summary": Query(q_hash_split_summary, _SQL_HASH_SPLIT, 5),
    "pack_sequences_bins": Query(q_pack_sequences, _SQL_PACK, 5),
    "stratified_sample_counts": Query(q_stratified_sample_counts, _sql_stratified, 5),
    "event_gap_stats": Query(q_event_gap_stats, _SQL_EVENT_GAPS, 5),
    "event_rate_anomaly": Query(
        q_event_rate_anomaly, _SQL_EVENT_ANOMALY, 5, bench=True
    ),
    "order_count_histogram": Query(
        q_order_count_histogram, _SQL_ORDER_HIST, 4, bench=True
    ),
    "high_balance_inactive": Query(q_high_balance_inactive, _SQL_HIGH_BAL, 4),
    "per_source_zscore": Query(q_per_source_zscore, _SQL_ZSCORE, 4),
    "unigram_logprob": Query(q_unigram_logprob, _SQL_UNIGRAM, 5, bench=True),
    "bigram_logprob": Query(q_bigram_logprob, _SQL_BIGRAM, 5, bench=True),
    "token_budget_select": Query(
        q_token_budget_select, _sql_token_budget, 5, bench=True
    ),
    "corpus_shuffle_order": Query(
        q_corpus_shuffle_order, _SQL_CORPUS_SHUFFLE, 5, bench=True
    ),
    "source_mix_weights": Query(q_source_mix_weights, _sql_mix_weights, 4),
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full parse→route→aggregate pipeline at sf0.001."""
    return q_pipeline_parse_route_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Stalest ``green`` first: the driver gate reads the first 50 entries."""
    rows = sorted(QUERIES.items(), key=lambda kv: kv[1].green)
    return {name: q.build for name, q in rows}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle() if callable(q.oracle) else q.oracle
        for name, q in QUERIES.items()
    }
