"""CEL filter truth table from the reference
(internal/processor/cel/engine_test.go:11-91), verified across all three
backends: Spark Column, DuckDB SQL, and the pure-Python oracle."""

import itertools
import json

import duckdb
import pytest

from collector_spark.operators import cel as C

EVENTS = [
    '{"code": 400, "status": "invalid request", "data": {"errors": ["invalid page", "invalid scope"]}}',
    '{"code": 200, "status": "success", "data": {"message": "hello world"}}',
    '{"code": 500, "error": "server error"}',
    '{"code": 400, "status": "invalid request", "data": {"errors": ["invalid header"]}}',
]

RULE1 = "event.code == 200"
RULE2 = "event.code == 200 || event.code == 400"
RULE3 = 'event.code == 200 && has(event.data) && has(event.data.message) && event.data.message == "hello world"'
RULE4 = 'event.code == 400 && has(event.data) && has(event.data.errors) && event.data.errors.exists(x, x == "invalid page")'
# arithmetic (full-CEL surface beyond the reference's own tests)
RULE5 = "event.code + 100 == 300"
RULE6 = "event.code * 2 >= 800 && event.code - 100 < 500"
RULE7 = "event.code % 3 == 2"          # 200%3=2, 400%3=1, 500%3=2
RULE8 = "event.code / 2 > 240"
RULE9 = "-event.code < -250"
# regex matches() across all three backends (unanchored search)
RULE10 = 'event.status.matches("^inv[a-z]+ request$")'
# all() — exists()'s dual (cel-go macro); vacuous truth + missing-list
RULE11 = 'has(event.data.errors) && event.data.errors.all(x, x != "invalid header")'
RULE12 = 'event.data.errors.all(x, x != "zzz")'  # missing list → non-match
# ternary — incl. the error/null-cond-takes-else convention (event 3 has
# no status: cond errors → else branch)
RULE13 = 'event.code == 400 ? event.status == "invalid request" : event.code == 500'
RULE14 = 'event.status == "success" ? event.code == 200 : event.code == 400'
# map literal after in → key membership (cel-go semantics)
RULE15 = 'event.status in {"success": 1, "pending": 2}'
# membership over a LIST FIELD (cel-go 'in' over dynamic lists);
# events 2/3 lack data.errors → non-match on every backend
RULE16 = '"invalid scope" in event.data.errors'
# negation over an errored operand: event 3 has no status, so the inner
# == is an eval error and the whole rule is a NON-match (engine.go:20-29)
# — NULL must propagate through NOT on every backend
RULE17 = '!(event.status == "zzz")'

# expected per-event match for each single rule (engine_test.go:26-71)
TRUTH = {
    RULE1: [False, True, False, False],
    RULE2: [True, True, False, True],
    RULE3: [False, True, False, False],
    RULE4: [True, False, False, False],
    RULE5: [False, True, False, False],
    RULE6: [True, False, True, True],
    RULE7: [False, True, True, False],
    RULE8: [False, False, True, False],
    RULE9: [True, False, True, True],
    RULE10: [True, False, False, True],
    RULE11: [True, False, False, False],
    RULE12: [True, False, False, True],
    RULE13: [True, False, True, True],
    RULE14: [True, True, False, True],
    RULE15: [False, True, False, False],
    RULE16: [True, False, False, False],
    RULE17: [True, True, False, True],
}

INVALID_RULES = [
    'event === "hi"',
    'event ||| "hi"',
    'event "hi"',
    'event.status.matches("[unclosed")',  # bad regex → config-time reject
    # non-portable across Spark(Java)/DuckDB(RE2)/Python dialects
    'event.status.matches("(?=inv)")',
    'event.status.matches("\\\\p{Lower}+")',
    # exists()/all() bodies beyond the all-backends subset fail at config time
    'event.tags.exists(t, t.matches("(?=a)"))',   # non-portable regex in body
    "event.tags.exists(t, has(t))",               # has() not a body predicate
    # malformed ternary / map literals / field membership
    "event.code == 200 ? event.code == 1",        # missing ':'
    'event.status in {"a"}',                      # map literal needs k: v
    "event.status in {event.code: 1}",            # non-literal key
    "event.status in 42",                         # 'in' RHS must be list/map/path
    "event.data in event.tags",                   # needle must be a literal
    # list-valued macros are legal only under .size() or as 'in' RHS
    'event.tags.filter(t, t == "a")',             # bare list expr as a rule
    'event.code == 1 && event.nums.map(n, n * 2)',  # bare in boolean position
    'event.tags.filter(t, t == "a").contains("b")',  # only .size() may chain
    '"a" in event.nums.map(n, n * 2)',            # map() needs numeric needle
    '3 in event.tags.filter(t, t == "a")',        # needle/element type mismatch
    'event.tags.map(t, t.startsWith("a"))',       # map() expr must be arithmetic
]

# cel-go macro extensions: exists_one / filter / map (list-valued macros
# usable under .size() or as the RHS of 'in'), and string predicates
# (startsWith/endsWith/contains/matches) inside lambda bodies.
MACRO_EVENTS = [
    '{"tags": ["alpha", "beta", "ant"], "nums": [1, 2, 3]}',
    '{"tags": ["beta"], "nums": [10, 20]}',
    '{"tags": [], "nums": []}',
    '{"code": 1}',
]

MACRO_TRUTH = {
    'event.tags.exists(t, t.startsWith("a"))': [True, False, False, False],
    'event.tags.exists_one(t, t.startsWith("al"))': [True, False, False, False],
    # two of e0's tags start with "a" -> exists_one is False there
    'event.tags.exists_one(t, t.startsWith("a"))': [False, False, False, False],
    'event.tags.filter(t, t.contains("a")).size() == 3': [True, False, False, False],
    'event.tags.all(t, t.contains("a"))': [True, True, True, False],
    'event.tags.exists(t, t.matches("^a.*t$"))': [True, False, False, False],
    "6 in event.nums.map(n, n * 2)": [True, False, False, False],
    "event.nums.map(n, n * 10 + 5).size() == 3": [True, False, False, False],
    "2 in event.nums.filter(n, n < 3)": [True, False, False, False],
    'event.nums.filter(n, n >= 10).size() > 0 ? event.tags.exists_one(t, t == "beta") : event.code == 7': [
        False, True, False, False,
    ],
    # literal needle against a map literal ('k' in {...}) — a constant
    # rule that must COMPILE on all backends (SqlCompiler used to crash
    # with AttributeError on the non-path operand)
    '"alpha" in {"alpha": 1, "gamma": 2}': [True, True, True, True],
    # /0 inside map(): a NULL element on every backend (Spark
    # try_divide, DuckDB NULL, Python None) — size() still counts it;
    # never an ANSI-mode runtime error killing the job
    "event.nums.map(n, 6 / (n - 1)).size() == 3": [True, False, False, False],
    # top-level /0 and %0 → NULL (Spark/DuckDB) or eval error (Python),
    # all non-match — no backend may raise at execution time
    "event.code / (event.code - event.code) == 1": [False, False, False, False],
    "event.code % (event.code - event.code) == 0": [False, False, False, False],
}


@pytest.mark.parametrize("rule", list(MACRO_TRUTH))
def test_macro_python_oracle(rule):
    ast = C.parse_rule(rule)
    got = [C.rule_detection_python(e, [ast]) for e in MACRO_EVENTS]
    assert got == MACRO_TRUTH[rule], rule


@pytest.mark.parametrize("rule", list(MACRO_TRUTH))
def test_macro_spark_backend(spark, rule):
    df = spark.createDataFrame([(e,) for e in MACRO_EVENTS], ["value"])
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    kept = {r.value for r in filt.apply(df).collect()}
    expected = {e for e, m in zip(MACRO_EVENTS, MACRO_TRUTH[rule]) if m}
    assert kept == expected, rule


@pytest.mark.parametrize("rule", list(MACRO_TRUTH))
def test_macro_duckdb_backend(rule):
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    pred = filt.sql_predicate()
    con = duckdb.connect()
    got = []
    for e in MACRO_EVENTS:
        escaped = e.replace("'", "''")
        val = con.execute(
            f"select {pred.replace('value', f'''CAST('{escaped}' AS VARCHAR)''')}"
        ).fetchone()[0]
        got.append(bool(val))
    assert got == MACRO_TRUTH[rule], rule


@pytest.mark.parametrize("rule", list(TRUTH))
def test_python_oracle_truth_table(rule):
    ast = C.parse_rule(rule)
    got = [C.rule_detection_python(e, [ast]) for e in EVENTS]
    assert got == TRUTH[rule], rule


@pytest.mark.parametrize("rule", INVALID_RULES)
def test_invalid_rules_rejected_at_config_time(rule):
    with pytest.raises(C.CelSyntaxError):
        C.parse_rule(rule)


@pytest.mark.parametrize("rule", list(TRUTH))
def test_spark_backend_matches_truth_table(spark, rule):
    df = spark.createDataFrame([(e,) for e in EVENTS], ["value"])
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    kept = {r.value for r in filt.apply(df).collect()}
    expected = {e for e, m in zip(EVENTS, TRUTH[rule]) if m}
    assert kept == expected, rule


@pytest.mark.parametrize("rule", list(TRUTH))
def test_duckdb_backend_matches_truth_table(rule):
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    pred = filt.sql_predicate()
    con = duckdb.connect()
    got = []
    for e in EVENTS:
        escaped = e.replace("'", "''")
        val = con.execute(
            f"select {pred.replace('value', f'''CAST('{escaped}' AS VARCHAR)''')}"
        ).fetchone()[0]
        got.append(bool(val))
    assert got == TRUTH[rule], rule


def test_or_composition_and_reject(spark):
    df = spark.createDataFrame([(e,) for e in EVENTS], ["value"])
    filt = C.CelFilter(rules=[RULE1, RULE4], action="accept", mode="json")
    kept = {r.value for r in filt.apply(df).collect()}
    assert kept == {EVENTS[0], EVENTS[1]}
    rej = C.CelFilter(rules=[RULE1, RULE4], action="reject", mode="json")
    kept = {r.value for r in rej.apply(df).collect()}
    assert kept == {EVENTS[2], EVENTS[3]}


def test_non_json_lines_dropped(spark):
    rows = [("not json",), ("",), ('{"code": 200}',), ("  ",)]
    df = spark.createDataFrame(rows, ["value"])
    filt = C.CelFilter(rules=["event.code == 200"], action="accept", mode="json")
    out = filt.apply(df).collect()
    assert [r.value for r in out] == ['{"code": 200}']
    # reject action also drops non-JSON (they never reach evaluation)
    rej = C.CelFilter(rules=["event.code == 500"], action="reject", mode="json")
    out = rej.apply(df).collect()
    assert [r.value for r in out] == ['{"code": 200}']


def test_columns_mode(spark):
    df = spark.createDataFrame(
        [(1, "click", 55.0), (2, "view", 10.0), (3, "click", 5.0)],
        ["id", "event_type", "value2"],
    ).withColumnRenamed("value2", "val")
    filt = C.CelFilter(
        rules=['event.event_type == "click" && event.val > 20'],
        action="accept",
        mode="columns",
    )
    assert [r.id for r in filt.apply(df).collect()] == [1]


def test_extended_predicates(spark):
    events = [
        '{"url": "https://a.example.com/x", "tags": ["spam", "ads"], "n": 3}',
        '{"url": "http://b.org/y", "tags": ["news"], "n": 7}',
    ]
    df = spark.createDataFrame([(e,) for e in events], ["value"])
    cases = [
        ('event.url.startsWith("https")', [events[0]]),
        ('event.url.contains("b.org")', [events[1]]),
        ('event.tags.exists(t, t == "news")', [events[1]]),
        ("event.n in [3, 4]", [events[0]]),
        ('!(event.n == 3)', [events[1]]),
        # CEL matches(): unanchored regex search
        ('event.url.matches("^https://[a-z.]+/x$")', [events[0]]),
        ('event.url.matches("b\\\\.org")', [events[1]]),
    ]
    for rule, expected in cases:
        filt = C.CelFilter(rules=[rule], action="accept", mode="json")
        got = [r.value for r in filt.apply(df).collect()]
        assert got == expected, rule
        # python oracle agrees
        ast = C.parse_rule(rule)
        got_py = [e for e in events if C.rule_detection_python(e, [ast])]
        assert got_py == expected, rule


# ---------------------------------------------------------------------------
# cel-go time surface: timestamp()/duration() literals in comparisons
# (the msgraph createdDateTime window-rule shape, msgraph.go:105-132)
# ---------------------------------------------------------------------------

TIME_EVENTS = [
    '{"created": "2024-01-05T10:00:00Z", "closed": "2024-01-05T11:30:00Z"}',
    '{"created": "2024-01-04T10:00:00Z", "closed": "2024-01-04T10:10:00Z"}',
    '{"created": "garbage", "closed": "2024-01-05T11:30:00Z"}',
    '{"code": 1}',
    # same instant as event 0 written with a +02:00 offset
    '{"created": "2024-01-05T12:00:00+02:00", "closed": "2024-01-05T10:30:00Z"}',
]

TIME_TRUTH = {
    # window lower bound; malformed/missing fields are non-matches
    'event.created >= timestamp("2024-01-05T00:00:00Z")': [True, False, False, False, True],
    # out-of-window disjunction
    'event.created < timestamp("2024-01-04T23:59:59Z") || event.created > timestamp("2024-01-06T00:00:00Z")': [
        False, True, False, False, False,
    ],
    # ts literal + duration arithmetic (threshold 09:30Z)
    'event.created >= timestamp("2024-01-05T08:00:00Z") + duration("1h30m")': [
        True, False, False, False, True,
    ],
    # ts - ts vs duration
    'event.closed - event.created > duration("1h")': [True, False, False, False, False],
    'event.closed - event.created == duration("10m")': [False, True, False, False, False],
    # field ts - duration vs field ts
    'event.closed - duration("90m") >= event.created': [True, False, False, False, False],
    # offset-written timestamps compare by instant
    'event.created == timestamp("2024-01-05T10:00:00Z")': [True, False, False, False, True],
}

INVALID_TIME_RULES = [
    'timestamp("not a ts") < event.created',          # bad RFC3339 literal
    'duration("1 fortnight") > event.a - event.b',    # bad duration literal
    'event.created > duration("1h")',                 # ts vs dur mix
    'timestamp("2024-01-05T00:00:00Z") + timestamp("2024-01-05T00:00:00Z") < event.x',  # ts + ts
    'event.created.size() > duration("1h")',          # non-time operand in time cmp
    'timestamp("2024-01-05T00:00:00Z") in [1, 2]',    # time literal outside a comparison
    'event.created * 2 > timestamp("2024-01-05T00:00:00Z")',  # * not defined for time
]


def test_duration_parsing():
    assert C._parse_duration("1h30m") == 5400.0
    assert C._parse_duration("90s") == 90.0
    assert C._parse_duration("1.5h") == 5400.0
    assert C._parse_duration("-45m") == -2700.0
    assert C._parse_duration("500ms") == 0.5


@pytest.mark.parametrize("rule", list(TIME_TRUTH))
def test_time_python_oracle(rule):
    ast = C.parse_rule(rule)
    got = [C.rule_detection_python(e, [ast]) for e in TIME_EVENTS]
    assert got == TIME_TRUTH[rule], rule


@pytest.mark.parametrize("rule", list(TIME_TRUTH))
def test_time_spark_backend(spark, rule):
    df = spark.createDataFrame([(e,) for e in TIME_EVENTS], ["value"])
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    kept = {r.value for r in filt.apply(df).collect()}
    expected = {e for e, m in zip(TIME_EVENTS, TIME_TRUTH[rule]) if m}
    assert kept == expected, rule


@pytest.mark.parametrize("rule", list(TIME_TRUTH))
def test_time_duckdb_backend(rule):
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    pred = filt.sql_predicate()
    con = duckdb.connect()
    con.execute("SET TimeZone='America/New_York'")  # must not matter
    got = []
    for e in TIME_EVENTS:
        escaped = e.replace("'", "''")
        val = con.execute(
            f"select {pred.replace('value', f'''CAST('{escaped}' AS VARCHAR)''')}"
        ).fetchone()[0]
        got.append(bool(val))
    assert got == TIME_TRUTH[rule], rule


@pytest.mark.parametrize("rule", INVALID_TIME_RULES)
def test_invalid_time_rules_rejected(rule):
    with pytest.raises(C.CelSyntaxError):
        C.parse_rule(rule)


# ---------------------------------------------------------------------------
# cel-go conversions: int() / double() / string()
# ---------------------------------------------------------------------------

CONV_EVENTS = [
    '{"code": "200", "ratio": "2.5", "n": 7}',
    '{"code": "oops", "ratio": "-3.7", "n": 2}',
    '{"code": 404, "ratio": 0.5, "n": 0}',
]

CONV_TRUTH = {
    'int(event.code) == 200': [True, False, False],
    'int(event.code) == 404': [False, False, True],
    # truncation toward zero on every backend (DuckDB CAST would round)
    'int(event.ratio) == 2': [True, False, False],
    'int(event.ratio) == -3': [False, True, False],
    'double(event.ratio) > 1.0': [True, False, False],
    'string(event.n) == "7"': [True, False, False],
    # conversion inside arithmetic
    'int(event.n) + 1 == 8': [True, False, False],
    # conversion as an in-list operand
    'int(event.ratio) in [0, 2]': [True, False, True],
}


@pytest.mark.parametrize("rule", list(CONV_TRUTH))
def test_conv_python_oracle(rule):
    ast = C.parse_rule(rule)
    got = [C.rule_detection_python(e, [ast]) for e in CONV_EVENTS]
    assert got == CONV_TRUTH[rule], rule


@pytest.mark.parametrize("rule", list(CONV_TRUTH))
def test_conv_spark_backend(spark, rule):
    df = spark.createDataFrame([(e,) for e in CONV_EVENTS], ["value"])
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    kept = {r.value for r in filt.apply(df).collect()}
    expected = {e for e, m in zip(CONV_EVENTS, CONV_TRUTH[rule]) if m}
    assert kept == expected, rule


@pytest.mark.parametrize("rule", list(CONV_TRUTH))
def test_conv_duckdb_backend(rule):
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    pred = filt.sql_predicate()
    con = duckdb.connect()
    got = []
    for e in CONV_EVENTS:
        escaped = e.replace("'", "''")
        val = con.execute(
            f"select {pred.replace('value', f'''CAST('{escaped}' AS VARCHAR)''')}"
        ).fetchone()[0]
        got.append(bool(val))
    assert got == CONV_TRUTH[rule], rule


@pytest.mark.parametrize(
    "rule",
    [
        "int() == 1",                      # missing operand
        "int(event.a, event.b) == 1",      # too many operands
        'int(timestamp("2024-01-05T00:00:00Z")) == 1',  # time literal inside conv
    ],
)
def test_conv_invalid_rules_rejected(rule):
    with pytest.raises(C.CelSyntaxError):
        C.parse_rule(rule)


# ---------------------------------------------------------------------------
# struct-element macro bodies: exists/all/filter over arrays of OBJECTS
# (cel-go event.groups.exists(g, g.name == "x"))
# ---------------------------------------------------------------------------

STRUCT_EVENTS = [
    '{"groups": [{"name": "admins", "n": 3}, {"name": "dev", "n": 7}]}',
    '{"groups": [{"name": "guests", "n": 1}]}',
    '{"groups": []}',
    '{"other": 1}',
]

STRUCT_TRUTH = {
    'event.groups.exists(g, g.name == "dev")': [True, False, False, False],
    'event.groups.exists(g, g.n > 5)': [True, False, False, False],
    'event.groups.exists(g, g.name.startsWith("gue"))': [False, True, False, False],
    # combined field predicates
    'event.groups.exists(g, g.name == "admins" && g.n >= 3)': [True, False, False, False],
    # all(): vacuous truth on [], missing list -> non-match
    'event.groups.all(g, g.n < 10)': [True, True, True, False],
    'event.groups.all(g, g.name != "guests")': [True, False, True, False],
    # filter().size() over struct elements
    'event.groups.filter(g, g.n >= 3).size() == 2': [True, False, False, False],
    'event.groups.exists_one(g, g.name.contains("d"))': [False, False, False, False],
}


@pytest.mark.parametrize("rule", list(STRUCT_TRUTH))
def test_struct_macro_python_oracle(rule):
    ast = C.parse_rule(rule)
    got = [C.rule_detection_python(e, [ast]) for e in STRUCT_EVENTS]
    assert got == STRUCT_TRUTH[rule], rule


@pytest.mark.parametrize("rule", list(STRUCT_TRUTH))
def test_struct_macro_spark_backend(spark, rule):
    df = spark.createDataFrame([(e,) for e in STRUCT_EVENTS], ["value"])
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    kept = {r.value for r in filt.apply(df).collect()}
    expected = {e for e, m in zip(STRUCT_EVENTS, STRUCT_TRUTH[rule]) if m}
    assert kept == expected, rule


@pytest.mark.parametrize("rule", list(STRUCT_TRUTH))
def test_struct_macro_duckdb_backend(rule):
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    pred = filt.sql_predicate()
    con = duckdb.connect()
    got = []
    for e in STRUCT_EVENTS:
        escaped = e.replace("'", "''")
        val = con.execute(
            f"select {pred.replace('value', f'''CAST('{escaped}' AS VARCHAR)''')}"
        ).fetchone()[0]
        got.append(bool(val))
    assert got == STRUCT_TRUTH[rule], rule


@pytest.mark.parametrize(
    "rule",
    [
        'event.groups.exists(g, g == "x" && g.name == "y")',   # mixes bare + field
        'event.groups.exists(g, g.a.b == "y")',                # two-level access
        '"x" in event.groups.filter(g, g.n > 1)',              # in over struct filter
    ],
)
def test_struct_macro_invalid_rules_rejected(rule):
    with pytest.raises(C.CelSyntaxError):
        C.parse_rule(rule)


# ---------------------------------------------------------------------------
# size() list-vs-string overload (cel-go size() counts ELEMENTS of a
# list; length(raw) silently counted the characters of '["a","b"]')
# ---------------------------------------------------------------------------

SIZE_EVENTS = [
    '{"tags": ["a", "b", "c"], "name": "abc"}',
    '{"tags": [], "name": ""}',
    '{"name": "[x]"}',  # '['-leading STRING, invalid JSON → non-match
]

SIZE_TRUTH = {
    "event.tags.size() == 3": [True, False, False],
    "event.tags.size() == 0": [False, True, False],
    "event.name.size() == 3": [True, False, False],
    "event.tags.size() > event.name.size()": [False, False, False],
}


@pytest.mark.parametrize("rule", list(SIZE_TRUTH))
def test_size_overload_python_oracle(rule):
    ast = C.parse_rule(rule)
    got = [C.rule_detection_python(e, [ast]) for e in SIZE_EVENTS]
    assert got == SIZE_TRUTH[rule], rule


@pytest.mark.parametrize("rule", list(SIZE_TRUTH))
def test_size_overload_spark_backend(spark, rule):
    df = spark.createDataFrame([(e,) for e in SIZE_EVENTS], ["value"])
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    kept = {r.value for r in filt.apply(df).collect()}
    expected = {e for e, m in zip(SIZE_EVENTS, SIZE_TRUTH[rule]) if m}
    assert kept == expected, rule


@pytest.mark.parametrize("rule", list(SIZE_TRUTH))
def test_size_overload_duckdb_backend(rule):
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    pred = filt.sql_predicate()
    con = duckdb.connect()
    got = []
    for e in SIZE_EVENTS:
        escaped = e.replace("'", "''")
        val = con.execute(
            f"select {pred.replace('value', f'''CAST('{escaped}' AS VARCHAR)''')}"
        ).fetchone()[0]
        got.append(bool(val))
    assert got == SIZE_TRUTH[rule], rule


# ---------------------------------------------------------------------------
# has() on struct-element fields + present-null alignment
# ---------------------------------------------------------------------------

HAS_EVENTS = [
    '{"groups": [{"name": "a"}, {"n": 2}], "opt": "x"}',
    '{"groups": [{"n": 1}], "opt": null}',
    '{"groups": []}',
]

HAS_TRUTH = {
    # field presence per element
    'event.groups.exists(g, has(g.name))': [True, False, False],
    'event.groups.all(g, has(g.n))': [False, True, True],
    # presence combined with a value predicate
    'event.groups.exists(g, has(g.n) && g.n > 1)': [True, False, False],
    # top-level has(): a JSON-null field is NOT "has" on any backend.
    # PINNED DIVERGENCE from cel-go (the reference engine, engine.go):
    # cel-go treats a present-but-JSON-null key as has()==true. Our
    # Column backend reads struct-typed events where get_json_object /
    # from_json map JSON null and absent-key to the SAME SQL NULL — key
    # existence is unrecoverable there, so all three backends compile
    # has() to "present AND non-null" to stay mutually consistent
    # (three-way agreement beats matching cel-go on one backend only).
    # Event 2 below ({"opt": null}) is the divergence witness: cel-go
    # says True, we say False.
    'has(event.opt)': [True, False, False],
}


@pytest.mark.parametrize("rule", list(HAS_TRUTH))
def test_has_python_oracle(rule):
    ast = C.parse_rule(rule)
    got = [C.rule_detection_python(e, [ast]) for e in HAS_EVENTS]
    assert got == HAS_TRUTH[rule], rule


@pytest.mark.parametrize("rule", list(HAS_TRUTH))
def test_has_spark_backend(spark, rule):
    df = spark.createDataFrame([(e,) for e in HAS_EVENTS], ["value"])
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    kept = {r.value for r in filt.apply(df).collect()}
    expected = {e for e, m in zip(HAS_EVENTS, HAS_TRUTH[rule]) if m}
    assert kept == expected, rule


@pytest.mark.parametrize("rule", list(HAS_TRUTH))
def test_has_duckdb_backend(rule):
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    pred = filt.sql_predicate()
    con = duckdb.connect()
    got = []
    for e in HAS_EVENTS:
        escaped = e.replace("'", "''")
        val = con.execute(
            f"select {pred.replace('value', f'''CAST('{escaped}' AS VARCHAR)''')}"
        ).fetchone()[0]
        got.append(bool(val))
    assert got == HAS_TRUTH[rule], rule


def _duckdb_kept(pred: str, events: list[str]) -> set[str]:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (value VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(e,) for e in events])
    return {r[0] for r in con.execute(f"SELECT value FROM t WHERE {pred}").fetchall()}


def _spark_kept(spark, rule: str, events: list[str]) -> set[str]:
    df = spark.createDataFrame([(e,) for e in events], ["value"])
    filt = C.CelFilter(rules=[rule], action="accept", mode="json")
    return {r.value for r in filt.apply(df).collect()}


# ---------------------------------------------------------------------------
# json-mode operand typing: non-numeric values and zero-valued literals
# ---------------------------------------------------------------------------

TYPING_EVENTS = [
    '{"code": "abc", "tags": ["a", "b"]}',
    '{"code": 0, "tags": []}',
    '{"code": 0.0}',
    '{"code": 5, "tags": [1, 2, 3, 4, 5]}',
]

TYPING_TRUTH = {
    # a non-numeric value read as a number is NULL → non-match on every
    # backend; a plain cast raises CAST_INVALID_INPUT under ANSI mode and
    # kills the whole job
    "event.code == 5": [False, False, False, True],
    "event.code + 1 > 0": [False, True, True, True],
    # zero-valued literals type the path numerically like any literal;
    # left as text, '0.0' compared to 0 is ANSI-cast to BIGINT and raises
    "event.code == 0": [False, True, True, False],
    "event.code > 0": [False, False, False, True],
    "0.0 <= event.code": [False, True, True, True],
    "event.code in [0, 5]": [False, True, True, True],
    # a size() side makes the comparison numeric too
    "event.code == event.tags.size()": [False, True, False, True],
}


@pytest.mark.parametrize("rule", list(TYPING_TRUTH))
def test_typing_python_oracle(rule):
    ast = C.parse_rule(rule)
    got = [C.rule_detection_python(e, [ast]) for e in TYPING_EVENTS]
    assert got == TYPING_TRUTH[rule], rule


@pytest.mark.parametrize("rule", list(TYPING_TRUTH))
def test_typing_spark_backend(spark, rule):
    expected = {e for e, m in zip(TYPING_EVENTS, TYPING_TRUTH[rule]) if m}
    assert _spark_kept(spark, rule, TYPING_EVENTS) == expected, rule


@pytest.mark.parametrize("rule", list(TYPING_TRUTH))
def test_typing_duckdb_backend(rule):
    pred = C.CelFilter(rules=[rule], action="accept", mode="json").sql_predicate()
    expected = {e for e, m in zip(TYPING_EVENTS, TYPING_TRUTH[rule]) if m}
    assert _duckdb_kept(pred, TYPING_EVENTS) == expected, rule


# ---------------------------------------------------------------------------
# no bad JSON value kills the job: every TRUTH rule over events whose
# code/status/data hold each awkward JSON value (or are missing)
# ---------------------------------------------------------------------------

_BAD_VALUES = ['"abc"', "null", '{"a": 1}', "[1]", "true", None]  # None: key missing

BAD_EVENTS = [
    "{" + ", ".join(f'"{k}": {v}' for k, v in zip(("code", "status", "data"), combo) if v) + "}"
    for combo in itertools.product(_BAD_VALUES, repeat=3)
]


@pytest.mark.parametrize("rule", list(TRUTH))
def test_bad_json_values_never_kill_the_job(spark, rule):
    # Spark must not raise (ANSI mode), and must agree with DuckDB on
    # every event; Python is not compared — it sees JSON types (below)
    pred = C.CelFilter(rules=[rule], action="accept", mode="json").sql_predicate()
    assert _spark_kept(spark, rule, BAD_EVENTS) == _duckdb_kept(pred, BAD_EVENTS), rule


# ---------------------------------------------------------------------------
# JSON-type divergence, PINNED: the Spark and DuckDB backends read json
# fields as TEXT (get_json_object / json_extract_string), so they cannot
# see quoting or JSON type — "0" compares as the number 0, "1e3" as 1000,
# and the number 5 as the string "5". The Python oracle follows cel-go,
# where each of these is a type error → non-match. Each witness below is
# True on Spark/DuckDB and False on Python; the last event is a control
# on which all three agree.
# ---------------------------------------------------------------------------

JSON_TYPE_EVENTS = [
    '{"code": "0"}',
    '{"code": "1e3"}',
    '{"status": 5}',
    '{"code": 0, "status": "ok"}',
]

# rule → (Python expectation, Spark and DuckDB expectation)
JSON_TYPE_TRUTH = {
    "event.code == 0": ([False, False, False, True], [True, False, False, True]),
    "event.code > 1": ([False, False, False, False], [False, True, False, False]),
    '!(event.status == "zzz")': ([False, False, False, True], [False, False, True, True]),
}


@pytest.mark.parametrize("rule", list(JSON_TYPE_TRUTH))
def test_json_type_divergence_python_oracle(rule):
    ast = C.parse_rule(rule)
    got = [C.rule_detection_python(e, [ast]) for e in JSON_TYPE_EVENTS]
    assert got == JSON_TYPE_TRUTH[rule][0], rule


@pytest.mark.parametrize("rule", list(JSON_TYPE_TRUTH))
def test_json_type_divergence_spark_backend(spark, rule):
    expected = {e for e, m in zip(JSON_TYPE_EVENTS, JSON_TYPE_TRUTH[rule][1]) if m}
    assert _spark_kept(spark, rule, JSON_TYPE_EVENTS) == expected, rule


@pytest.mark.parametrize("rule", list(JSON_TYPE_TRUTH))
def test_json_type_divergence_duckdb_backend(rule):
    pred = C.CelFilter(rules=[rule], action="accept", mode="json").sql_predicate()
    expected = {e for e, m in zip(JSON_TYPE_EVENTS, JSON_TYPE_TRUTH[rule][1]) if m}
    assert _duckdb_kept(pred, JSON_TYPE_EVENTS) == expected, rule
