"""CEL-subset filter — the reference's `cel` processor re-expressed as a
Catalyst expression.

Reference semantics (internal/processor/cel/cel.go:50-88, engine.go:13-106):
- each rule is a CEL expression over ``event`` = the parsed JSON line;
- rules are OR-composed; rule errors count as non-match;
- ``action: accept`` keeps matching rows, ``reject`` keeps non-matching;
- non-JSON / empty lines are dropped BEFORE evaluation;
- invalid rules are rejected at config (plan-build) time.

The reference re-parses and re-checks each CEL program per line per rule
(engine.go:37-70) — an anti-pattern we deliberately do not replicate: here
every rule is compiled ONCE, at plan build, into a native Spark Column, so
filtering runs JVM-side inside whole-stage codegen with predicate pushdown;
no Python is involved per row.

Supported CEL subset (everything the reference's tests exercise, plus
common string predicates and arithmetic): ``== != < <= > >= && || !``,
``+ - * / %`` (unary minus included; truncated remainder matching
Spark/DuckDB), parentheses, ``has(event.a.b)``,
``event.list.exists(x, <expr over x>)``, its dual
``event.list.all(x, <expr over x>)``, ``exists_one(x, <expr>)``
(exactly one element matches), the list-valued macros
``filter(x, <pred>)`` and ``map(x, <arith over x>)`` (usable under
``.size()`` or as the RHS of ``in`` — a list has no boolean reading, so
anywhere else is a config-time error, like cel-go's type checker), the
ternary ``cond ? a : b`` (boolean branches; a cond that errors or is
null selects the else branch on every backend), ``in [..]`` list
literals, ``in {..}`` map literals (key membership, like cel-go),
``<literal> in event.some.list`` field membership,
``.startsWith/.endsWith/.contains/.matches(str)`` (also legal on the
bound variable inside exists/all/exists_one/filter bodies),
``.size()``, int/float/string/bool/null literals, and the cel-go time
surface the reference's msgraph window rules use
(msgraph.go:105-132): ``timestamp("<RFC3339>")`` and
``duration("1h30m")`` literals in comparisons against event fields,
with ``ts ± dur`` / ``ts - ts`` arithmetic (all compiled to epoch
seconds; a malformed field value is NULL → non-match on every
backend; mixed ts/dur comparisons and ``ts + ts`` are config-time
errors, like cel-go's type checker), and the ``int()/double()/
string()`` conversions (portable truncate-toward-zero semantics, see
``Conv``). Anything else raises
``CelSyntaxError`` at build time (mirrors validateRule,
engine.go:88-106).

Three backends off one AST:
- one compiler core, ``_Compiler``, walks the AST and decides every
  operand's type once (``_cmp_type``, ``_typed_path``): a literal types
  its partner, a numeric side makes a comparison numeric, and json-mode
  text reads try-cast, so a bad value is NULL → non-match, never an
  ANSI error. Two thin printers supply only primitives:
  - ``ColumnCompiler``: Spark Column over a JSON-string column
    (schema-free lines, read from its VARIANT companion column, parsed
    once per line by ``with_variant``) or over real columns;
  - ``SqlCompiler``: equivalent DuckDB SQL (the correctness gate);
- ``eval_python``: an independent pure-Python evaluation that follows
  cel-go (pytest truth tables). It sees JSON types where the two
  compilers see text — the pinned divergence in tests/test_cel.py
  ``JSON_TYPE_TRUTH``.
"""

from __future__ import annotations

import functools
import json
import operator
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from collector_spark.operators.stage import Processor, variant_col, with_variant


class CelSyntaxError(ValueError):
    """Invalid rule — rejected at plan-build time."""


class CelEvalError(ValueError):
    """Runtime evaluation error — counts as non-match (engine.go:20-29)."""


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<num>\d+\.\d+|\d+)
  | (?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<op>==|!=|<=|>=|&&|\|\||[<>!().,:?{}\[\]+\-*/%])
  | (?P<ident>[A-Za-z_][A-Za-z_0-9]*)
""",
    re.VERBOSE,
)


def _tokenize(src: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if m is None:
            raise CelSyntaxError(f"unexpected character at {pos}: {src[pos:pos+10]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        tokens.append((kind, m.group()))
    tokens.append(("eof", ""))
    return tokens


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass
class Lit:
    value: object  # int | float | str | bool | None


@dataclass
class Path:
    parts: tuple[str, ...]  # ('event', 'data', 'errors') or ('x',) for vars


@dataclass
class TsLit:
    """``timestamp("2024-01-05T10:00:00Z")`` — RFC3339 literal, parsed to
    a UTC epoch-seconds float at CONFIG time (a bad string is a
    CelSyntaxError, mirroring cel-go's type-checked timestamp()
    conversion the reference embeds, engine.go:39-41; msgraph-style
    createdDateTime window rules are the use case, msgraph.go:105-132).
    All backends compare time as epoch seconds, so the literal compiles
    to a plain double everywhere."""

    epoch: float
    text: str


@dataclass
class DurLit:
    """``duration("1h30m")`` — cel-go duration literal (h/m/s/ms/us/ns
    units, decimals and leading '-' allowed), parsed to seconds at
    config time."""

    seconds: float
    text: str


@dataclass
class Conv:
    """``int(x)`` / ``double(x)`` / ``string(x)`` — cel-go type
    conversions. Portable semantics (identical on all three backends,
    slightly lenient vs cel-go, documented):

    - ``int(x)``: x as double, truncated toward zero (cel-go errors on
      ``int("5.2")``; here it is 5 on every backend — DuckDB's CAST
      rounds, so the SQL side routes through TRUNC). Unparseable →
      NULL → non-match.
    - ``double(x)``: numeric parse; unparseable → non-match.
    - ``string(x)``: INTEGER-valued operands only (the routing-rule
      usage): x → double → trunc → bigint → string. Float formatting
      ("1.0E10" vs "10000000000.0") diverges across dialects, so
      general float→string is deliberately not offered.
    """

    fn: str  # int | double | string
    operand: object  # Path | Lit | Arith | Conv


@dataclass
class Cmp:
    op: str
    left: object
    right: object


@dataclass
class And:
    left: object
    right: object


@dataclass
class Or:
    left: object
    right: object


@dataclass
class Not:
    operand: object


@dataclass
class Arith:
    op: str  # + - * / %
    left: object
    right: object


@dataclass
class Has:
    path: Path


@dataclass
class Exists:
    path: Path
    var: str
    body: object


@dataclass
class ForAll:
    """``list.all(x, body)`` — exists()'s dual (cel-go macro)."""

    path: Path
    var: str
    body: object


@dataclass
class ExistsOne:
    """``list.exists_one(x, body)`` — exactly one element matches
    (cel-go macro). Compiled as size(filter) == 1 on every backend."""

    path: Path
    var: str
    body: object


@dataclass
class ListFilter:
    """``list.filter(x, body)`` — list-valued cel-go macro. Only usable
    inside ``.size()`` or as the RHS of ``in`` (a list has no boolean
    reading; anything else is rejected at config time)."""

    path: Path
    var: str
    body: object


@dataclass
class ListMap:
    """``list.map(x, expr)`` — list-valued cel-go macro; ``expr`` is
    arithmetic over the bound variable (numeric elements). Same usage
    restriction as ListFilter."""

    path: Path
    var: str
    expr: object


@dataclass
class Ternary:
    """``cond ? then : else`` with boolean branches. A cond that errors
    or is null selects the else branch — the same COALESCE(..., FALSE)
    convention the other boolean contexts here use, applied identically
    on all three backends."""

    cond: object
    then: object
    els: object


@dataclass
class StrFn:
    fn: str  # startsWith | endsWith | contains | matches | size
    path: object  # Path | ListFilter | ListMap (list exprs: size() only)
    arg: object | None


@dataclass
class InList:
    operand: object
    items: list


@dataclass
class InField:
    """``<literal> in event.some.list`` — membership over a LIST FIELD
    (cel-go's `in` over a dynamic list), vs InList's literal collection.
    ``path`` may also be a ListFilter/ListMap expression
    (``3 in event.ns.map(x, x * 3)``)."""

    needle: Lit
    path: object  # Path | ListFilter | ListMap


_DURATION_RE = re.compile(r"(\d+(?:\.\d+)?)(h|ms|us|ns|m|s)")

#: unit → seconds (cel-go duration units; no days, like Go time.Duration)
_DURATION_UNITS = {"h": 3600.0, "m": 60.0, "s": 1.0, "ms": 1e-3, "us": 1e-6, "ns": 1e-9}


def _parse_duration(text: str) -> float:
    """cel-go duration string → seconds. '1h30m', '90s', '1.5h',
    '-45m', '500ms'. Config-time CelSyntaxError on anything else."""
    s = text.strip()
    sign = 1.0
    if s.startswith("-"):
        sign, s = -1.0, s[1:]
    pos, total = 0, 0.0
    while pos < len(s):
        m = _DURATION_RE.match(s, pos)
        if m is None:
            raise CelSyntaxError(f"bad duration literal {text!r}")
        total += float(m.group(1)) * _DURATION_UNITS[m.group(2)]
        pos = m.end()
    if pos == 0:
        raise CelSyntaxError(f"bad duration literal {text!r}")
    return sign * total


def _parse_rfc3339(text: str) -> float:
    """RFC3339 timestamp string → UTC epoch seconds. Offset-less strings
    are UTC (all three execution backends run with a UTC session zone
    here; rules SHOULD carry explicit offsets as msgraph does).
    Config-time CelSyntaxError on parse failure."""
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(text.replace("Z", "+00:00"))
    except ValueError as exc:
        raise CelSyntaxError(f"bad timestamp literal {text!r}: {exc}") from None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _contains_time(node) -> bool:
    """True if the operand expression involves a timestamp()/duration()
    literal anywhere (the trigger for time-typed comparison)."""
    if isinstance(node, (TsLit, DurLit)):
        return True
    if isinstance(node, Arith):
        return _contains_time(node.left) or _contains_time(node.right)
    return False


def _time_tag(node) -> str:
    """Static time type of a Cmp side: 'ts' or 'dur'. Paths are
    timestamp-typed fields (a bare field can never be duration-typed —
    durations only arise from duration() literals or ts - ts).
    Everything compiles to epoch/interval SECONDS, so this check exists
    purely to reject nonsense (ts + ts, ts * 2, string vs ts) at config
    time, like cel-go's type checker."""
    if isinstance(node, TsLit):
        return "ts"
    if isinstance(node, DurLit):
        return "dur"
    if isinstance(node, Path):
        return "ts"
    if isinstance(node, Arith):
        if node.op not in ("+", "-"):
            raise CelSyntaxError(f"{node.op!r} not defined for time values")
        lt, rt = _time_tag(node.left), _time_tag(node.right)
        if node.op == "+":
            if (lt, rt) in (("ts", "dur"), ("dur", "ts")):
                return "ts"
            if (lt, rt) == ("dur", "dur"):
                return "dur"
            raise CelSyntaxError("cannot add two timestamps")
        # '-'
        if (lt, rt) == ("ts", "ts"):
            return "dur"
        if (lt, rt) == ("ts", "dur"):
            return "ts"
        if (lt, rt) == ("dur", "dur"):
            return "dur"
        raise CelSyntaxError("cannot subtract a timestamp from a duration")
    raise CelSyntaxError(f"operand {node!r} cannot appear in a time comparison")


def _check_time_cmp(node: Cmp) -> None:
    """Both sides of a time comparison must carry the same time type."""
    if _time_tag(node.left) != _time_tag(node.right):
        raise CelSyntaxError(
            "time comparison mixes timestamp and duration operands"
        )


def _validate_time_usage(node) -> None:
    """timestamp()/duration() literals are only legal inside a
    comparison between time-typed operands — walked at parse_rule time
    so misuse (in lists, string functions, boolean position) is a
    config-time error on every backend."""
    if isinstance(node, (TsLit, DurLit)):
        raise CelSyntaxError(
            "timestamp()/duration() only usable inside a comparison"
        )
    if isinstance(node, Cmp):
        if _contains_time(node.left) or _contains_time(node.right):
            _check_time_cmp(node)
            return  # sides validated as a unit; don't descend
        _validate_time_usage(node.left)
        _validate_time_usage(node.right)
        return
    if isinstance(node, (And, Or)):
        _validate_time_usage(node.left)
        _validate_time_usage(node.right)
    elif isinstance(node, Not):
        _validate_time_usage(node.operand)
    elif isinstance(node, Ternary):
        _validate_time_usage(node.cond)
        _validate_time_usage(node.then)
        _validate_time_usage(node.els)
    elif isinstance(node, Arith):
        _validate_time_usage(node.left)
        _validate_time_usage(node.right)
    elif isinstance(node, Conv):
        _validate_time_usage(node.operand)
    elif isinstance(node, (Exists, ForAll, ExistsOne)):
        _validate_time_usage(node.body)
    elif isinstance(node, (ListFilter,)):
        _validate_time_usage(node.body)
    elif isinstance(node, (ListMap,)):
        _validate_time_usage(node.expr)
    elif isinstance(node, InList):
        _validate_time_usage(node.operand)


class _Parser:
    def __init__(self, src: str):
        self.tokens = _tokenize(src)
        self.i = 0

    def peek(self):
        return self.tokens[self.i]

    def next(self):
        t = self.tokens[self.i]
        self.i += 1
        return t

    def expect(self, value: str):
        kind, v = self.next()
        if v != value:
            raise CelSyntaxError(f"expected {value!r}, got {v!r}")

    def parse(self):
        node = self.parse_ternary()
        if self.peek()[0] != "eof":
            raise CelSyntaxError(f"trailing input at token {self.peek()[1]!r}")
        return node

    def parse_ternary(self):
        node = self.parse_or()
        if self.peek()[1] == "?":
            self.next()
            then = self.parse_ternary()  # right-associative, like cel-go
            self.expect(":")
            els = self.parse_ternary()
            return Ternary(node, then, els)
        return node

    def parse_or(self):
        node = self.parse_and()
        while self.peek()[1] == "||":
            self.next()
            node = Or(node, self.parse_and())
        return node

    def parse_and(self):
        node = self.parse_cmp()
        while self.peek()[1] == "&&":
            self.next()
            node = And(node, self.parse_cmp())
        return node

    def parse_cmp(self):
        node = self.parse_add()
        kind, v = self.peek()
        if v in ("==", "!=", "<", "<=", ">", ">="):
            self.next()
            return Cmp(v, node, self.parse_add())
        if kind == "ident" and v == "in":
            self.next()
            if self.peek()[1] == "{":
                # map literal → key membership, like cel-go ('k' in {'k': 1})
                return InList(node, self.parse_map_literal_keys())
            if self.peek()[1] == "[":
                return InList(node, self.parse_list_literal())
            # '<lit> in event.some.list' — membership over a list field
            # (or over a filter()/map() list expression)
            rhs = self.parse_unary()
            if not isinstance(rhs, (Path, ListFilter, ListMap)):
                raise CelSyntaxError(
                    "'in' needs a [..] / {..} literal, a list field path, "
                    "or a filter()/map() expression"
                )
            if not isinstance(node, Lit) or isinstance(node.value, (bool, type(None))):
                raise CelSyntaxError(
                    "'in <field>' needs a string/number literal needle"
                )
            needle_num = isinstance(node.value, (int, float))
            if isinstance(rhs, ListMap) and not needle_num:
                raise CelSyntaxError(
                    "'in <map()>' needs a numeric needle (map() elements are numeric)"
                )
            if isinstance(rhs, ListFilter):
                if _body_fields(rhs.body, rhs.var):
                    raise CelSyntaxError(
                        "'in' over a filter() with field access is not "
                        "supported (struct elements have no needle type)"
                    )
                elem_num = _elem_type(rhs.body) == "double"
                if needle_num != elem_num:
                    raise CelSyntaxError(
                        "'in <filter()>' needle type must match the element "
                        "type the filter body implies"
                    )
            return InField(node, rhs)
        return node

    def parse_add(self):
        node = self.parse_mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            node = Arith(op, node, self.parse_mul())
        return node

    def parse_mul(self):
        node = self.parse_unary()
        while self.peek()[1] in ("*", "/", "%"):
            op = self.next()[1]
            node = Arith(op, node, self.parse_unary())
        return node

    def parse_list_literal(self) -> list:
        self.expect("[")
        items = []
        while self.peek()[1] != "]":
            node = self.parse_unary()
            if not isinstance(node, Lit):
                raise CelSyntaxError("only literal lists supported after 'in'")
            items.append(node.value)
            if self.peek()[1] == ",":
                self.next()
        self.expect("]")
        return items

    def parse_map_literal_keys(self) -> list:
        """``{k1: v1, k2: v2}`` → [k1, k2]. Only the keys matter for the
        'in' membership test (cel-go semantics); values must still be
        literals so a bad rule is rejected at config time."""
        self.expect("{")
        keys = []
        while self.peek()[1] != "}":
            key = self.parse_unary()
            if not isinstance(key, Lit) or isinstance(key.value, (bool, type(None))):
                raise CelSyntaxError("map literal keys must be string/number literals")
            self.expect(":")
            val = self.parse_unary()
            if not isinstance(val, Lit):
                raise CelSyntaxError("map literal values must be literals")
            keys.append(key.value)
            if self.peek()[1] == ",":
                self.next()
        self.expect("}")
        return keys

    def parse_unary(self):
        kind, v = self.peek()
        if v == "!":
            self.next()
            return Not(self.parse_unary())
        if v == "-":
            self.next()
            operand = self.parse_unary()
            if isinstance(operand, Lit) and isinstance(operand.value, (int, float)):
                return Lit(-operand.value)
            return Arith("-", Lit(0), operand)
        if v == "(":
            self.next()
            node = self.parse_or()
            self.expect(")")
            return node
        if kind == "num":
            self.next()
            return Lit(float(v) if "." in v else int(v))
        if kind == "str":
            self.next()
            body = v[1:-1]
            # unescape \" \' \\ \n \t
            body = (
                body.replace("\\\\", "\x00")
                .replace('\\"', '"')
                .replace("\\'", "'")
                .replace("\\n", "\n")
                .replace("\\t", "\t")
                .replace("\x00", "\\")
            )
            return Lit(body)
        if kind == "ident":
            if v == "true":
                self.next()
                return Lit(True)
            if v == "false":
                self.next()
                return Lit(False)
            if v == "null":
                self.next()
                return Lit(None)
            if v == "has":
                self.next()
                self.expect("(")
                inner = self.parse_path()
                self.expect(")")
                return Has(inner)
            return self.parse_path_or_call()
        raise CelSyntaxError(f"unexpected token {v!r}")

    def parse_path(self) -> Path:
        kind, v = self.next()
        if kind != "ident":
            raise CelSyntaxError(f"expected identifier, got {v!r}")
        parts = [v]
        while self.peek()[1] == ".":
            self.next()
            kind, v = self.next()
            if kind != "ident":
                raise CelSyntaxError(f"expected identifier after '.', got {v!r}")
            parts.append(v)
        return Path(tuple(parts))

    def parse_path_or_call(self):
        path = self.parse_path()
        # method call on the path: last part may be exists/startsWith/...
        if self.peek()[1] == "(":
            method = path.parts[-1]
            base = Path(path.parts[:-1])
            if not base.parts:
                if method in ("timestamp", "duration"):
                    self.next()  # (
                    arg = self.parse_unary()
                    if not isinstance(arg, Lit) or not isinstance(arg.value, str):
                        raise CelSyntaxError(f"{method}() requires a string literal")
                    self.expect(")")
                    if method == "timestamp":
                        return TsLit(_parse_rfc3339(arg.value), arg.value)
                    return DurLit(_parse_duration(arg.value), arg.value)
                if method in ("int", "double", "string"):
                    self.next()  # (
                    arg = self.parse_add()
                    self.expect(")")
                    if not isinstance(arg, (Path, Lit, Arith, Conv)):
                        raise CelSyntaxError(
                            f"{method}() requires a field, literal, or "
                            "arithmetic operand"
                        )
                    return Conv(method, arg)
                raise CelSyntaxError(f"unknown function {method!r}")
            self.next()  # (
            if method in ("exists", "all", "exists_one", "filter", "map"):
                kind, var = self.next()
                if kind != "ident":
                    raise CelSyntaxError(f"{method}() requires a variable name")
                self.expect(",")
                body = self.parse_or()
                self.expect(")")
                if method == "map":
                    _validate_map_expr(body, var)
                    node = ListMap(base, var, body)
                else:
                    _validate_exists_body(body, var)
                    _body_fields(body, var)  # mixing/depth config errors
                    if method == "all":
                        return ForAll(base, var, body)
                    if method == "exists_one":
                        return ExistsOne(base, var, body)
                    if method == "exists":
                        return Exists(base, var, body)
                    node = ListFilter(base, var, body)
                # list-valued macros are only usable inside .size() or as
                # the RHS of 'in' — a list has no boolean reading
                if self.peek()[1] == ".":
                    self.next()
                    kind2, m2 = self.next()
                    if m2 != "size":
                        raise CelSyntaxError(
                            f"only .size() may chain onto {method}(); got {m2!r}"
                        )
                    self.expect("(")
                    self.expect(")")
                    return StrFn("size", node, None)
                return node
            if method in ("startsWith", "endsWith", "contains", "matches"):
                arg = self.parse_unary()
                if not isinstance(arg, Lit) or not isinstance(arg.value, str):
                    raise CelSyntaxError(f"{method}() requires a string literal")
                if method == "matches":
                    _validate_portable_regex(arg.value)
                self.expect(")")
                return StrFn(method, base, arg)
            if method == "size":
                self.expect(")")
                return StrFn("size", base, None)
            raise CelSyntaxError(f"unsupported method {method!r}")
        return path


#: regex constructs that diverge across the three execution dialects
#: (Java regex via Spark rlike, RE2 via DuckDB regexp_matches, Python re):
#: lookaround / named groups / inline flags "(?...", unicode property
#: classes \p{..}, backreferences, and absolute anchors \A \z \Z \G.
_NONPORTABLE_RE = re.compile(r"\(\?(?!:)|\\[pP]|\\[0-9]|\\[AzZG]")


def _validate_portable_regex(pattern: str) -> None:
    r"""matches() patterns are restricted to the dialect-portable subset
    (literals, [..] classes, . * + ? {m,n} | (..) (?:..) ^ $ and the
    \d \w \s \b escapes) so a rule accepted at config time cannot
    crash or silently diverge on one backend. The \d \w \s \b classes
    are ASCII-only on every backend: Java rlike and RE2 define them so,
    and eval_python compiles with re.ASCII to match. Residual caveat:
    for data with a TRAILING NEWLINE, '$' matches before it in
    Java/Python but not in RE2 — parsed log fields are trimmed upstream,
    so this only matters for raw multiline payloads."""
    m = _NONPORTABLE_RE.search(pattern)
    if m:
        raise CelSyntaxError(
            f"matches(): {m.group(0)!r} is not portable across the "
            "Spark/DuckDB/Python regex dialects; use the portable subset"
        )
    try:
        re.compile(pattern)
    except re.error as e:
        raise CelSyntaxError(f"matches(): bad regex: {e}") from None


def _validate_exists_body(node, var: str) -> None:
    """exists()/all()/exists_one()/filter() bodies are limited to what
    ALL THREE backends compile — comparisons of the bound var against
    literals and string predicates on the bound var
    (startsWith/endsWith/contains/matches), combined with && / || —
    rejected at config time instead of failing late on one backend and
    silently non-matching on another."""
    if isinstance(node, (And, Or)):
        _validate_exists_body(node.left, var)
        _validate_exists_body(node.right, var)
        return
    if isinstance(node, Cmp):
        for side in (node.left, node.right):
            if isinstance(side, Lit):
                continue
            if (
                isinstance(side, Path)
                and side.parts[0] == var
                and len(side.parts) <= 2
            ):
                continue  # bare var, or one-level field access (x.f)
            raise CelSyntaxError(
                "exists() body must compare the bound variable (or one of "
                "its fields) to a literal"
            )
        return
    if (
        isinstance(node, StrFn)
        and node.fn in ("startsWith", "endsWith", "contains", "matches")
        and isinstance(node.path, Path)
        and node.path.parts[0] == var
        and len(node.path.parts) <= 2
    ):
        return  # regex portability already validated at parse time
    if (
        isinstance(node, Has)
        and node.path.parts[0] == var
        and len(node.path.parts) == 2
    ):
        return  # has(x.field): present AND non-null on every backend
    raise CelSyntaxError(f"unsupported exists() body: {node!r}")


def _validate_map_expr(node, var: str) -> None:
    """map() transform expressions are limited to arithmetic over the
    bound variable and numeric literals — the subset whose element-wise
    semantics are identical across Spark transform(), DuckDB
    list_transform(), and Python (config-time rejection otherwise)."""
    if isinstance(node, Path) and node.parts == (var,):
        return
    if (
        isinstance(node, Lit)
        and isinstance(node.value, (int, float))
        and not isinstance(node.value, bool)
    ):
        return
    if isinstance(node, Arith):
        _validate_map_expr(node.left, var)
        _validate_map_expr(node.right, var)
        return
    raise CelSyntaxError(
        "map() expression must be arithmetic over the bound variable "
        "and numeric literals"
    )


def _elem_type(body) -> str:
    """Neutral element-type tag ('double' | 'string') implied by the
    literals a lambda body compares against (numeric literal anywhere →
    numeric elements); each compiler dialect names the type itself."""
    for lit in _body_literals(body):
        if isinstance(lit, (int, float)) and not isinstance(lit, bool):
            return "double"
    return "string"


def _body_literals(node):
    if isinstance(node, Lit):
        yield node.value
    for attr in ("left", "right", "operand", "body"):
        child = getattr(node, attr, None)
        if child is not None and not isinstance(child, (str, tuple)):
            yield from _body_literals(child)


def _body_fields(body, var: str) -> dict[str, str] | None:
    """Fields the lambda body reads off the bound variable (cel-go
    ``event.groups.exists(g, g.name == "x")`` — arrays of OBJECTS).
    Returns ``{field: "double"|"string"}`` in struct mode, ``None`` when
    the body uses the bare variable (scalar elements). Mixing bare and
    field access, or nesting deeper than one level, is a config-time
    error — cel-go types it dynamically; all three backends here need
    one element shape."""
    fields: dict[str, str] = {}
    bare: list[Path] = []

    def note(path: Path, typ: str) -> None:
        if len(path.parts) == 1:
            bare.append(path)
        elif len(path.parts) == 2:
            f = path.parts[1]
            prev = fields.get(f)
            fields[f] = "double" if "double" in (prev, typ) else typ
        else:
            raise CelSyntaxError(
                "only one-level field access on the bound variable"
            )

    def walk(n) -> None:
        if isinstance(n, Cmp):
            lits = [s.value for s in (n.left, n.right) if isinstance(s, Lit)]
            num = any(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in lits
            )
            for s in (n.left, n.right):
                if isinstance(s, Path) and s.parts[0] == var:
                    note(s, "double" if num else "string")
        elif isinstance(n, (And, Or)):
            walk(n.left)
            walk(n.right)
        elif (
            isinstance(n, StrFn)
            and isinstance(n.path, Path)
            and n.path.parts[0] == var
        ):
            note(n.path, "string")
        elif (
            isinstance(n, Has)
            and n.path.parts[0] == var
        ):
            # presence-only usage parses as string (any scalar value);
            # a numeric comparison elsewhere upgrades the field to
            # double, making has() mean "has a NUMERIC value" there
            note(n.path, "string")

    walk(body)
    if fields and bare:
        raise CelSyntaxError(
            "exists() body mixes bare-variable and field access"
        )
    return fields or None


def _reject_bare_list_exprs(node) -> None:
    """filter()/map() are list-valued — legal only inside .size() or as
    the RHS of 'in' (where they sit in non-boolean AST fields this walk
    does not visit). Anywhere a boolean is needed they are a config-time
    error, matching cel-go's type checker."""
    if isinstance(node, (ListFilter, ListMap)):
        raise CelSyntaxError(
            "filter()/map() is list-valued; wrap it in .size() or use it "
            "as the right side of 'in'"
        )
    if isinstance(node, (And, Or)):
        _reject_bare_list_exprs(node.left)
        _reject_bare_list_exprs(node.right)
    elif isinstance(node, Not):
        _reject_bare_list_exprs(node.operand)
    elif isinstance(node, Ternary):
        _reject_bare_list_exprs(node.cond)
        _reject_bare_list_exprs(node.then)
        _reject_bare_list_exprs(node.els)


def parse_rule(rule: str):
    """Parse a CEL-subset rule → AST. Raises CelSyntaxError (config-time
    rejection, mirroring validateRule engine.go:88-106)."""
    ast = _Parser(rule).parse()
    _reject_bare_list_exprs(ast)
    _validate_time_usage(ast)
    return ast


# ---------------------------------------------------------------------------
# Compiler core: one traversal and one typing pass, two dialect printers
# ---------------------------------------------------------------------------


def _json_path(parts: tuple[str, ...]) -> str:
    return "$." + ".".join(parts)


class _Compiler:
    """Walks a rule AST and decides every operand's type; the dialect
    subclass only prints primitives (``lit``, ``json_text``, ``to_double``,
    ``cmp``, ``hof`` ...), each a few lines. Neither subclass walks the AST.

    mode='json':    paths under ``event.`` read the JSON TEXT of a string
                    column (schema-free lines, the reference model); the
                    comparison partner decides how that text is typed
                    (``_typed_path``). Every string→number read is a
                    try-cast: a non-numeric value is NULL → non-match,
                    never an ANSI cast error that kills the job.
    mode='columns': paths under ``event.`` are real DataFrame columns,
                    already typed (fully native, no JSON parse).
    """

    def __init__(self, mode: str = "json", value_col: str = "value", root: str = "event"):
        if mode not in ("json", "columns"):
            raise ValueError(mode)
        self.mode = mode
        self.value_col = value_col
        self.root = root

    # -- paths and typing -----------------------------------------------------

    def _rel(self, path: Path) -> tuple[str, ...]:
        if path.parts[0] != self.root:
            raise CelSyntaxError(f"unknown identifier {path.parts[0]!r}")
        if len(path.parts) == 1:
            raise CelSyntaxError("bare 'event' is not addressable")
        return path.parts[1:]

    def _raw_path(self, path: Path):
        rel = self._rel(path)
        return self.json_text(rel) if self.mode == "json" else self.field(rel)

    def _list_arr(self, path: Path, elem):
        """The list field as a typed array. ``elem`` is a neutral type
        tag ('double' | 'string') or ``{field: tag}`` for object
        elements; each dialect maps tags to its own type names."""
        rel = self._rel(path)
        return self.json_array(rel, elem) if self.mode == "json" else self.field(rel)

    def _typed_path(self, path: Path, like):
        """A path read typed by the literal (or numeric side) it meets:
        json text compares to 'true' for a bool partner and try-casts to
        double for a numeric one."""
        raw = self._raw_path(path)
        if self.mode == "columns":
            return raw
        if isinstance(like, bool):
            return self.cmp("==", raw, self.lit("true"))
        if isinstance(like, (int, float)):
            return self.to_double(raw)
        return raw

    @staticmethod
    def _cmp_type(left, right):
        """THE comparison-operand typing rule, the one place it lives.

        A literal side types the other side (the right literal first; any
        literal counts, so 0, 0.0, false and "" type their partner like
        any other value). Without a literal, a numeric side (arithmetic,
        int()/double(), size()) makes the comparison numeric. Otherwise
        the sides compare untyped."""
        for side in (right, left):
            if isinstance(side, Lit):
                return side.value
        for side in (left, right):
            if (
                isinstance(side, Arith)
                or (isinstance(side, Conv) and side.fn in ("int", "double"))
                or (isinstance(side, StrFn) and side.fn == "size")
            ):
                return 1.0
        return None

    def _operand(self, node, like=None):
        if isinstance(node, Lit):
            return self.lit(node.value)
        if isinstance(node, Path):
            return self._typed_path(node, like)
        if isinstance(node, StrFn) and node.fn == "size":
            return self._size(node)
        if isinstance(node, Arith):
            return self._arith(node)
        if isinstance(node, Conv):
            return self._conv(node)
        raise CelSyntaxError(f"unsupported operand {node!r}")

    def _conv(self, node: Conv):
        """int()/double()/string(): the operand as double, int truncates
        toward zero; unparseable → NULL → non-match (see ``Conv``)."""
        num = self.to_double(self._operand(node.operand))
        if node.fn == "double":
            return num
        as_int = self.to_int(num)
        return as_int if node.fn == "int" else self.to_text(as_int)

    def _num(self, node, bound=None):
        """An arithmetic operand: numeric by context. ``bound`` is
        ``(var, element)`` inside a map() expression."""
        if bound and isinstance(node, Path) and node.parts == (bound[0],):
            return bound[1]
        if isinstance(node, Arith):
            return self._arith(node, bound)
        if isinstance(node, Lit) and (
            not isinstance(node.value, (int, float)) or isinstance(node.value, bool)
        ):
            raise CelSyntaxError(f"non-numeric literal in arithmetic: {node.value!r}")
        if isinstance(node, Conv) and node.fn == "string":
            raise CelSyntaxError(f"unsupported arithmetic operand {node!r}")
        return self._operand(node, 1.0)

    def _arith(self, node: Arith, bound=None):
        return self.arith(node.op, self._num(node.left, bound), self._num(node.right, bound))

    def _time_side(self, node):
        """One side of a time comparison as epoch/interval SECONDS. A
        malformed field parses to NULL → non-match; literals were
        resolved at config time."""
        if isinstance(node, TsLit):
            return self.lit(node.epoch)
        if isinstance(node, DurLit):
            return self.lit(node.seconds)
        if isinstance(node, Path):
            return self.epoch(self._raw_path(node))
        if isinstance(node, Arith):
            return self.arith(node.op, self._time_side(node.left), self._time_side(node.right))
        raise CelSyntaxError(f"operand {node!r} cannot appear in a time comparison")

    def _size(self, node: StrFn):
        if isinstance(node.path, (ListFilter, ListMap)):
            return self.list_len(self._list_expr(node.path))
        raw = self._raw_path(node.path)
        if self.mode == "columns":
            return self.length(raw)
        # CEL size() is overloaded: element count for lists, char count
        # for strings. A json-mode path is raw text either way, so
        # dispatch on the array shape (the Python oracle's len() counts
        # list elements). Corner: a STRING value that starts with '[' but
        # is invalid JSON sizes as NULL → non-match.
        return self.when(
            self.strfn("matches", raw, r"^\s*\["),
            self.json_array_length(raw),
            self.length(raw),
        )

    # -- list macros ----------------------------------------------------------

    def _macro(self, kind: str, path: Path, var: str, body):
        """exists/forall/exists_one/filter over the list: scalar elements
        typed from the body's literals, or objects when the body reads
        fields of the bound variable."""
        fields = _body_fields(body, var)
        arr = self._list_arr(path, fields or _elem_type(body))
        return self.hof(kind, arr, var, lambda x: self._lambda_body(body, var, x, fields))

    def _list_expr(self, node):
        """A list-valued macro (filter()/map()) as an array."""
        if isinstance(node, ListFilter):
            return self._macro("filter", node.path, node.var, node.body)
        if isinstance(node, ListMap):
            arr = self._list_arr(node.path, "double")
            return self.hof(
                "transform", arr, node.var, lambda x: self._num(node.expr, (node.var, x))
            )
        raise CelSyntaxError(f"not a list expression: {node!r}")

    def _lambda_body(self, node, var: str, x, fields: dict | None):
        """A macro body with ``var`` bound to element ``x`` (the subset
        ``_validate_exists_body`` admits)."""

        def elem(path: Path):
            if path.parts[0] != var or len(path.parts) > 2:
                raise CelSyntaxError("unsupported exists() body")
            if len(path.parts) == 1:
                return x
            f = path.parts[1]
            return self.elem_field(x, f, (fields or {}).get(f))

        if isinstance(node, Cmp):
            left, right = (
                self.lit(s.value) if isinstance(s, Lit) else elem(s)
                for s in (node.left, node.right)
            )
            return self.cmp(node.op, left, right)
        if isinstance(node, (And, Or)):
            left = self._lambda_body(node.left, var, x, fields)
            right = self._lambda_body(node.right, var, x, fields)
            return self.and_(left, right) if isinstance(node, And) else self.or_(left, right)
        if isinstance(node, StrFn) and isinstance(node.path, Path) and node.fn != "size":
            return self.strfn(node.fn, elem(node.path), node.arg.value)
        if isinstance(node, Has):
            return self.is_not_null(elem(node.path))
        raise CelSyntaxError("unsupported exists() body")

    # -- boolean dispatch -----------------------------------------------------

    def compile(self, node):
        if isinstance(node, Lit):
            if isinstance(node.value, bool):
                return self.lit(node.value)
            raise CelSyntaxError("non-boolean rule result")
        if isinstance(node, Or):
            return self.or_(self.compile(node.left), self.compile(node.right))
        if isinstance(node, And):
            return self.and_(self.compile(node.left), self.compile(node.right))
        if isinstance(node, Not):
            return self.not_(self.compile(node.operand))
        if isinstance(node, Cmp):
            if _contains_time(node.left) or _contains_time(node.right):
                left, right = self._time_side(node.left), self._time_side(node.right)
            else:
                like = self._cmp_type(node.left, node.right)
                left, right = self._operand(node.left, like), self._operand(node.right, like)
            return self.cmp(node.op, left, right)
        if isinstance(node, Has):
            return self.is_not_null(self._raw_path(node.path))
        if isinstance(node, InList):
            like = node.items[0] if node.items else None
            return self.isin(self._operand(node.operand, like), node.items)
        if isinstance(node, InField):
            needle = node.needle.value
            num = isinstance(needle, (int, float)) and not isinstance(needle, bool)
            if isinstance(node.path, (ListFilter, ListMap)):
                arr = self._list_expr(node.path)
            else:
                arr = self._list_arr(node.path, "double" if num else "string")
            # missing/null list → FALSE (error-as-non-match convention)
            return self.coalesce_false(
                self.array_contains(arr, self.lit(float(needle) if num else needle))
            )
        if isinstance(node, StrFn):
            if node.fn == "size":
                raise CelSyntaxError("size() must appear inside a comparison")
            return self.strfn(node.fn, self._raw_path(node.path), node.arg.value)
        if isinstance(node, (Exists, ForAll, ExistsOne)):
            # missing/null list → FALSE; all() over [] is vacuously TRUE
            kind = {Exists: "exists", ForAll: "forall", ExistsOne: "exists_one"}[type(node)]
            return self.coalesce_false(self._macro(kind, node.path, node.var, node.body))
        if isinstance(node, Ternary):
            return self.when(
                self.coalesce_false(self.compile(node.cond)),
                self.compile(node.then),
                self.compile(node.els),
            )
        if isinstance(node, Path):
            return self._typed_path(node, True)  # bare boolean path
        raise CelSyntaxError(f"cannot compile node {node!r}")


_COL_CMP = {
    "==": operator.eq, "!=": operator.ne, "<": operator.lt,
    "<=": operator.le, ">": operator.gt, ">=": operator.ge,
}
#: try_divide/try_mod: /0 and %0 are NULL (→ non-match), like DuckDB and
#: the Python error path, instead of an ANSI error killing the whole job
_COL_ARITH = {
    "+": operator.add, "-": operator.sub, "*": operator.mul,
    "/": F.try_divide, "%": F.try_mod,
}
_COL_HOF = {"exists": F.exists, "forall": F.forall, "filter": F.filter, "transform": F.transform}


class ColumnCompiler(_Compiler):
    """Compile an AST to a Spark Column. In json mode a path reads its
    text from the value's VARIANT companion (``with_variant``; the caller
    adds it) and a list parses that text with from_json; neutral type
    tags are Spark's own names."""

    def lit(self, value):
        return F.lit(value)

    def json_text(self, rel):
        parsed = F.col(variant_col(self.value_col))
        return F.try_variant_get(parsed, _json_path(rel), "string")

    def field(self, rel):
        col = F.col(rel[0])
        for p in rel[1:]:
            col = col.getField(p)
        return col

    def json_array(self, rel, elem):
        if isinstance(elem, dict):  # from_json ignores extra object keys
            elem = "struct<" + ",".join(f"{f}:{t}" for f, t in sorted(elem.items())) + ">"
        return F.from_json(self.json_text(rel), f"array<{elem}>")

    def to_double(self, x):
        return x.try_cast("double")

    def to_int(self, x):
        return x.try_cast("bigint")  # double→bigint truncates toward zero

    def to_text(self, x):
        return x.cast("string")

    def epoch(self, x):
        # cast("string") first: a real timestamp column (columns mode)
        # round-trips; a JSON string field passes through
        return F.try_to_timestamp(x.cast("string")).cast("double")

    def cmp(self, op, left, right):
        return _COL_CMP[op](left, right)

    def and_(self, left, right):
        return left & right

    def or_(self, left, right):
        return left | right

    def not_(self, x):
        return ~x

    def coalesce_false(self, x):
        return F.coalesce(x, F.lit(False))

    def is_not_null(self, x):
        return x.isNotNull()

    def isin(self, x, items):
        return x.isin(items)

    def when(self, cond, then, els):
        return F.when(cond, then).otherwise(els)

    def arith(self, op, left, right):
        return _COL_ARITH[op](left, right)

    def strfn(self, fn, x, arg):
        # matches(): CEL's unanchored RE2 search; rlike is the unanchored
        # Java-regex twin (dialects agree on the portable subset)
        return {
            "startsWith": x.startswith, "endsWith": x.endswith,
            "contains": x.contains, "matches": x.rlike,
        }[fn](arg)

    def length(self, x):
        return F.length(x)

    def json_array_length(self, x):
        return F.json_array_length(x)

    def list_len(self, arr):
        return F.size(arr)

    def array_contains(self, arr, value):
        return F.array_contains(arr, value)

    def hof(self, kind, arr, var, body):
        if kind == "exists_one":
            return F.size(F.filter(arr, body)) == F.lit(1)
        return _COL_HOF[kind](arr, body)

    def elem_field(self, x, field, tag):
        return x.getField(field)  # from_json already typed the struct


_SQL_OPS = {"==": "=", "!=": "<>"}
_SQL_TYPES = {"double": "DOUBLE", "string": "VARCHAR"}
_SQL_STRFN = {
    "startsWith": "starts_with", "endsWith": "ends_with",
    "contains": "contains", "matches": "regexp_matches",
}


class SqlCompiler(_Compiler):
    """Compile the same AST to a DuckDB boolean SQL expression, for the
    driver's side-by-side correctness gate."""

    def lit(self, value):
        if value is None:
            return "NULL"
        if isinstance(value, bool):
            return "TRUE" if value else "FALSE"
        if isinstance(value, (int, float)):
            return repr(value)
        escaped = str(value).replace("'", "''")
        return f"'{escaped}'"

    def json_text(self, rel):
        return f"json_extract_string({self.value_col}, '{_json_path(rel)}')"

    def field(self, rel):
        return ".".join(rel)

    def json_array(self, rel, elem):
        # object elements stay JSON values; elem_field reads them
        sql_type = "JSON" if isinstance(elem, dict) else _SQL_TYPES[elem]
        return f"TRY_CAST(json_extract({self.value_col}, '{_json_path(rel)}') AS {sql_type}[])"

    def to_double(self, x):
        return f"TRY_CAST({x} AS DOUBLE)"

    def to_int(self, x):
        return f"TRY_CAST(TRUNC({x}) AS BIGINT)"  # DuckDB's CAST rounds

    def to_text(self, x):
        return f"CAST({x} AS VARCHAR)"

    def epoch(self, x):
        # the naive-TIMESTAMP cast takes explicit offsets to the UTC
        # instant and offset-less strings as UTC, whatever the host
        # TimeZone (probed) — matching Spark's UTC session zone here
        return f"epoch(TRY_CAST({x} AS TIMESTAMP))"

    def cmp(self, op, left, right):
        return f"({left} {_SQL_OPS.get(op, op)} {right})"

    def and_(self, left, right):
        return f"({left} AND {right})"

    def or_(self, left, right):
        return f"({left} OR {right})"

    def not_(self, x):
        # NULL must propagate (NOT NULL → NULL → non-match at the
        # rule-level COALESCE); coalescing here would turn an errored
        # operand into a MATCH
        return f"(NOT {x})"

    def coalesce_false(self, x):
        return f"COALESCE({x}, FALSE)"

    def is_not_null(self, x):
        return f"({x} IS NOT NULL)"

    def isin(self, x, items):
        return f"({x} IN ({', '.join(self.lit(v) for v in items)}))"

    def when(self, cond, then, els):
        return f"(CASE WHEN {cond} THEN {then} ELSE {els} END)"

    def arith(self, op, left, right):
        return f"({left} {op} {right})"

    def strfn(self, fn, x, arg):
        return f"{_SQL_STRFN[fn]}({x}, {self.lit(arg)})"

    def length(self, x):
        return f"length({x})"

    def json_array_length(self, x):
        return f"json_array_length(TRY_CAST({x} AS JSON))"

    def list_len(self, arr):
        return f"len({arr})"

    def array_contains(self, arr, value):
        return f"list_contains({arr}, {value})"

    def hof(self, kind, arr, var, body):
        pred = body(var)
        if kind == "transform":
            return f"list_transform({arr}, {var} -> {pred})"
        if kind == "forall":
            # an element whose body is NULL counts as a violation — the
            # outcome Spark's forall gives
            pred = f"NOT COALESCE({pred}, FALSE)"
        kept = f"list_filter({arr}, {var} -> {pred})"
        return {
            "filter": kept,
            "exists": f"len({kept}) > 0",
            "exists_one": f"len({kept}) = 1",
            "forall": f"len({kept}) = 0",
        }[kind]

    def elem_field(self, x, field, tag):
        if self.mode == "columns":
            return f"{x}.{field}"
        if tag == "double":
            return self.to_double(f"json_extract({x}, '$.{field}')")
        return f"json_extract_string({x}, '$.{field}')"


# ---------------------------------------------------------------------------
# Backend 3: pure-Python oracle evaluation
# ---------------------------------------------------------------------------


def _py_resolve(event: dict, path: Path):
    cur = event
    for p in path.parts[1:]:
        if isinstance(cur, dict) and p in cur:
            cur = cur[p]
        else:
            raise CelEvalError(f"no such key: {'.'.join(path.parts)}")
    return cur


def _py_conv(node: Conv, event: dict):
    """Mirror of the compilers' ``_Compiler._conv``: value as
    double, int/string truncate toward zero; failures → CelEvalError →
    non-match (matching try_cast NULL on the other backends)."""
    import math

    inner = node.operand
    if isinstance(inner, Conv):
        val = _py_conv(inner, event)
    elif isinstance(inner, Lit):
        val = inner.value
    elif isinstance(inner, Path):
        val = _py_resolve(event, inner)
    elif isinstance(inner, Arith):
        val = eval_python(inner, event)
    else:
        raise CelEvalError(f"unsupported {node.fn}() operand {inner!r}")
    if isinstance(val, bool) or val is None:
        raise CelEvalError(f"{node.fn}() on {val!r}")
    try:
        num = float(val)
    except (TypeError, ValueError):
        raise CelEvalError(f"{node.fn}() cannot convert {val!r}") from None
    if node.fn == "double":
        return num
    if math.isnan(num) or math.isinf(num):
        raise CelEvalError(f"{node.fn}() on non-finite {num!r}")
    t = int(math.trunc(num))
    if not -(2**63) <= t < 2**63:
        raise CelEvalError("int() overflow")
    return t if node.fn == "int" else str(t)


def _py_time_side(node, event: dict) -> float:
    """Mirror of the Column/SQL time sides: epoch/interval seconds. A
    field that is missing or fails to parse raises CelEvalError →
    non-match, matching try_to_timestamp's NULL on the other backends."""
    if isinstance(node, TsLit):
        return node.epoch
    if isinstance(node, DurLit):
        return node.seconds
    if isinstance(node, Path):
        val = _py_resolve(event, node)
        if not isinstance(val, str):
            raise CelEvalError(f"time comparison on non-string field: {val!r}")
        try:
            return _parse_rfc3339(val)
        except CelSyntaxError:
            raise CelEvalError(f"unparseable timestamp field {val!r}") from None
    if isinstance(node, Arith):
        left = _py_time_side(node.left, event)
        right = _py_time_side(node.right, event)
        return left + right if node.op == "+" else left - right
    raise CelEvalError(f"operand {node!r} cannot appear in a time comparison")


def eval_python(node, event: dict):
    """CEL-like evaluation against a parsed JSON dict; raises CelEvalError
    on type mismatches / missing keys (which the caller treats as
    non-match, engine.go:20-29)."""
    if isinstance(node, Lit):
        return node.value
    if isinstance(node, Path):
        return _py_resolve(event, node)
    if isinstance(node, Conv):
        return _py_conv(node, event)
    if isinstance(node, Or):
        try:
            if eval_python(node.left, event) is True:
                return True
        except CelEvalError:
            pass
        return eval_python(node.right, event) is True
    if isinstance(node, And):
        return eval_python(node.left, event) is True and eval_python(node.right, event) is True
    if isinstance(node, Not):
        val = eval_python(node.operand, event)
        if not isinstance(val, bool):
            raise CelEvalError("! on non-bool")
        return not val
    if isinstance(node, Has):
        # present AND non-null — the Column/SQL backends compile has()
        # to IS NOT NULL, and a JSON-null field reads as NULL there.
        # DOCUMENTED DIVERGENCE from cel-go (engine.go), which treats a
        # present-but-null JSON key as has()==true: struct-typed Column
        # events cannot distinguish null from absent (from_json maps
        # both to SQL NULL), so all three backends agree on the
        # non-null semantics instead (pinned: tests/test_cel.py
        # HAS_TRUTH, 'has(event.opt)' on {"opt": null})
        try:
            return _py_resolve(event, node.path) is not None
        except CelEvalError:
            return False
    if isinstance(node, Arith):
        import math

        left = eval_python(node.left, event)
        right = eval_python(node.right, event)
        for v in (left, right):
            if not isinstance(v, (int, float)) or isinstance(v, bool):
                raise CelEvalError(f"arithmetic on non-number: {v!r}")
        if node.op == "+":
            return left + right
        if node.op == "-":
            return left - right
        if node.op == "*":
            return left * right
        if node.op == "/":
            if right == 0:
                raise CelEvalError("division by zero")
            return left / right
        if node.op == "%":
            if right == 0:
                raise CelEvalError("modulo by zero")
            # truncated remainder (sign of dividend) — matches Spark/DuckDB
            return math.fmod(left, right)
        raise CelEvalError(f"unknown arithmetic op {node.op!r}")
    if isinstance(node, Cmp):
        if _contains_time(node.left) or _contains_time(node.right):
            left = _py_time_side(node.left, event)
            right = _py_time_side(node.right, event)
        else:
            left = eval_python(node.left, event)
            right = eval_python(node.right, event)
            _check_types(left, right)
        return {
            "==": lambda: left == right,
            "!=": lambda: left != right,
            "<": lambda: left < right,
            "<=": lambda: left <= right,
            ">": lambda: left > right,
            ">=": lambda: left >= right,
        }[node.op]()
    if isinstance(node, InList):
        val = eval_python(node.operand, event)
        return val in node.items
    if isinstance(node, InField):
        if isinstance(node.path, (ListFilter, ListMap)):
            arr = _py_list_expr(node.path, event)
        else:
            arr = _py_resolve(event, node.path)
        if not isinstance(arr, list):
            raise CelEvalError("'in' field is not a list")
        needle = node.needle.value
        if isinstance(needle, (int, float)) and not isinstance(needle, bool):
            # numeric membership compares as double (matches the other
            # backends' DOUBLE[] cast — 3 in [3.0] is a match)
            return any(
                isinstance(v, (int, float))
                and not isinstance(v, bool)
                and float(v) == float(needle)
                for v in arr
            )
        return needle in arr
    if isinstance(node, StrFn):
        if isinstance(node.path, (ListFilter, ListMap)):
            if node.fn != "size":
                raise CelEvalError(f"{node.fn}() on a list expression")
            return len(_py_list_expr(node.path, event))
        val = _py_resolve(event, node.path)
        if node.fn == "size":
            # mirror the Column/SQL backends' list-vs-string dispatch:
            # a '['-leading STRING value is sized as a JSON array (its
            # content), and errors (→ non-match) when it isn't one
            if isinstance(val, str) and val.lstrip().startswith("["):
                try:
                    parsed = json.loads(val)
                except ValueError:
                    raise CelEvalError("size() on non-JSON bracket string") from None
                if not isinstance(parsed, list):
                    raise CelEvalError("size() on non-list JSON")
                return len(parsed)
            return len(val)
        if not isinstance(val, str):
            raise CelEvalError(f"{node.fn} on non-string")
        if node.fn == "startsWith":
            return val.startswith(node.arg.value)
        if node.fn == "endsWith":
            return val.endswith(node.arg.value)
        if node.fn == "contains":
            return node.arg.value in val
        if node.fn == "matches":
            # re.ASCII: Spark rlike (Java) and DuckDB (RE2) treat \d/\w/\s
            # /\b as ASCII-only; Python's default Unicode classes would
            # silently diverge across backends (round-2 ADVICE)
            return re.search(node.arg.value, val, re.ASCII) is not None
    if isinstance(node, Exists):
        arr = _py_resolve(event, node.path)
        if not isinstance(arr, list):
            raise CelEvalError("exists() on non-list")
        rebound = _rebind(node.body, node.var)
        for item in arr:
            try:
                if eval_python(rebound, {**event, node.var: item}) is True:
                    return True
            except CelEvalError:
                continue
        return False
    if isinstance(node, ForAll):
        arr = _py_resolve(event, node.path)
        if not isinstance(arr, list):
            raise CelEvalError("all() on non-list")
        rebound = _rebind(node.body, node.var)
        for item in arr:
            try:
                ok = eval_python(rebound, {**event, node.var: item}) is True
            except CelEvalError:
                ok = False  # errored element = violation (matches SQL/Column)
            if not ok:
                return False
        return True  # vacuously true over [], like cel-go
    if isinstance(node, ExistsOne):
        flt = ListFilter(node.path, node.var, node.body)
        return len(_py_list_expr(flt, event)) == 1
    if isinstance(node, Ternary):
        try:
            cond = eval_python(node.cond, event) is True
        except CelEvalError:
            cond = False  # error/null cond selects the else branch
        return eval_python(node.then if cond else node.els, event)
    raise CelEvalError(f"cannot evaluate {node!r}")


def _py_list_expr(node, event: dict) -> list:
    """Evaluate a list-valued macro (filter()/map()) against the event.

    filter(): elements whose body errors are excluded — same outcome as
    Spark F.filter (NULL body drops the element) and DuckDB list_filter.
    map(): non-numeric elements yield None (mirrors Spark's array<double>
    cast producing NULL), so size() stays backend-consistent."""
    arr = _py_resolve(event, node.path)
    if not isinstance(arr, list):
        raise CelEvalError("filter()/map() on non-list")
    if isinstance(node, ListFilter):
        rebound = _rebind(node.body, node.var)
        out = []
        for item in arr:
            try:
                if eval_python(rebound, {**event, node.var: item}) is True:
                    out.append(item)
            except CelEvalError:
                continue
        return out
    out = []
    for item in arr:
        if not isinstance(item, (int, float)) or isinstance(item, bool):
            out.append(None)
            continue
        try:
            out.append(_py_map_eval(node.expr, node.var, float(item)))
        except CelEvalError:
            # element-wise error (/0, %0) → None element, matching
            # Spark try_divide/try_mod and DuckDB NULL — size() then
            # counts the element on every backend
            out.append(None)
    return out


def _py_map_eval(node, var: str, x: float):
    import math

    if isinstance(node, Path) and node.parts == (var,):
        return x
    if isinstance(node, Lit):
        return float(node.value)
    if isinstance(node, Arith):
        left = _py_map_eval(node.left, var, x)
        right = _py_map_eval(node.right, var, x)
        if node.op == "+":
            return left + right
        if node.op == "-":
            return left - right
        if node.op == "*":
            return left * right
        if node.op == "/":
            if right == 0:
                raise CelEvalError("division by zero")
            return left / right
        if node.op == "%":
            if right == 0:
                raise CelEvalError("modulo by zero")
            return math.fmod(left, right)
    raise CelEvalError(f"unsupported map() expression {node!r}")


def _rebind(node, var: str):
    """exists() bodies reference the bound var as a bare path; eval_python
    resolves paths under the event root, so prefix nothing — paths of the
    form (var,) resolve via the merged dict in eval_python above."""
    if isinstance(node, Path) and node.parts[0] == var:
        return Path(("event", var) + node.parts[1:])
    if isinstance(node, (Cmp, And, Or)):
        cls = type(node)
        if isinstance(node, Cmp):
            return Cmp(node.op, _rebind(node.left, var), _rebind(node.right, var))
        return cls(_rebind(node.left, var), _rebind(node.right, var))
    if isinstance(node, Not):
        return Not(_rebind(node.operand, var))
    if isinstance(node, StrFn) and isinstance(node.path, Path):
        return StrFn(node.fn, _rebind(node.path, var), node.arg)
    if isinstance(node, Has):
        return Has(_rebind(node.path, var))
    return node


def _check_types(left, right):
    def cat(v):
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, (int, float)):
            return "num"
        if isinstance(v, str):
            return "str"
        if v is None:
            return "null"
        return "other"

    if cat(left) != cat(right):
        raise CelEvalError(f"type mismatch: {left!r} vs {right!r}")


def rule_detection_python(line: str, rules: list) -> bool:
    """Oracle mirror of ruleDetection (engine.go:13-34): OR over rules,
    errors count as non-match."""
    try:
        event = json.loads(line)
    except (ValueError, TypeError):
        return False
    if not isinstance(event, dict):
        return False
    for ast in rules:
        try:
            if eval_python(ast, event) is True:
                return True
        except CelEvalError:
            continue
    return False


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------


class CelFilter(Processor):
    """The `cel` processor as a DataFrame transform.

    config mirrors the reference (cel.go:14-17):
        rules:  list of CEL-subset strings (OR-composed)
        action: 'accept' (keep matches) | 'reject' (keep non-matches)
    """

    # only trims spaces off the value, which leaves its parse unchanged,
    # so the VARIANT companion need not be re-derived after it
    keeps_variant = True

    def __init__(
        self,
        rules: list[str],
        action: str = "accept",
        mode: str = "json",
        value_col: str = "value",
    ):
        if action not in ("accept", "reject"):
            raise ValueError(f"action must be accept|reject, got {action!r}")
        if not rules:
            raise ValueError("rules is required")
        self.action = action
        self.mode = mode
        self.value_col = value_col
        self.asts = [parse_rule(r) for r in rules]  # config-time validation

    @functools.cached_property
    def _predicate(self) -> Column:
        """OR over all rules; eval errors → non-match handled by null
        semantics + coalesce(False). Compiled on first use, then reused."""
        compiler = ColumnCompiler(mode=self.mode, value_col=self.value_col)
        pred = None
        for ast in self.asts:
            col = F.coalesce(compiler.compile(ast).cast("boolean"), F.lit(False))
            pred = col if pred is None else (pred | col)
        return pred

    @functools.cached_property
    def _tag_columns(self) -> tuple[dict[str, Column], Column]:
        pred = self._predicate
        keep = F.coalesce(pred if self.action == "accept" else ~pred, F.lit(False))
        if self.mode != "json":
            return {}, keep
        # empty / non-JSON lines are non-matches (cel.go:56-70): their
        # parse is NULL
        vc = self.value_col
        valid = F.col(variant_col(vc)).isNotNull()
        return {vc: F.trim(F.col(vc))}, valid & keep

    def tag_columns(self, df: DataFrame) -> tuple[DataFrame, dict[str, Column], Column]:
        """In json mode the frame carries the VARIANT companion; trimming
        spaces does not change the parse, so it is parsed before the trim
        and stays fresh."""
        if self.mode == "json":
            df = with_variant(df, self.value_col)
        rewrites, keep = self._tag_columns
        return df, rewrites, keep

    def sql_predicate(self) -> str:
        """DuckDB boolean expression equivalent to ``_predicate``."""
        sql = SqlCompiler(mode=self.mode, value_col=self.value_col)
        parts = [f"COALESCE({sql.compile(ast)}, FALSE)" for ast in self.asts]
        joined = " OR ".join(parts)
        return f"({joined})" if len(parts) > 1 else joined
