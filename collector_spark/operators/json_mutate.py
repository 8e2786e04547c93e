"""`json` processor — add / remove / conditional-replace on JSON lines.

Reference: internal/processor/json/json.go:16-35,88-130 (gjson/sjson
dotted-path surgery; non-JSON lines dropped; replace fires only when the
current value equals the expected one).

Three execution strategies, picked per call site:

- ``engine='pandas'`` (default) — schema-free JSON string lines: one
  vectorized pandas UDF per Arrow batch running the shared oracle
  implementation (collector_spark.oracle.json_mutate), so parity with
  pytest's oracle is by construction. This is the general path (any
  dotted key, any payload) and the quarantine path.

- ``engine='native'`` — top-level add only, as Catalyst string surgery
  on compact object lines. Validity, key presence and the nested-value
  guard read the line's VARIANT companion (``stage.with_variant``), so
  the line is parsed once however many keys are added. Quarantine mode
  runs the oracle engine in its place (see ``JsonMutator.apply``).

- ``mode='columns'`` — structured payloads: compiles the same action
  list to native ``withColumn`` / ``drop`` / ``when().otherwise()``
  Catalyst expressions. Zero Python per row; use whenever the schema is
  known (it is, for the pages/events tables).

Both json-mode engines rewrite ``value``: a VARIANT companion they
received is re-derived over the new value (``stage.rederive_variant``).
"""

from __future__ import annotations

import functools
import json
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from collector_spark import oracle
from collector_spark.operators.stage import (
    Processor,
    rederive_variant,
    reparse_variant,
    variant_col,
    with_variant,
)


def make_mutate_udf(add: list[dict], remove: list[dict], replace: list[dict]):
    """Pandas UDF closure over a fixed action list (compiled once at plan
    build — unlike the reference, which re-walks config per line)."""

    mutate = functools.partial(
        oracle.json_mutate,
        add=add or [],
        remove=remove or [],
        replace=replace or [],
    )

    def _mutate(s: pd.Series) -> pd.Series:
        return s.map(lambda v: mutate(v) if v is not None else None)

    return F.pandas_udf(_mutate, T.StringType())


class JsonMutator(Processor):
    """json processor as a DataFrame transform.

    config mirrors the reference (json.go:16-35):
        add:     [{key, value}]          value set as string (sjson.Set)
        remove:  [{key}]                 delete if present
        replace: [{key, value, new_value}]  set only when current == value
    """

    def __init__(
        self,
        add: list[dict] | None = None,
        remove: list[dict] | None = None,
        replace: list[dict] | None = None,
        mode: str = "json",
        value_col: str = "value",
        engine: str = "pandas",
    ):
        self.add = add or []
        self.remove = remove or []
        self.replace = replace or []
        if mode not in ("json", "columns"):
            raise ValueError(mode)
        if engine not in ("pandas", "native"):
            raise ValueError(engine)
        if engine == "native" and (
            self.remove
            or self.replace
            or any("." in a["key"] for a in (add or []))
        ):
            # the native fast path is top-level-add only (string surgery
            # on compact JSON); everything else goes through the oracle UDF
            raise ValueError(
                "engine='native' supports only top-level add actions; "
                "use engine='pandas' for remove/replace/nested keys"
            )
        if engine == "native":
            for a in self.add:
                _key_path(a["key"])  # config-time: the key must be addressable
        self.mode = mode
        self.value_col = value_col
        self.engine = engine
        for a in self.add:
            if "key" not in a or "value" not in a:
                raise ValueError(f"add action needs key+value: {a}")
        for r in self.remove:
            if "key" not in r:
                raise ValueError(f"remove action needs key: {r}")
        for r in self.replace:
            if "key" not in r or "value" not in r or "new_value" not in r:
                raise ValueError(f"replace action needs key+value+new_value: {r}")

    @functools.cached_property
    def _tag_columns(self) -> tuple[dict[str, Column], Column]:
        """(rewrites, keep), built once: in json mode those of the
        oracle-UDF engine, whose pandas UDF and JVM function are made on
        first use only."""
        if self.mode == "columns":
            return {}, F.lit(True)
        vc = self.value_col
        udf = make_mutate_udf(self.add, self.remove, self.replace)
        # non-JSON → None → dropped (json.go:88-99)
        return {vc: udf(F.col(vc))}, F.col(vc).isNotNull()

    def tag_columns(self, df: DataFrame) -> tuple[DataFrame, dict[str, Column], Column]:
        """Both engines tag through the oracle UDF (see ``apply``)."""
        rewrites, keep = self._tag_columns
        return (self._apply_columns(df) if self.mode == "columns" else df), rewrites, keep

    @functools.cached_property
    def _native_columns(self) -> tuple[Column, Column, list[tuple[bool, Column]]]:
        """(trim, object-line test, [(re-parse first?, rewrite)] per add)
        of the native engine, compiled once."""
        vc = self.value_col
        parsed = F.col(variant_col(vc))
        v = F.col(vc)
        adds = []
        seen: set[str] = set()
        for a in self.add:
            key = a["key"]
            repeat = key in seen  # reads the value an earlier add wrote
            seen.add(key)
            frag = json.dumps({key: a["value"]}, separators=(",", ":"))[1:-1]
            # regex-ESCAPED form of the json-escaped key: a key like
            # 'a+b' or 'f(x' must match literally, not as regex syntax
            key_re = re.escape(json.dumps(key)[1:-1])
            val_json = json.dumps(a["value"], separators=(",", ":"))
            appended = F.when(
                F.regexp_like(v, F.lit(r"^\{\s*\}$")),
                F.concat(F.lit("{"), F.lit(frag), F.lit("}")),
            ).otherwise(
                F.concat(
                    F.expr(f"substring({vc}, 1, length({vc}) - 1)"),
                    F.lit(","),
                    F.lit(frag),
                    F.lit("}"),
                )
            )
            # sjson.Set semantics: an existing key is OVERWRITTEN, a null
            # one too (presence, not value, decides: appending would
            # duplicate the key)
            path = _key_path(key)
            exists = F.try_variant_get(parsed, path, "variant").isNotNull()
            nested_val = F.coalesce(
                F.try_variant_get(parsed, path, "string").rlike(r"^[\[{]"), F.lit(False)
            )
            pattern = f'("{key_re}"\\s*:\\s*)("(?:[^"\\\\]|\\\\.)*"|[^,}}\\]]+)'
            replacement = "$1" + val_json.replace("\\", "\\\\").replace("$", "\\$")
            replaced = F.regexp_replace(v, pattern, replacement)
            # the regex rewrite is GLOBAL and textual — it is only safe
            # when the key's value is a scalar and the key string occurs
            # exactly once in the line. A nested-object value or a
            # same-named key inside a nested object would be silently
            # corrupted; such rows are left UNCHANGED.
            ambiguous = F.size(F.split(v, f'"{key_re}"\\s*:')) > 2
            safe = exists & ~nested_val & ~ambiguous
            adds.append((repeat, F.when(safe, replaced).when(exists, v).otherwise(appended)))
        return F.trim(v), parsed.isNotNull() & v.startswith("{"), adds

    def apply(self, df: DataFrame) -> DataFrame:
        """The one plain mode not derived from ``tag_columns``:
        ``engine='native'``, a top-level add on compact JSON object lines
        as Catalyst string surgery (sjson appends before the closing
        brace exactly like this); non-object lines are dropped. A key
        already present is overwritten in place when its value is a
        scalar and the key text occurs once in the line, else the row is
        left unchanged (engine='pandas' has full sjson.Set semantics).

        Its object-line filter must run before the surgery. Folded into
        the rewrite, Catalyst pushes ``IsNotNull(CASE WHEN ...)`` through
        the alias, so the whole surgery (``try_variant_get`` x2,
        ``RLIKE``, ``split``, ``regexp_replace``) runs in both Filter and
        Project; tested after the rewrite, ``{"a":1x`` becomes the valid
        ``{"a":1,"k":"v"}``. So quarantine mode runs the oracle engine."""
        if self.engine != "native" or self.mode != "json":
            return super().apply(df)
        vc = self.value_col
        trim, is_object, adds = self._native_columns
        # trimming spaces does not change the parse, so a received
        # companion stays fresh for the reads below
        out = with_variant(df.withColumn(vc, trim), vc)
        out = out.filter(is_object)
        for repeat, rewrite in adds:
            if repeat:
                out = reparse_variant(out, vc)
            out = out.withColumn(vc, rewrite)
        return rederive_variant(df, out, vc)

    def _apply_columns(self, df: DataFrame) -> DataFrame:
        """Native-columns strategy: dotted keys are struct fields; only
        top-level keys supported here (nested via withField if needed)."""
        for a in self.add:
            df = df.withColumn(a["key"], F.lit(a["value"]))
        for r in self.remove:
            if r["key"] in df.columns:
                df = df.drop(r["key"])
        for r in self.replace:
            key = r["key"]
            if key not in df.columns:
                continue
            df = df.withColumn(
                key,
                F.when(F.col(key) == F.lit(r["value"]), F.lit(r["new_value"])).otherwise(
                    F.col(key)
                ),
            )
        return df


def _key_path(key: str) -> str:
    """Bracket-quoted variant path of a top-level key (any text: ``-``,
    spaces, ``.`` and ``'`` included); a key holding both quote kinds
    has no such path."""
    if "'" not in key:
        return f"$['{key}']"
    if '"' not in key:
        return f'$["{key}"]'
    raise ValueError(
        f"engine='native' cannot address key {key!r} (both quote kinds); "
        "use engine='pandas'"
    )
