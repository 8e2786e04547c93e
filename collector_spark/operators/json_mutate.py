"""`json` processor — add / remove / conditional-replace on JSON lines.

Reference: internal/processor/json/json.go:16-35,88-130 (gjson/sjson
dotted-path surgery; non-JSON lines dropped; replace fires only when the
current value equals the expected one).

Three execution strategies, picked per call site. Each is one
``tag_columns`` (``stage.Processor``), so plain mode and quarantine mode
run the same engine and keep the same rows:

- ``engine='pandas'`` (default) — schema-free JSON string lines: one
  vectorized pandas UDF per Arrow batch running the shared oracle
  implementation (collector_spark.oracle.json_mutate), so parity with
  pytest's oracle is by construction. This is the general path (any
  dotted key, any payload).

- ``engine='native'`` — top-level add only, as Catalyst string surgery
  on JSON object lines; any other line (array, scalar, ``null``,
  duplicate key, non-JSON) is rewritten to NULL and dropped. Validity,
  key presence and the nested-value guard read the line's VARIANT
  companion (``stage.with_variant``), so the line is parsed once however
  many keys are added, and the rewrite is one expression, linear in the
  adds.

- ``mode='columns'`` — structured payloads: compiles the same action
  list to native ``withColumn`` / ``drop`` / ``when().otherwise()``
  Catalyst expressions. Zero Python per row; use whenever the schema is
  known (it is, for the pages/events tables).

Both json-mode engines rewrite ``value``: a VARIANT companion they
received is re-derived over the new value (``stage.fresh``).
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
from collector_spark.operators.stage import Processor, json_trim, variant_col, with_variant


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
        """(rewrites, keep), built once; the oracle engine's pandas UDF
        and JVM function are made on first use only. Either json-mode
        engine rewrites a line it drops to NULL (json.go:88-99)."""
        if self.mode == "columns":
            return {}, F.lit(True)
        vc = self.value_col
        if self.engine == "native":
            # a Generate output: the pushed ``keep`` filter reads the
            # column instead of re-running the surgery (see stage.bind)
            rewrite = F.explode(F.array(self._native_rewrite()))
        else:
            rewrite = make_mutate_udf(self.add, self.remove, self.replace)(F.col(vc))
        return {vc: rewrite}, F.col(vc).isNotNull()

    def tag_columns(self, df: DataFrame) -> tuple[DataFrame, dict[str, Column], Column]:
        rewrites, keep = self._tag_columns
        if self.mode == "columns":
            df = self._apply_columns(df)
        elif self.engine == "native":
            df = with_variant(df, self.value_col)
        return df, rewrites, keep

    def _native_rewrite(self) -> Column:
        """The native add of an object line (NULL for any other line) as
        Catalyst string surgery on the trimmed line, sjson.Set-like:
        absent keys are appended before the closing brace, and a present
        key is overwritten in place when its value is a scalar and the
        key text occurs once in the line; otherwise the line is left
        unchanged (engine='pandas' has full sjson.Set semantics). Key
        presence and the nested-value guard read the line's VARIANT
        companion. Linear in the adds: each reads the received line, so
        a repeated key collapses to its last value at its first place,
        which is what the adds in sequence give."""
        vc = self.value_col
        parsed, raw = F.col(variant_col(vc)), F.col(vc)
        trimmed = json_trim(raw)
        body = trimmed.substr(F.lit(1), F.length(trimmed) - 1)  # the closing brace cut
        out, present, tail, frags = body, F.lit(False), [], []
        for key, value in {a["key"]: a["value"] for a in self.add}.items():
            frag = json.dumps({key: value}, separators=(",", ":"))[1:-1]
            # regex-ESCAPED form of the json-escaped key: a key like
            # 'a+b' or 'f(x' must match literally, not as regex syntax
            key_re = re.escape(json.dumps(key)[1:-1])
            path = _key_path(key)
            # presence, not value, decides (a null key is overwritten too:
            # appending would duplicate it)
            exists = F.try_variant_get(parsed, path, "variant").isNotNull()
            nested = F.try_variant_get(parsed, path, "string").rlike(r"^[\[{]")
            # the rewrite is GLOBAL and textual: a nested-object value, or
            # the key text also inside a nested object, would be silently
            # corrupted, so such a line keeps its value ('$0')
            ambiguous = F.size(F.split(raw, f'"{key_re}"\\s*:')) > 2
            safe = exists & ~F.coalesce(nested, F.lit(False)) & ~ambiguous
            pattern = f'("{key_re}"\\s*:\\s*)("(?:[^"\\\\]|\\\\.)*"|[^,}}\\]]+)'
            value_json = json.dumps(value, separators=(",", ":"))
            value_re = value_json.replace("\\", "\\\\").replace("$", "\\$")
            replacement = F.when(safe, F.lit("$1" + value_re)).otherwise(F.lit("$0"))
            out = F.regexp_replace(out, F.lit(pattern), replacement)
            present = present | exists
            tail.append(F.when(~exists, F.lit("," + frag)))
            frags.append(frag)
        appended = ",".join(frags)
        # a line with none of the keys (the common case) runs no regex;
        # an object without a '"' is empty
        rewrite = (
            F.when(present, F.concat(out, F.concat_ws("", *tail), F.lit("}")))
            .when(raw.contains('"'), F.concat(body, F.lit("," + appended + "}")))
            .otherwise(F.lit("{" + appended + "}"))
        )
        return F.when(parsed.isNotNull() & trimmed.startswith("{"), rewrite)

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
