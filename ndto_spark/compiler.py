"""Spec → Spark Column compiler.

This is the Spark-native re-expression of the reference's schema-to-code
generator (`/root/reference/src/ndto_generator.erl` and its per-type
submodules). Where the reference emits an Erlang module whose `is_valid/1`
returns ``true | {false, {SchemaPath, Description}}``, we compile the same
14-variant schema language into a :class:`Compiled` pair of Spark columns:

- ``pred``  — BooleanType, never NULL; True iff the value is valid.
- ``viol``  — ``struct<schema_path string, keyword string, description
  string>``; NULL iff valid, else exactly ONE violation chosen by the same
  deterministic priority as the reference.

Violation-priority parity: the reference accumulates keyword checks by
*prepending* over the canonical declaration list (e.g. strings:
[min_length, max_length, format, pattern],
src/ndto_generator/ndto_generator_string.erl:45-50) and `ndto_validation:
'andalso'` evaluates head-first with a countdown index
(src/ndto_validation.erl:48-52,122-132) — so at runtime checks execute in
REVERSE declaration order and the first failure in that order is the one
reported. We reproduce this with an ordered ``coalesce`` over the reversed
keyword list.

Everything here is pure Catalyst expression tree — zero Python per row.
Grapheme-exact string length and Python-regex fallbacks (the only ndto
behaviors not expressible JVM-side) are opt-in Arrow pandas UDFs, still
batch-vectorized (see CompileOptions).
"""

from __future__ import annotations

import dataclasses
import re as _re
import threading
from collections import OrderedDict
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable, Optional

import pandas as pd  # noqa: F401 — resolves pandas_udf string type hints

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import messages as M
from .spec import KEYWORDS, Schema, SpecError, normalize

VIOLATION_FIELDS = ("schema_path", "keyword", "description")
VIOLATION_TYPE = T.StructType(
    [
        T.StructField("schema_path", T.StringType()),
        T.StructField("keyword", T.StringType()),
        T.StructField("description", T.StringType()),
    ]
)


class CompileError(ValueError):
    """Schema cannot be compiled against the given Spark type."""


@dataclass
class CompileOptions:
    """Escape hatches for semantics Catalyst cannot express exactly.

    string_length:
        "jvm"      — F.length (codepoint count). Fast path, JVM-side.
        "grapheme" — Arrow pandas UDF counting grapheme clusters like
                     Erlang string:length/1 (ndto_generator_string.erl:104).
    pattern_engine:
        "jvm"    — Column.rlike (Java regex, unanchored like re:run).
        "python" — Arrow pandas UDF with Python `re` (closer to PCRE).
    """

    string_length: str = "jvm"
    pattern_engine: str = "jvm"


@dataclass(frozen=True)
class Compiled:
    pred: Column
    viol: Column


# ---------------------------------------------------------------------------
# small helpers


def _null_viol() -> Column:
    return F.lit(None).cast(VIOLATION_TYPE)


def _viol(path: str, keyword: str, description) -> Column:
    desc = description if isinstance(description, Column) else F.lit(description)
    return F.struct(
        F.lit(path).alias("schema_path"),
        F.lit(keyword).alias("keyword"),
        desc.cast("string").alias("description"),
    )


def _b(c: Column) -> Column:
    """Null-safe boolean: NULL → False (keeps the pred-never-NULL invariant)."""
    return F.coalesce(c, F.lit(False))


def _and(preds: list[Column]) -> Column:
    return reduce(lambda a, b: a & b, preds) if preds else F.lit(True)


def _or(preds: list[Column]) -> Column:
    return reduce(lambda a, b: a | b, preds) if preds else F.lit(False)


def _chain(checks: list[tuple[Column, Column]]) -> tuple[Column, Column]:
    """Combine (pred, viol) keyword checks given in DECLARATION order.

    Evaluation/reporting priority is the REVERSED order (see module doc).
    """
    if not checks:
        return F.lit(True), _null_viol()
    pred = _and([p for p, _ in checks])
    viol = F.coalesce(*[F.when(~p, v) for p, v in reversed(checks)], _null_viol())
    return pred, viol


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)


def _type_compatible(type_name: str, dtype: T.DataType) -> bool:
    if type_name == "string":
        return isinstance(dtype, (T.StringType, T.CharType, T.VarcharType))
    if type_name == "integer":
        return isinstance(dtype, _INT_TYPES)
    if type_name == "float":
        return isinstance(dtype, _FLOAT_TYPES)
    if type_name == "boolean":
        return isinstance(dtype, T.BooleanType)
    if type_name == "array":
        return isinstance(dtype, T.ArrayType)
    if type_name == "object":
        return isinstance(dtype, (T.StructType, T.MapType))
    raise SpecError(f"unknown type {type_name!r}")


# Matches ncalendar's iso8601 shape closely enough for the fixture corpus:
# datetime with mandatory time part, optional fractional seconds, optional
# Z / ±HH:MM / ±HHMM offset (ndto_generator_string.erl:236-274 delegates to
# ncalendar:is_valid(iso8601, _)).
_ISO8601_RE = (
    r"^\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(\.\d+)?"
    r"([Zz]|[+-]\d{2}:?\d{2})?$"
)
_BASE64_CHARS_RE = r"^[A-Za-z0-9+/]*$"


# ---------------------------------------------------------------------------
# compiler


def _dtype_depth(dt: T.DataType) -> int:
    """Nesting depth of a Spark type (primitives = 1). Always finite."""
    if isinstance(dt, T.StructType):
        return 1 + max((_dtype_depth(f.dataType) for f in dt.fields), default=0)
    if isinstance(dt, T.ArrayType):
        return 1 + _dtype_depth(dt.elementType)
    if isinstance(dt, T.MapType):
        return 1 + max(_dtype_depth(dt.keyType), _dtype_depth(dt.valueType))
    return 1


class Compiler:
    """Compiles normalized specs against a fixed Spark type.

    ``registry`` supplies named schemas for ``ref`` resolution
    (≈ ndto_generator_ref.erl:27-51 delegating to another module). Refs are
    inlined. CYCLIC refs (the reference supports them via mutually
    recursive modules, ndto_generator_ref.erl:27-51; the OAS 3.0
    meta-schema fixture in test/ndto_SUITE.erl:445-483 is cyclic) are
    unrolled against the column's Spark type: a Spark dtype is a finite
    tree, so a cycle that descends the structure (linked-list 'next',
    tree 'children') bottoms out where the dtype has no deeper field —
    absent properties pass as optional, and a `required` recursive field
    fails closed at the truncation level, exactly what a finite value can
    exercise. Re-entering a ref WITHOUT structural progress (e.g.
    a → ref b, b → ref a over the same type — a definition the reference's
    generated modules would loop forever on at runtime) is a CompileError.
    """

    def __init__(
        self,
        registry: Optional[dict[str, Schema]] = None,
        options: Optional[CompileOptions] = None,
    ) -> None:
        self.registry = {k: normalize(v) for k, v in (registry or {}).items()}
        self.options = options or CompileOptions()
        self._resolving_depth: dict[str, int] = {}

    # -- public entry ------------------------------------------------------

    def compile(
        self, schema: Schema, value: Column, dtype: T.DataType, path: str = "$"
    ) -> Compiled:
        schema = normalize(schema)
        inner = self._dispatch(schema, value, dtype, path)
        if isinstance(schema, dict) and schema.get("nullable"):
            # null_clause prepended (ndto_generator.erl:252-263); a VARIANT
            # value's JSON null (VOID) is the same "null value" to the
            # reference as a missing one
            is_null = value.isNull()
            if isinstance(dtype, T.VariantType):
                is_null = is_null | _b(F.is_variant_null(value))
            pred = F.when(is_null, F.lit(True)).otherwise(inner.pred)
            viol = F.when(is_null, _null_viol()).otherwise(inner.viol)
            return Compiled(pred, viol)
        return inner

    # -- dispatch (clause order = ndto_generator.erl:125-152) ---------------

    def _dispatch(
        self, schema: Schema, value: Column, dtype: T.DataType, path: str
    ) -> Compiled:
        if schema is False:
            # empty schema rejects everything (ndto_generator_empty.erl:27-34)
            return Compiled(F.lit(False), _viol(path, "empty", M.EMPTY_MSG))
        if schema is True:
            return Compiled(F.lit(True), _null_viol())
        assert isinstance(schema, dict)
        if "ref" in schema:
            return self._ref(schema, value, dtype, path)
        if "enum" in schema:
            return self._enum(schema, value, dtype, path)
        if "type" in schema:
            return self._typed(schema, value, dtype, path)
        if "one_of" in schema:
            return self._one_of(schema, value, dtype, path)
        if "any_of" in schema:
            return self._any_of(schema, value, dtype, path)
        if "all_of" in schema:
            return self._all_of(schema, value, dtype, path)
        if "not" in schema:
            return self._not(schema, value, dtype, path)
        # universal (ndto_generator_universal.erl:27-39)
        return Compiled(F.lit(True), _null_viol())

    # -- ref ----------------------------------------------------------------

    def _ref(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        name = schema["ref"]
        if name not in self.registry:
            raise CompileError(f"unresolved ref {name!r}")
        # cycle unrolling: re-entering the same ref is fine as long as the
        # dtype got strictly SMALLER since the last entry (the cycle is
        # consuming real structure and must bottom out — dtypes are finite
        # trees). Equal-or-larger dtype = no structural progress = the
        # generated Erlang modules would recurse forever on this spec too.
        depth = _dtype_depth(dtype)
        prev = self._resolving_depth.get(name)
        if prev is not None and depth >= prev:
            raise CompileError(
                f"cyclic ref {name!r} makes no structural progress "
                f"(dtype depth {depth} >= {prev}); the spec recurses without "
                "descending the value"
            )
        self._resolving_depth[name] = depth
        try:
            # the referenced validator reports paths rooted at its own '$'
            # (it is a standalone module in the reference)
            return self.compile(self.registry[name], value, dtype, "$")
        finally:
            if prev is None:
                del self._resolving_depth[name]
            else:
                self._resolving_depth[name] = prev

    # -- enum ----------------------------------------------------------------

    def _lit_value(self, v: Any, dtype: T.DataType) -> Optional[Column]:
        """Literal Column for an enum member, or None if it cannot inhabit dtype."""
        if v is None:
            return None  # handled via null_ok
        if isinstance(v, bool):
            return F.lit(v) if isinstance(dtype, T.BooleanType) else None
        if isinstance(v, int):
            return F.lit(v) if isinstance(dtype, _INT_TYPES) else None
        if isinstance(v, float):
            return F.lit(v) if isinstance(dtype, _FLOAT_TYPES) else None
        if isinstance(v, str):
            return (
                F.lit(v)
                if isinstance(dtype, (T.StringType, T.CharType, T.VarcharType))
                else None
            )
        if isinstance(v, list) and isinstance(dtype, T.ArrayType):
            elems = [self._lit_value(e, dtype.elementType) for e in v]
            if any(e is None and x is not None for e, x in zip(elems, v)):
                return None
            cast = [
                F.lit(None).cast(dtype.elementType) if e is None else e for e in elems
            ]
            return F.array(*cast)
        if isinstance(v, dict) and isinstance(dtype, T.StructType):
            fields: list[Column] = []
            for f in dtype.fields:
                lv = self._lit_value(v.get(f.name), f.dataType)
                fields.append(
                    (lv if lv is not None else F.lit(None).cast(f.dataType)).alias(
                        f.name
                    )
                )
            # only a full match counts: extra keys in the literal can't exist
            # in a closed struct
            if set(v) - {f.name for f in dtype.fields}:
                return None
            return F.struct(*fields)
        # dict literal vs MapType: Spark forbids equality on maps
        # (EqualTo(MapType) is an analysis error) — no comparable literal
        return None

    def _enum(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        if isinstance(dtype, T.VariantType):
            raise CompileError(
                f"enum over a VARIANT value is not supported at {path}; "
                "use typed any_of branches instead"
            )
        members = schema["enum"]
        null_ok = any(v is None for v in members)
        lits = [self._lit_value(v, dtype) for v in members if v is not None]
        match = _or([value.eqNullSafe(lv) for lv in lits if lv is not None])
        pred = F.when(value.isNull(), F.lit(null_ok)).otherwise(_b(match))
        # path is the bare prefix — no ".enum" suffix (ndto_generator_enum.erl:41)
        return Compiled(pred, F.when(~pred, _viol(path, "enum", M.ENUM_MSG)))

    # -- combinators ---------------------------------------------------------

    def _subcompile(
        self, schemas: list[Schema], value: Column, dtype: T.DataType, base: str
    ) -> list[Compiled]:
        return [
            self.compile(s, value, dtype, f"{base}[{i}]") for i, s in enumerate(schemas)
        ]

    def _any_of(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        subs = self._subcompile(schema["any_of"], value, dtype, f"{path}.any_of")
        pred = _or([s.pred for s in subs])
        # sub-reasons are discarded: single opaque none_matched violation
        # (ndto_validation.erl:54-61, ndto_generator_union.erl:87)
        return Compiled(
            pred, F.when(~pred, _viol(f"{path}.any_of", "any_of", M.ANY_OF_NONE_MSG))
        )

    def _all_of(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        subs = self._subcompile(schema["all_of"], value, dtype, f"{path}.all_of")
        pred = _and([s.pred for s in subs])
        # reversed order: highest-index failing subschema is reported, with its
        # nested path + description (ndto_generator_intersection.erl:27-123)
        branches = [
            F.when(
                ~sub.pred,
                _viol(
                    f"{path}.all_of",
                    "all_of",
                    F.format_string(
                        M.ALL_OF_TEMPLATE,
                        F.lit(i),
                        sub.viol["schema_path"],
                        sub.viol["description"],
                    ),
                ),
            )
            for i, sub in reversed(list(enumerate(subs)))
        ]
        return Compiled(pred, F.coalesce(*branches, _null_viol()))

    def _one_of(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        subs = self._subcompile(schema["one_of"], value, dtype, f"{path}.one_of")
        matched = F.array_compact(
            F.array(*[F.when(s.pred, F.lit(i)) for i, s in enumerate(subs)])
        )
        n = F.size(matched)
        pred = n == F.lit(1)
        # ndto_validation:'xor' walks the reversed list counting down, so the
        # two HIGHEST declaration indices are reported, printed ascending
        # (ndto_validation.erl:141-159,
        #  ndto_generator_symmetric_difference.erl:95-131)
        many_msg = F.format_string(
            M.ONE_OF_MANY_TEMPLATE,
            F.element_at(matched, -2),
            F.element_at(matched, -1),
        )
        viol = (
            F.when(n == 0, _viol(f"{path}.one_of", "one_of", M.ONE_OF_NONE_MSG))
            .when(n > 1, _viol(f"{path}.one_of", "one_of", many_msg))
            .otherwise(_null_viol())
        )
        return Compiled(pred, viol)

    def _not(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        sub = self.compile(schema["not"], value, dtype, f"{path}.not")
        pred = ~sub.pred
        # the reference returns bare `false` with NO reason tuple
        # (ndto_generator_complement.erl:42-46) — mirror with a NULL description
        return Compiled(pred, F.when(~pred, _viol(f"{path}.not", "not", None)))

    # -- typed schemas --------------------------------------------------------

    def _typed(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        t = schema["type"]
        type_viol = _viol(f"{path}.type", "type", M.type_msg(t))
        if isinstance(dtype, T.VariantType):
            # dynamically-typed value (mixed-type any_of/one_of in a JSON
            # column): the type check becomes a runtime dispatch on the
            # variant's actual type instead of a compile-time static verdict
            return self._variant_typed(schema, value, t, path, type_viol)
        if not _type_compatible(t, dtype):
            # static mismatch: every value (incl. null — it fails the BEAM type
            # guard, ndto_generator.erl:274-288) is a type violation
            return Compiled(F.lit(False), type_viol)
        builder: Callable[[dict, Column, T.DataType, str], list[tuple[Column, Column]]]
        if t == "boolean":
            checks: list[tuple[Column, Column]] = []
        elif t == "integer":
            checks = self._numeric_checks(schema, value, path, is_float=False)
        elif t == "float":
            checks = self._numeric_checks(schema, value, path, is_float=True)
        elif t == "string":
            checks = self._string_checks(schema, value, path)
        elif t == "array":
            checks = self._array_checks(schema, value, dtype, path)
        else:  # object
            checks = self._object_checks(schema, value, dtype, path)
        chain_pred, chain_viol = _chain(checks)
        pred = F.when(value.isNull(), F.lit(False)).otherwise(_b(chain_pred))
        viol = F.when(value.isNull(), type_viol).otherwise(chain_viol)
        return Compiled(pred, viol)

    def _variant_typed(
        self, schema: dict, value: Column, t: str, path: str, type_viol: Column
    ) -> Compiled:
        """Typed schema over a VARIANT value: runtime type dispatch.

        Supports the scalar types (the mixed-any_of use case —
        json_rules.spec_to_spark_type types a mixed scalar combinator as
        VariantType). The type test inspects schema_of_variant (NOT a
        try_variant_get success probe: variant casts coerce across types —
        the string "7" casts to BIGINT 7 — which would erase exactly the
        dynamic dispatch the reference's BEAM guards perform). The typed
        projection is only read under the type guard, so its coercions are
        unreachable. JSON null (variant VOID) and a missing property (SQL
        NULL) both fail the type check, like any wrong-typed value.
        """
        vt = F.schema_of_variant(value)
        if t == "integer":
            type_ok = vt == F.lit("BIGINT")
            typed = F.try_variant_get(value, "$", "bigint")
            checks = self._numeric_checks(schema, typed, path, is_float=False)
        elif t == "float":
            type_ok = (vt == F.lit("DOUBLE")) | vt.startswith("DECIMAL")
            typed = F.try_variant_get(value, "$", "double")
            checks = self._numeric_checks(schema, typed, path, is_float=True)
        elif t == "string":
            type_ok = vt == F.lit("STRING")
            typed = F.try_variant_get(value, "$", "string")
            checks = self._string_checks(schema, typed, path)
        elif t == "boolean":
            type_ok = vt == F.lit("BOOLEAN")
            checks = []
        else:
            raise CompileError(
                f"variant-typed values support scalar types only, got {t!r} "
                f"at {path} (use a single-type schema for array/object JSON)"
            )
        chain_pred, chain_viol = _chain(checks)
        bad = value.isNull() | ~_b(type_ok)
        pred = F.when(bad, F.lit(False)).otherwise(_b(chain_pred))
        viol = F.when(bad, type_viol).otherwise(chain_viol)
        return Compiled(pred, viol)

    # numeric keywords, declaration order [minimum, maximum, multiple_of]
    # (ndto_generator_integer.erl:44-48; float skips multiple_of —
    #  ndto_generator_float.erl:91-92 returns undefined: NO check emitted)
    def _numeric_checks(
        self, schema: dict, value: Column, path: str, is_float: bool
    ) -> list[tuple[Column, Column]]:
        checks = []
        if "minimum" in schema:
            m = schema["minimum"]
            excl = bool(schema.get("exclusive_minimum", False))
            pred = _b(value > F.lit(m)) if excl else _b(value >= F.lit(m))
            checks.append(
                (pred, _viol(f"{path}.minimum", "minimum", M.minimum_msg(m, excl)))
            )
        if "maximum" in schema:
            m = schema["maximum"]
            excl = bool(schema.get("exclusive_maximum", False))
            pred = _b(value < F.lit(m)) if excl else _b(value <= F.lit(m))
            checks.append(
                (pred, _viol(f"{path}.maximum", "maximum", M.maximum_msg(m, excl)))
            )
        if "multiple_of" in schema and not is_float:
            k = schema["multiple_of"]
            # Erlang rem truncates toward zero — identical to Spark's % on ints
            # (ndto_generator_integer.erl:184-222)
            pred = _b((value % F.lit(k)) == F.lit(0))
            checks.append(
                (
                    pred,
                    _viol(
                        f"{path}.multiple_of", "multiple_of", M.multiple_of_msg(k)
                    ),
                )
            )
        return checks

    # string keywords, declaration order [min_length, max_length, format,
    # pattern] (ndto_generator_string.erl:45-50)
    def _string_checks(
        self, schema: dict, value: Column, path: str
    ) -> list[tuple[Column, Column]]:
        checks = []
        slen = self._string_length(value)
        if "min_length" in schema:
            n = schema["min_length"]
            checks.append(
                (
                    _b(slen >= F.lit(n)),
                    _viol(f"{path}.min_length", "min_length", M.min_length_msg(n)),
                )
            )
        if "max_length" in schema:
            n = schema["max_length"]
            checks.append(
                (
                    _b(slen <= F.lit(n)),
                    _viol(f"{path}.max_length", "max_length", M.max_length_msg(n)),
                )
            )
        if "format" in schema:
            fmt = schema["format"]
            fpath = f"{path}.format"
            if fmt == "iso8601":
                # regex for shape + try_to_timestamp for calendar validity
                # (≈ ncalendar:is_valid(iso8601, _))
                pred = _b(
                    value.rlike(_ISO8601_RE)
                    & F.try_to_timestamp(value).isNotNull()
                )
                checks.append((pred, _viol(fpath, "format", M.ISO8601_MSG)))
            elif fmt == "base64":
                # length ≡ 0 (mod 4); after stripping trailing '=' all chars in
                # the base64 alphabet (ndto_generator_string.erl:275-408)
                len_ok = _b((slen % 4) == F.lit(0))
                chars_ok = _b(
                    F.regexp_replace(value, "=+$", "").rlike(_BASE64_CHARS_RE)
                )
                pred = len_ok & chars_ok
                # char failure has no reason tuple in the generated code (the
                # lists:all returns a bare boolean) — NULL description like 'not'
                desc = F.when(~len_ok, F.lit(M.BASE64_LENGTH_MSG)).otherwise(
                    F.lit(None).cast("string")
                )
                checks.append((pred, _viol(fpath, "format", desc)))
            # unknown format: silently no check (ndto_generator_string.erl:409)
        if "pattern" in schema:
            p = schema["pattern"]
            pred = _b(self._pattern_match(value, p))
            checks.append(
                (pred, _viol(f"{path}.pattern", "pattern", M.pattern_msg(p)))
            )
        return checks

    def _string_length(self, value: Column) -> Column:
        if self.options.string_length == "grapheme":
            return _grapheme_len_udf()(value)
        return F.length(value)

    def _pattern_match(self, value: Column, pattern: str) -> Column:
        if self.options.pattern_engine == "python":
            return _py_regex_udf(pattern)(value)
        return value.rlike(pattern)

    # array keywords, declaration order [items, min_items, max_items,
    # unique_items] (ndto_generator_array.erl:48-53)
    def _array_checks(
        self, schema: dict, value: Column, dtype: T.ArrayType, path: str
    ) -> list[tuple[Column, Column]]:
        et = dtype.elementType
        checks = []
        if "items" in schema:
            items = schema["items"]
            if isinstance(items, list):
                checks.append(self._tuple_items(schema, value, et, path))
            else:
                checks.append(self._single_items(items, value, et, path))
        if "min_items" in schema:
            n = schema["min_items"]
            checks.append(
                (
                    _b(F.size(value) >= F.lit(n)),
                    _viol(f"{path}.min_items", "min_items", M.min_items_msg(n)),
                )
            )
        if "max_items" in schema:
            n = schema["max_items"]
            checks.append(
                (
                    _b(F.size(value) <= F.lit(n)),
                    _viol(f"{path}.max_items", "max_items", M.max_items_msg(n)),
                )
            )
        if schema.get("unique_items") is True:
            # sets-based dedup, deep equality (ndto_generator_array.erl:507-555)
            uniq_val = value
            if isinstance(et, T.VariantType):
                # Spark has no equality over VARIANT: canonicalize each
                # element to its JSON text first. This is the typed-engine
                # answer to the reference's HETEROGENEOUS unique_items case
                # (test/ndto_SUITE.erl:410-421 dedups a list mixing
                # strings/ints/maps): 5 and "5" render as '5' vs '"5"' —
                # distinct, like Erlang term equality. Caveat: two JSON
                # objects with identical pairs in different KEY ORDER render
                # differently and are treated as distinct.
                uniq_val = F.transform(value, lambda x: F.to_json(x))
            pred = _b(F.size(F.array_distinct(uniq_val)) == F.size(uniq_val))
            checks.append(
                (
                    pred,
                    _viol(
                        f"{path}.unique_items", "unique_items", M.UNIQUE_ITEMS_MSG
                    ),
                )
            )
        return checks

    def _single_items(
        self, items: Schema, value: Column, et: T.DataType, path: str
    ) -> tuple[Column, Column]:
        sub = lambda x: self.compile(items, x, et, f"{path}.items[*]")  # noqa: E731
        pred = _b(F.forall(value, lambda x: sub(x).pred))
        # first failing 0-based index + its nested path/reason
        # (mfoldl early-exit, ndto_generator_array.erl:106-209)
        errs = F.filter(
            F.transform(
                value,
                lambda x, i: F.struct(
                    i.alias("i"), sub(x).viol.alias("v"), sub(x).pred.alias("p")
                ),
            ),
            lambda s: ~s["p"],
        )
        first = F.get(errs, 0)  # F.get: NULL (no ANSI error) when empty
        viol = F.struct(
            first["v"]["schema_path"].alias("schema_path"),
            F.lit("items").alias("keyword"),
            F.format_string(
                M.ITEMS_TEMPLATE, first["i"], F.lit(path), first["v"]["description"]
            ).alias("description"),
        )
        return pred, viol

    def _tuple_items(
        self, schema: dict, value: Column, et: T.DataType, path: str
    ) -> tuple[Column, Column]:
        items: list[Schema] = schema["items"]
        add = schema.get("additional_items", True)
        n_fixed = len(items)
        pos: list[tuple[Column, Column]] = []
        for i, sub_schema in enumerate(items):
            sub = self.compile(
                sub_schema, F.get(value, i), et, f"{path}.items[{i}]"
            )
            present = F.size(value) > F.lit(i)
            p = F.when(present, sub.pred).otherwise(F.lit(True))
            v = _viol(
                f"{path}.items[{i}]",
                "items",
                F.format_string(
                    M.ITEMS_TEMPLATE,
                    F.lit(i),
                    F.lit(path),
                    F.coalesce(sub.viol["description"], F.lit("")),
                ),
            )
            pos.append((p, v))
        extra_val = F.slice(
            value, n_fixed + 1, F.greatest(F.size(value) - F.lit(n_fixed), F.lit(0))
        )
        sub_add = lambda x: self.compile(  # noqa: E731
            add, x, et, f"{path}.items[{n_fixed}+]"
        )
        add_pred = _b(F.forall(extra_val, lambda x: sub_add(x).pred))
        add_errs = F.filter(
            F.transform(
                extra_val,
                lambda x, i: F.struct(
                    (i + F.lit(n_fixed)).alias("i"),
                    sub_add(x).viol.alias("v"),
                    sub_add(x).pred.alias("p"),
                ),
            ),
            lambda s: ~s["p"],
        )
        add_first = F.get(add_errs, 0)
        add_viol = _viol(
            f"{path}.items",
            "items",
            F.format_string(
                M.ITEMS_TEMPLATE,
                add_first["i"],
                F.lit(path),
                F.coalesce(add_first["v"]["description"], F.lit("")),
            ),
        )
        pred = _and([p for p, _ in pos] + [add_pred])
        viol = F.coalesce(
            *[F.when(~p, v) for p, v in pos], F.when(~add_pred, add_viol), _null_viol()
        )
        return pred, viol

    # object keywords, declaration order [properties, required,
    # min_properties, max_properties, pattern_properties,
    # additional_properties] (ndto_generator_object.erl:48-55)
    def _object_checks(
        self, schema: dict, value: Column, dtype: T.DataType, path: str
    ) -> list[tuple[Column, Column]]:
        if isinstance(dtype, T.StructType):
            return self._struct_object_checks(schema, value, dtype, path)
        assert isinstance(dtype, T.MapType)
        if not isinstance(dtype.keyType, T.StringType):
            raise CompileError("object schemas require map<string, _> columns")
        return self._map_object_checks(schema, value, dtype, path)

    # --- object over StructType (closed key set, presence = field not null) --

    def _struct_object_checks(
        self, schema: dict, value: Column, dtype: T.StructType, path: str
    ) -> list[tuple[Column, Column]]:
        fields = {f.name: f.dataType for f in dtype.fields}
        checks: list[tuple[Column, Column]] = []

        properties: dict[str, Schema] = schema.get("properties", {})
        if properties:
            sub_checks = []
            for name, sub_schema in properties.items():
                if name not in fields:
                    continue  # absent property: optional => true injected ⇒ pass
                sub = self.compile(
                    sub_schema, value[name], fields[name], f"{path}.properties.{name}"
                )
                # optional => true injected per property
                # (ndto_generator_object.erl:108-162): NULL field = absent ⇒ pass
                p = F.when(value[name].isNull(), F.lit(True)).otherwise(sub.pred)
                sub_checks.append((p, sub.viol))
            if sub_checks:
                pred = _and([p for p, _ in sub_checks])
                viol = F.coalesce(
                    *[F.when(~p, v) for p, v in sub_checks], _null_viol()
                )
                checks.append((pred, viol))

        required: list[str] = schema.get("required", [])
        if required:
            req_checks = []
            for name in required:
                present = (
                    value[name].isNotNull() if name in fields else F.lit(False)
                )
                req_checks.append(
                    (
                        present,
                        _viol(
                            f"{path}.required",
                            "required",
                            M.required_template(path) % name,
                        ),
                    )
                )
            # find/2 walks the required list in order — first missing wins
            pred = _and([p for p, _ in req_checks])
            viol = F.coalesce(*[F.when(~p, v) for p, v in req_checks], _null_viol())
            checks.append((pred, viol))

        n_present = (
            reduce(
                lambda a, b: a + b,
                [
                    F.when(value[f.name].isNotNull(), F.lit(1)).otherwise(F.lit(0))
                    for f in dtype.fields
                ],
            )
            if dtype.fields
            else F.lit(0)
        )
        if "min_properties" in schema:
            n = schema["min_properties"]
            checks.append(
                (
                    _b(n_present >= F.lit(n)),
                    _viol(
                        f"{path}.min_properties",
                        "min_properties",
                        M.min_properties_msg(n),
                    ),
                )
            )
        if "max_properties" in schema:
            n = schema["max_properties"]
            checks.append(
                (
                    _b(n_present <= F.lit(n)),
                    _viol(
                        f"{path}.max_properties",
                        "max_properties",
                        M.max_properties_msg(n),
                    ),
                )
            )

        pattern_properties: dict[str, Schema] = schema.get("pattern_properties", {})
        if pattern_properties:
            pp_checks = []
            for regex, sub_schema in pattern_properties.items():
                rx = _re.compile(regex)
                for f in dtype.fields:
                    if not rx.search(f.name):
                        continue
                    sub = self.compile(
                        sub_schema,
                        value[f.name],
                        fields[f.name],
                        f"{path}.pattern_properties.{regex}",
                    )
                    p = F.when(value[f.name].isNull(), F.lit(True)).otherwise(sub.pred)
                    v = F.struct(
                        sub.viol["schema_path"].alias("schema_path"),
                        F.lit("pattern_properties").alias("keyword"),
                        F.format_string(
                            M.PROPERTY_FAILED_TEMPLATE,
                            F.lit(f.name),
                            sub.viol["description"],
                        ).alias("description"),
                    )
                    pp_checks.append((p, v))
            if pp_checks:
                pred = _and([p for p, _ in pp_checks])
                viol = F.coalesce(*[F.when(~p, v) for p, v in pp_checks], _null_viol())
                checks.append((pred, viol))

        if "additional_properties" in schema:
            add = schema["additional_properties"]
            declared = set(properties)
            pp_res = [_re.compile(r) for r in pattern_properties]
            extra_fields = [
                f
                for f in dtype.fields
                if f.name not in declared and not any(rx.search(f.name) for rx in pp_res)
            ]
            if add is False:
                if extra_fields:
                    offending = F.array_compact(
                        F.array(
                            *[
                                F.when(value[f.name].isNotNull(), F.lit(f.name))
                                for f in extra_fields
                            ]
                        )
                    )
                    pred = F.size(offending) == 0
                    keys_str = F.array_join(
                        F.transform(
                            offending, lambda k: F.concat(F.lit('"'), k, F.lit('"'))
                        ),
                        ", ",
                    )
                    checks.append(
                        (
                            pred,
                            _viol(
                                f"{path}.additional_properties",
                                "additional_properties",
                                F.format_string(M.UNSUPPORTED_KEYS_TEMPLATE, keys_str),
                            ),
                        )
                    )
                # no extra fields: closed struct ⇒ statically satisfied
            elif add is not True and isinstance(add, (dict, bool)):
                ap_checks = []
                for f in extra_fields:
                    sub = self.compile(
                        add, value[f.name], fields[f.name], f"{path}.additional_properties"
                    )
                    p = F.when(value[f.name].isNull(), F.lit(True)).otherwise(sub.pred)
                    v = F.struct(
                        sub.viol["schema_path"].alias("schema_path"),
                        F.lit("additional_properties").alias("keyword"),
                        F.format_string(
                            M.PROPERTY_FAILED_TEMPLATE,
                            F.lit(f.name),
                            sub.viol["description"],
                        ).alias("description"),
                    )
                    ap_checks.append((p, v))
                if ap_checks:
                    pred = _and([p for p, _ in ap_checks])
                    viol = F.coalesce(
                        *[F.when(~p, v) for p, v in ap_checks], _null_viol()
                    )
                    checks.append((pred, viol))
        return checks

    # --- object over MapType(string, V) (open key set) ------------------------

    def _map_object_checks(
        self, schema: dict, value: Column, dtype: T.MapType, path: str
    ) -> list[tuple[Column, Column]]:
        vt = dtype.valueType
        checks: list[tuple[Column, Column]] = []

        properties: dict[str, Schema] = schema.get("properties", {})
        if properties:
            sub_checks = []
            for name, sub_schema in properties.items():
                sub = self.compile(
                    sub_schema,
                    F.try_element_at(value, F.lit(name)),
                    vt,
                    f"{path}.properties.{name}",
                )
                present = _b(F.map_contains_key(value, F.lit(name)))
                p = F.when(present, sub.pred).otherwise(F.lit(True))
                sub_checks.append((p, sub.viol))
            pred = _and([p for p, _ in sub_checks])
            viol = F.coalesce(*[F.when(~p, v) for p, v in sub_checks], _null_viol())
            checks.append((pred, viol))

        required: list[str] = schema.get("required", [])
        if required:
            req_checks = [
                (
                    _b(F.map_contains_key(value, F.lit(name))),
                    _viol(
                        f"{path}.required",
                        "required",
                        M.required_template(path) % name,
                    ),
                )
                for name in required
            ]
            pred = _and([p for p, _ in req_checks])
            viol = F.coalesce(*[F.when(~p, v) for p, v in req_checks], _null_viol())
            checks.append((pred, viol))

        if "min_properties" in schema:
            n = schema["min_properties"]
            checks.append(
                (
                    _b(F.size(value) >= F.lit(n)),
                    _viol(
                        f"{path}.min_properties",
                        "min_properties",
                        M.min_properties_msg(n),
                    ),
                )
            )
        if "max_properties" in schema:
            n = schema["max_properties"]
            checks.append(
                (
                    _b(F.size(value) <= F.lit(n)),
                    _viol(
                        f"{path}.max_properties",
                        "max_properties",
                        M.max_properties_msg(n),
                    ),
                )
            )

        pattern_properties: dict[str, Schema] = schema.get("pattern_properties", {})
        for regex, sub_schema in pattern_properties.items():
            sub = lambda x, _s=sub_schema, _r=regex: self.compile(  # noqa: E731
                _s, x, vt, f"{path}.pattern_properties.{_r}"
            )
            matching = F.map_filter(value, lambda k, v: _b(k.rlike(regex)))
            pred = _b(F.forall(F.map_values(matching), lambda v: sub(v).pred))
            offenders = F.map_filter(matching, lambda k, v: ~sub(v).pred)
            off_key = F.get(F.map_keys(offenders), 0)
            off_val = F.try_element_at(value, off_key)
            off_sub = sub(off_val)
            viol = F.struct(
                off_sub.viol["schema_path"].alias("schema_path"),
                F.lit("pattern_properties").alias("keyword"),
                F.format_string(
                    M.PROPERTY_FAILED_TEMPLATE, off_key, off_sub.viol["description"]
                ).alias("description"),
            )
            checks.append((pred, viol))

        if "additional_properties" in schema:
            add = schema["additional_properties"]
            declared = list(properties)
            pp_regexes = list(pattern_properties)

            def _is_extra(k: Column) -> Column:
                known = _or(
                    [k == F.lit(n) for n in declared]
                    + [_b(k.rlike(r)) for r in pp_regexes]
                )
                return ~known

            extras = F.map_filter(value, lambda k, v: _is_extra(k))
            if add is False:
                pred = F.size(extras) == 0
                keys_str = F.array_join(
                    F.transform(
                        F.map_keys(extras),
                        lambda k: F.concat(F.lit('"'), k, F.lit('"')),
                    ),
                    ", ",
                )
                checks.append(
                    (
                        pred,
                        _viol(
                            f"{path}.additional_properties",
                            "additional_properties",
                            F.format_string(M.UNSUPPORTED_KEYS_TEMPLATE, keys_str),
                        ),
                    )
                )
            elif add is not True:
                sub = lambda x: self.compile(  # noqa: E731
                    add, x, vt, f"{path}.additional_properties"
                )
                pred = _b(F.forall(F.map_values(extras), lambda v: sub(v).pred))
                offenders = F.map_filter(extras, lambda k, v: ~sub(v).pred)
                off_key = F.get(F.map_keys(offenders), 0)
                off_sub = sub(F.try_element_at(value, off_key))
                viol = F.struct(
                    off_sub.viol["schema_path"].alias("schema_path"),
                    F.lit("additional_properties").alias("keyword"),
                    F.format_string(
                        M.PROPERTY_FAILED_TEMPLATE, off_key, off_sub.viol["description"]
                    ).alias("description"),
                )
                checks.append((pred, viol))
        return checks


# ---------------------------------------------------------------------------
# Arrow batch fallbacks (vectorized; never per-row Python)

_UDF_CACHE: dict[Any, Callable[..., Column]] = {}


def _grapheme_len_udf() -> Callable[[Column], Column]:
    """Grapheme-cluster string length = Erlang string:length/1.

    Full UAX #29 extended-grapheme-cluster segmentation (regional
    indicators, Hangul jamo, prepend, emoji ZWJ/modifier sequences) — see
    ndto_spark.graphemes for the rule set and its one documented
    approximation. Arrow-vectorized batches; the segmenter runs per string,
    never per Spark row boundary.
    """
    key = "grapheme_len"
    if key not in _UDF_CACHE:
        from pyspark.sql.functions import pandas_udf

        from .graphemes import count as _count

        @pandas_udf(T.IntegerType())
        def grapheme_len(col: pd.Series) -> pd.Series:
            return col.map(lambda s: _count(s) if s is not None else None)

        _UDF_CACHE[key] = grapheme_len
    return _UDF_CACHE[key]


def _py_regex_udf(pattern: str) -> Callable[[Column], Column]:
    """Python `re` partial match (≈ PCRE re:run, unanchored)."""
    key = ("py_regex", pattern)
    if key not in _UDF_CACHE:
        from pyspark.sql.functions import pandas_udf

        rx = _re.compile(pattern)

        @pandas_udf(T.BooleanType())
        def py_regex(col: pd.Series) -> pd.Series:
            # Series.str.contains == re.search semantics (unanchored partial
            # match); vectorized in pandas, nulls propagate as pd.NA
            return col.str.contains(rx).astype("boolean")

        _UDF_CACHE[key] = py_regex
    return _UDF_CACHE[key]


# ---------------------------------------------------------------------------
# compile-once memo
#
# Building a rule Column costs thousands of Py4J round trips, while the
# Column itself is an unresolved expression tree (F.col names, literals,
# UDF calls) that binds to any DataFrame at analysis time. So every entry
# point that builds one goes through ``cached``, keyed on everything the
# tree depends on. Stored values must stay DataFrame-independent: F.col,
# never df[...], and never a DataFrame or a result.

_MEMO_SIZE = 256
_memo: OrderedDict[Any, Any] = OrderedDict()
_memo_sc: Optional[SparkContext] = None
_memo_lock = threading.Lock()


def _freeze(x: Any) -> Any:
    """Hashable, ORDER-PRESERVING form of a key part (dict and list order
    decide violation priority and order). Every node is tagged with its
    exact type, so 1 / 1.0 / True and list / tuple stay distinct. Raises
    TypeError for anything else."""
    t = type(x)
    if t is dict:
        return t, tuple((_freeze(k), _freeze(v)) for k, v in x.items())
    if t is list or t is tuple:
        return t, tuple(_freeze(v) for v in x)
    if x is None or t in (str, int, float, bool):
        return t, x
    if isinstance(x, T.DataType):
        return T.DataType, x.json()  # nested types, nullability included
    if t is CompileOptions:
        return t, _freeze(dataclasses.astuple(x))
    raise TypeError(f"uncacheable key part {t.__name__}")


def cached(key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``, memoized on ``key`` for the active SparkContext.

    ``key`` must cover every input the built value depends on: specs,
    registry, CompileOptions, bound Spark types, column names and any
    literal folded into the tree. A key part ``_freeze`` cannot represent
    bypasses the memo (built every call). Errors are not cached. The memo
    is an LRU of fixed size, emptied whenever the active SparkContext
    changes, so a restarted session never sees a stale UDF or Column.
    """
    global _memo_sc
    try:
        key = _freeze(key)
    except TypeError:
        return build()
    sc = SparkContext._active_spark_context
    with _memo_lock:
        if sc is not _memo_sc:
            _memo.clear()
            _memo_sc = sc
        if key in _memo:
            _memo.move_to_end(key)
            return _memo[key]
    value = build()
    with _memo_lock:
        if sc is _memo_sc:
            _memo[key] = value
            if len(_memo) > _MEMO_SIZE:
                _memo.popitem(last=False)
    return value
