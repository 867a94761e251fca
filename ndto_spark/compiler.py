"""Spec → Spark Column compiler.

This is the Spark-native re-expression of the reference's schema-to-code
generator (`/root/reference/src/ndto_generator.erl` and its per-type
submodules). Where the reference emits an Erlang module whose `is_valid/1`
returns ``true | {false, {SchemaPath, Description}}``, we compile the same
14-variant schema language into ONE Spark Column per rule, the
:class:`Compiled` ``viol``: a ``struct<schema_path string, keyword string,
description string>`` that is NULL iff the value is valid, else exactly
ONE violation chosen by the same deterministic priority as the reference.
Every keyword builds only its violation; ``Compiled.pred`` is derived
(``viol IS NULL``). A flat keyword check is one ``_check``: a plain
codegen'd ``CASE WHEN`` in which a NULL condition fails.

Violation-priority parity: the reference accumulates keyword checks by
*prepending* over the canonical declaration list (e.g. strings:
[min_length, max_length, format, pattern],
src/ndto_generator/ndto_generator_string.erl:45-50) and `ndto_validation:
'andalso'` evaluates head-first with a countdown index
(src/ndto_validation.erl:48-52,122-132) — so at runtime checks execute in
REVERSE declaration order and the first failure in that order is the one
reported. We reproduce this with a ``coalesce`` of the keyword violations
in reversed declaration order (``_chain``).

No keyword reads a sub-violation back more than once, so a nested
schema's expression grows linearly with its depth. A keyword that reports
a sub-schema's failure as its own (``all_of``, struct ``pattern_properties``
and ``additional_properties``, tuple ``items``) passes its ``Wording`` down
(``_reworded``): every violation is built through ``Compiler._viol``,
already worded by the keywords that enclose it. Element and map-entry
checks (``items``, map ``pattern_properties`` and
``additional_properties``) compile their sub-schema once, inside one
element lambda, and let-bind the first failure (``_first_failing``), whose
wording then reads it by value.

Everything here is pure Catalyst expression tree — zero Python per row.
Grapheme-exact string length and Python-regex fallbacks (the only ndto
behaviors not expressible JVM-side) are opt-in Arrow pandas UDFs, still
batch-vectorized (see CompileOptions).
"""

from __future__ import annotations

import dataclasses
import operator
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
from .pyworker import settle
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
    """One compiled rule: ``viol``, a ``VIOLATION_TYPE`` struct that is NULL
    exactly when the value is valid, else the ONE violation the reference
    reports (the reversed declaration order of the keywords sets which)."""

    viol: Column

    @property
    def pred(self) -> Column:
        """BooleanType, never NULL: True iff the value is valid."""
        return self.viol.isNull()


# ---------------------------------------------------------------------------
# small helpers

# How a keyword rewords a sub-schema's violation as its own:
# (schema_path, keyword, description) -> (schema_path, keyword, description)
Wording = Callable[[Column, Column, Column], tuple[Column, Column, Column]]


def bind(col: Column, body) -> Column:
    """Let-binding for expression trees: evaluate ``col`` ONCE per row and
    pass the bound value (a lambda variable) to ``body``.

    Why it exists: higher-order functions run interpreted (CodegenFallback)
    and re-evaluate their lambda BODY subtrees per element — so a subtree
    referenced inside a per-element lambda, e.g. the token array that a
    shingle ``slice`` reads at every position, is recomputed O(n_elements)
    times. Wrapping it in a one-element array and transforming binds it to
    a lambda variable, which per-element references read by value.
    Measured: 5-gram shingling over 200k synth docs 9.1 → 3.9 s (2.3x).
    """
    return F.get(F.transform(F.array(col), body), 0)


def _null_viol() -> Column:
    return F.lit(None).cast(VIOLATION_TYPE)


def _lit(x: Any) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def _viol(path: Any, keyword: Any, description: Any) -> Column:
    """A violation struct; a part that is not a Column is a literal."""
    return F.struct(
        _lit(path).alias("schema_path"),
        _lit(keyword).alias("keyword"),
        _lit(description).cast("string").alias("description"),
    )


def _b(c: Column) -> Column:
    """Null-safe boolean: NULL → False."""
    return F.coalesce(c, F.lit(False))


def _and(preds: list[Column]) -> Column:
    return reduce(lambda a, b: a & b, preds) if preds else F.lit(True)


def _or(preds: list[Column]) -> Column:
    return reduce(lambda a, b: a | b, preds) if preds else F.lit(False)


def _first(viols: list[Column]) -> Column:
    """The first non-NULL of ``viols``; NULL when all pass."""
    if not viols:
        return _null_viol()
    return viols[0] if len(viols) == 1 else F.coalesce(*viols)


def _chain(viols: list[Column]) -> Column:
    """Keyword violations given in DECLARATION order → the one reported:
    the first failure in REVERSED order (see module doc)."""
    return _first(viols[::-1])


def _as_item(path: str, i: Column, at: Optional[str] = None) -> Wording:
    """Item ``i`` of the array at ``path`` failed
    (ndto_generator_array.erl:106-209). A tuple item reports at its own
    path ``at`` and words a NULL reason as ""."""

    def word(p: Column, k: Column, d: Column) -> tuple[Column, Column, Column]:
        if at is not None:
            p, d = F.lit(at), F.coalesce(d, F.lit(""))
        return p, F.lit("items"), F.format_string(M.ITEMS_TEMPLATE, i, F.lit(path), d)

    return word


def _as_property(keyword: str, key: Column) -> Wording:
    """Property ``key`` failed, reported under ``keyword``."""
    return lambda p, k, d: (
        p,
        F.lit(keyword),
        F.format_string(M.PROPERTY_FAILED_TEMPLATE, key, d),
    )


def _as_all_of(path: str, i: int) -> Wording:
    """Sub-schema ``i`` of an ``all_of`` failed, reported with its nested
    path and reason (ndto_generator_intersection.erl:27-123)."""
    return lambda p, k, d: (
        F.lit(f"{path}.all_of"),
        F.lit("all_of"),
        F.format_string(M.ALL_OF_TEMPLATE, F.lit(i), p, d),
    )


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
        self._report: Callable[[Column, Column, Column], Column] = _viol

    # -- violations ----------------------------------------------------------

    def _viol(self, path: Any, keyword: Any, description: Any) -> Column:
        """A violation of the keyword being compiled, worded by every
        enclosing keyword that reports it as its own (``_reworded``)."""
        return self._report(_lit(path), _lit(keyword), _lit(description))

    def _check(self, ok: Column, path: str, keyword: str, description: Any) -> Column:
        """One keyword check: its violation unless ``ok`` is True (a NULL
        ``ok`` fails)."""
        return F.when(~_b(ok), self._viol(path, keyword, description))

    def _reworded(
        self,
        word: Optional[Wording],
        schema: Schema,
        value: Column,
        dtype: T.DataType,
        path: str,
    ) -> Column:
        """The violation of ``value`` against a sub-schema that this keyword
        reports as its own: ``word`` rewords each sub-violation where it is
        built, so it is never read back (a sub-violation read back per
        nesting level grows the tree geometrically with depth). ``None``:
        built plain, for a caller that only tests it for NULL or reads it
        back by value (``_first_failing``)."""
        outer = self._report
        if word is None:
            self._report = _viol
        else:
            self._report = lambda p, k, d: outer(*word(p, k, d))
        try:
            return self.compile(schema, value, dtype, path).viol
        finally:
            self._report = outer

    def _count_checks(
        self, schema: dict, n: Column, path: str, noun: str, min_msg, max_msg
    ) -> list[Column]:
        """``min_<noun>`` then ``max_<noun>``: bounds on the count ``n``."""
        checks = []
        for kw, ok, msg in (
            (f"min_{noun}", operator.ge, min_msg),
            (f"max_{noun}", operator.le, max_msg),
        ):
            if kw in schema:
                k = schema[kw]
                checks.append(self._check(ok(n, F.lit(k)), f"{path}.{kw}", kw, msg(k)))
        return checks

    def _required(
        self, required: list[str], present: Callable[[str], Column], path: str
    ) -> list[Column]:
        """``required``: find/2 walks the list in order — first missing wins."""
        if not required:
            return []
        return [
            _first(
                [
                    self._check(
                        present(name),
                        f"{path}.required",
                        "required",
                        M.required_template(path) % name,
                    )
                    for name in required
                ]
            )
        ]

    def _unsupported_keys(self, keys: Column, path: str) -> Column:
        """``additional_properties: false``: the array ``keys`` of extra keys
        present must be empty."""
        quoted = F.transform(keys, lambda k: F.concat(F.lit('"'), k, F.lit('"')))
        return self._check(
            F.size(keys) == 0,
            f"{path}.additional_properties",
            "additional_properties",
            F.format_string(M.UNSUPPORTED_KEYS_TEMPLATE, F.array_join(quoted, ", ")),
        )

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
            return Compiled(F.when(~is_null, inner.viol))
        return inner

    # -- dispatch (clause order = ndto_generator.erl:125-152) ---------------

    def _dispatch(
        self, schema: Schema, value: Column, dtype: T.DataType, path: str
    ) -> Compiled:
        if schema is False:
            # empty schema rejects everything (ndto_generator_empty.erl:27-34)
            return Compiled(self._viol(path, "empty", M.EMPTY_MSG))
        if schema is True:
            return Compiled(_null_viol())
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
        return Compiled(_null_viol())

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
        ok = F.when(value.isNull(), F.lit(null_ok)).otherwise(match)
        # path is the bare prefix — no ".enum" suffix (ndto_generator_enum.erl:41)
        return Compiled(self._check(ok, path, "enum", M.ENUM_MSG))

    # -- combinators ---------------------------------------------------------

    def _subcompile(
        self, schemas: list[Schema], value: Column, dtype: T.DataType, base: str
    ) -> list[Column]:
        """Plain sub-violations, only tested for NULL."""
        return [
            self._reworded(None, s, value, dtype, f"{base}[{i}]")
            for i, s in enumerate(schemas)
        ]

    def _any_of(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        subs = self._subcompile(schema["any_of"], value, dtype, f"{path}.any_of")
        # sub-reasons are discarded: single opaque none_matched violation
        # (ndto_validation.erl:54-61, ndto_generator_union.erl:87)
        return Compiled(
            F.when(
                _and([v.isNotNull() for v in subs]),
                self._viol(f"{path}.any_of", "any_of", M.ANY_OF_NONE_MSG),
            )
        )

    def _all_of(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        # reversed order: highest-index failing subschema is reported
        return Compiled(
            _chain(
                [
                    self._reworded(
                        _as_all_of(path, i), s, value, dtype, f"{path}.all_of[{i}]"
                    )
                    for i, s in enumerate(schema["all_of"])
                ]
            )
        )

    def _one_of(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        subs = self._subcompile(schema["one_of"], value, dtype, f"{path}.one_of")
        matched = F.array_compact(
            F.array(*[F.when(v.isNull(), F.lit(i)) for i, v in enumerate(subs)])
        )
        n = F.size(matched)
        # ndto_validation:'xor' walks the reversed list counting down, so the
        # two HIGHEST declaration indices are reported, printed ascending
        # (ndto_validation.erl:141-159,
        #  ndto_generator_symmetric_difference.erl:95-131)
        many_msg = F.format_string(
            M.ONE_OF_MANY_TEMPLATE,
            F.element_at(matched, -2),
            F.element_at(matched, -1),
        )
        return Compiled(
            F.when(n == 0, self._viol(f"{path}.one_of", "one_of", M.ONE_OF_NONE_MSG))
            .when(n > 1, self._viol(f"{path}.one_of", "one_of", many_msg))
        )

    def _not(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        sub = self._reworded(None, schema["not"], value, dtype, f"{path}.not")
        # the reference returns bare `false` with NO reason tuple
        # (ndto_generator_complement.erl:42-46) — mirror with a NULL description
        return Compiled(F.when(sub.isNull(), self._viol(f"{path}.not", "not", None)))

    # -- typed schemas --------------------------------------------------------

    def _typed(self, schema: dict, value: Column, dtype: T.DataType, path: str) -> Compiled:
        t = schema["type"]
        type_viol = self._viol(f"{path}.type", "type", M.type_msg(t))
        if isinstance(dtype, T.VariantType):
            # dynamically-typed value (mixed-type any_of/one_of in a JSON
            # column): the type check becomes a runtime dispatch on the
            # variant's actual type instead of a compile-time static verdict
            return self._variant_typed(schema, value, t, path, type_viol)
        if not _type_compatible(t, dtype):
            # static mismatch: every value (incl. null — it fails the BEAM type
            # guard, ndto_generator.erl:274-288) is a type violation
            return Compiled(type_viol)
        if t == "boolean":
            checks: list[Column] = []
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
        return Compiled(F.when(value.isNull(), type_viol).otherwise(_chain(checks)))

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
        bad = value.isNull() | ~_b(type_ok)
        return Compiled(F.when(bad, type_viol).otherwise(_chain(checks)))

    # numeric keywords, declaration order [minimum, maximum, multiple_of]
    # (ndto_generator_integer.erl:44-48; float skips multiple_of —
    #  ndto_generator_float.erl:91-92 returns undefined: NO check emitted)
    def _numeric_checks(
        self, schema: dict, value: Column, path: str, is_float: bool
    ) -> list[Column]:
        checks = []
        if "minimum" in schema:
            m = schema["minimum"]
            excl = bool(schema.get("exclusive_minimum", False))
            ok = value > F.lit(m) if excl else value >= F.lit(m)
            checks.append(
                self._check(ok, f"{path}.minimum", "minimum", M.minimum_msg(m, excl))
            )
        if "maximum" in schema:
            m = schema["maximum"]
            excl = bool(schema.get("exclusive_maximum", False))
            ok = value < F.lit(m) if excl else value <= F.lit(m)
            checks.append(
                self._check(ok, f"{path}.maximum", "maximum", M.maximum_msg(m, excl))
            )
        if "multiple_of" in schema and not is_float:
            k = schema["multiple_of"]
            # Erlang rem truncates toward zero — identical to Spark's % on ints
            # (ndto_generator_integer.erl:184-222)
            checks.append(
                self._check(
                    (value % F.lit(k)) == F.lit(0),
                    f"{path}.multiple_of",
                    "multiple_of",
                    M.multiple_of_msg(k),
                )
            )
        return checks

    # string keywords, declaration order [min_length, max_length, format,
    # pattern] (ndto_generator_string.erl:45-50)
    def _string_checks(self, schema: dict, value: Column, path: str) -> list[Column]:
        slen = self._string_length(value)
        checks = self._count_checks(
            schema, slen, path, "length", M.min_length_msg, M.max_length_msg
        )
        if "format" in schema:
            fmt = schema["format"]
            fpath = f"{path}.format"
            if fmt == "iso8601":
                # regex for shape + try_to_timestamp for calendar validity
                # (≈ ncalendar:is_valid(iso8601, _))
                ok = value.rlike(_ISO8601_RE) & F.try_to_timestamp(value).isNotNull()
                checks.append(self._check(ok, fpath, "format", M.ISO8601_MSG))
            elif fmt == "base64":
                # length ≡ 0 (mod 4); after stripping trailing '=' all chars in
                # the base64 alphabet (ndto_generator_string.erl:275-408)
                len_ok = _b((slen % 4) == F.lit(0))
                chars_ok = F.regexp_replace(value, "=+$", "").rlike(_BASE64_CHARS_RE)
                # char failure has no reason tuple in the generated code (the
                # lists:all returns a bare boolean) — NULL description like 'not'
                desc = F.when(~len_ok, F.lit(M.BASE64_LENGTH_MSG))
                checks.append(self._check(len_ok & chars_ok, fpath, "format", desc))
            # unknown format: silently no check (ndto_generator_string.erl:409)
        if "pattern" in schema:
            p = schema["pattern"]
            checks.append(
                self._check(
                    self._pattern_match(value, p),
                    f"{path}.pattern",
                    "pattern",
                    M.pattern_msg(p),
                )
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

    def _key_matches(self, pattern: str, key: str) -> bool:
        """Whether a struct field name matches a ``pattern_properties``
        regex, decided at compile time by the engine ``_pattern_match``
        uses: Java regex ``find`` (what ``rlike`` runs, and what the map
        path runs on its keys) unless ``pattern_engine="python"``."""
        if self.options.pattern_engine == "python":
            return _re.search(pattern, key) is not None
        jvm = SparkContext._active_spark_context._jvm
        return bool(jvm.java.util.regex.Pattern.compile(pattern).matcher(key).find())

    def _first_failing(
        self,
        schema: Schema,
        elems: Column,
        entry: Callable[[Column, Column], tuple[Column, Column]],
        et: T.DataType,
        path: str,
        word: Callable[[Column], Wording],
    ) -> Column:
        """The violation of the first element of array ``elems`` that fails
        ``schema``; NULL when none does (mfoldl early-exit,
        ndto_generator_array.erl:106-209). ``entry(x, i)`` gives an
        element's (key, value); ``word(key)`` rewords its violation.

        The sub-schema compiles ONCE, inside the element lambda, and the
        first failure is let-bound, so the wording reads it by value: a
        nested check grows linearly with depth."""

        def tagged(x: Column, i: Column) -> Column:
            key, val = entry(x, i)
            v = self._reworded(None, schema, val, et, path)
            return F.struct(key.alias("k"), v.alias("v"))

        def report(f: Column) -> Column:
            v = f["v"]
            worded = word(f["k"])(v["schema_path"], v["keyword"], v["description"])
            return F.when(f.isNotNull(), self._viol(*worded))

        fails = F.filter(F.transform(elems, tagged), lambda s: s["v"].isNotNull())
        # F.get: NULL (no ANSI error) when empty
        return bind(F.get(fails, 0), report)

    # array keywords, declaration order [items, min_items, max_items,
    # unique_items] (ndto_generator_array.erl:48-53)
    def _array_checks(
        self, schema: dict, value: Column, dtype: T.ArrayType, path: str
    ) -> list[Column]:
        et = dtype.elementType
        checks = []
        if "items" in schema:
            items = schema["items"]
            if isinstance(items, list):
                checks.append(self._tuple_items(schema, value, et, path))
            else:
                checks.append(
                    self._first_failing(
                        items,
                        value,
                        lambda x, i: (i, x),
                        et,
                        f"{path}.items[*]",
                        lambda i: _as_item(path, i),
                    )
                )
        checks += self._count_checks(
            schema, F.size(value), path, "items", M.min_items_msg, M.max_items_msg
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
            checks.append(
                self._check(
                    F.size(F.array_distinct(uniq_val)) == F.size(uniq_val),
                    f"{path}.unique_items",
                    "unique_items",
                    M.UNIQUE_ITEMS_MSG,
                )
            )
        return checks

    def _tuple_items(
        self, schema: dict, value: Column, et: T.DataType, path: str
    ) -> Column:
        items: list[Schema] = schema["items"]
        add = schema.get("additional_items", True)
        n_fixed = len(items)
        # declaration order: the first failing position is reported
        viols = [
            F.when(
                F.size(value) > F.lit(i),
                self._reworded(
                    _as_item(path, F.lit(i), at=f"{path}.items[{i}]"),
                    sub_schema,
                    F.get(value, i),
                    et,
                    f"{path}.items[{i}]",
                ),
            )
            for i, sub_schema in enumerate(items)
        ]
        if add is not True:
            extra = F.slice(
                value,
                n_fixed + 1,
                F.greatest(F.size(value) - F.lit(n_fixed), F.lit(0)),
            )
            viols.append(
                self._first_failing(
                    add,
                    extra,
                    lambda x, i: (i + F.lit(n_fixed), x),
                    et,
                    f"{path}.items[{n_fixed}+]",
                    lambda i: _as_item(path, i, at=f"{path}.items"),
                )
            )
        return _first(viols)

    # object keywords, declaration order [properties, required,
    # min_properties, max_properties, pattern_properties,
    # additional_properties] (ndto_generator_object.erl:48-55)
    def _object_checks(
        self, schema: dict, value: Column, dtype: T.DataType, path: str
    ) -> list[Column]:
        if isinstance(dtype, T.StructType):
            return self._struct_object_checks(schema, value, dtype, path)
        assert isinstance(dtype, T.MapType)
        if not isinstance(dtype.keyType, T.StringType):
            raise CompileError("object schemas require map<string, _> columns")
        return self._map_object_checks(schema, value, dtype, path)

    # --- object over StructType (closed key set, presence = field not null) --

    def _struct_object_checks(
        self, schema: dict, value: Column, dtype: T.StructType, path: str
    ) -> list[Column]:
        fields = {f.name: f.dataType for f in dtype.fields}
        checks: list[Column] = []

        def field(name: str, sub_schema: Schema, sub_path: str, kw: str = "") -> Column:
            """Field ``name`` against ``sub_schema``; ``kw``: the keyword that
            reports its failure as its own. Optional => true injected per
            property (ndto_generator_object.erl:108-162): NULL field =
            absent ⇒ pass."""
            args = sub_schema, value[name], fields[name], sub_path
            if kw:
                v = self._reworded(_as_property(kw, F.lit(name)), *args)
            else:
                v = self.compile(*args).viol
            return F.when(value[name].isNotNull(), v)

        properties: dict[str, Schema] = schema.get("properties", {})
        # absent property: optional => true injected ⇒ pass
        props = [
            field(name, sub_schema, f"{path}.properties.{name}")
            for name, sub_schema in properties.items()
            if name in fields
        ]
        if props:
            checks.append(_first(props))

        checks += self._required(
            schema.get("required", []),
            lambda name: value[name].isNotNull() if name in fields else F.lit(False),
            path,
        )
        n_present = sum(
            (value[f.name].isNotNull().cast("int") for f in dtype.fields), F.lit(0)
        )
        checks += self._count_checks(
            schema,
            n_present,
            path,
            "properties",
            M.min_properties_msg,
            M.max_properties_msg,
        )

        pattern_properties: dict[str, Schema] = schema.get("pattern_properties", {})
        pps = [
            field(
                f.name,
                sub_schema,
                f"{path}.pattern_properties.{regex}",
                "pattern_properties",
            )
            for regex, sub_schema in pattern_properties.items()
            for f in dtype.fields
            if self._key_matches(regex, f.name)
        ]
        if pps:
            checks.append(_first(pps))

        if "additional_properties" in schema:
            add = schema["additional_properties"]
            extra_fields = [
                f.name
                for f in dtype.fields
                if f.name not in properties
                and not any(self._key_matches(r, f.name) for r in pattern_properties)
            ]
            if add is False:
                if extra_fields:
                    offending = [
                        F.when(value[name].isNotNull(), F.lit(name))
                        for name in extra_fields
                    ]
                    checks.append(
                        self._unsupported_keys(F.array_compact(F.array(*offending)), path)
                    )
                # no extra fields: closed struct ⇒ statically satisfied
            elif add is not True and isinstance(add, (dict, bool)) and extra_fields:
                checks.append(
                    _first(
                        [
                            field(
                                name,
                                add,
                                f"{path}.additional_properties",
                                "additional_properties",
                            )
                            for name in extra_fields
                        ]
                    )
                )
        return checks

    # --- object over MapType(string, V) (open key set) ------------------------

    def _map_object_checks(
        self, schema: dict, value: Column, dtype: T.MapType, path: str
    ) -> list[Column]:
        vt = dtype.valueType
        checks: list[Column] = []

        def first_failing(sub: Schema, m: Column, sub_path: str, kw: str) -> Column:
            return self._first_failing(
                sub,
                F.map_entries(m),
                lambda e, i: (e["key"], e["value"]),
                vt,
                sub_path,
                lambda key: _as_property(kw, key),
            )

        properties: dict[str, Schema] = schema.get("properties", {})
        if properties:
            checks.append(
                _first(
                    [
                        F.when(
                            F.map_contains_key(value, F.lit(name)),
                            self.compile(
                                sub_schema,
                                F.try_element_at(value, F.lit(name)),
                                vt,
                                f"{path}.properties.{name}",
                            ).viol,
                        )
                        for name, sub_schema in properties.items()
                    ]
                )
            )

        checks += self._required(
            schema.get("required", []),
            lambda name: F.map_contains_key(value, F.lit(name)),
            path,
        )
        checks += self._count_checks(
            schema,
            F.size(value),
            path,
            "properties",
            M.min_properties_msg,
            M.max_properties_msg,
        )

        pattern_properties: dict[str, Schema] = schema.get("pattern_properties", {})
        for regex, sub_schema in pattern_properties.items():
            checks.append(
                first_failing(
                    sub_schema,
                    F.map_filter(value, lambda k, v: k.rlike(regex)),
                    f"{path}.pattern_properties.{regex}",
                    "pattern_properties",
                )
            )

        if "additional_properties" in schema:
            add = schema["additional_properties"]
            known = lambda k: _or(  # noqa: E731
                [k == F.lit(n) for n in properties]
                + [k.rlike(r) for r in pattern_properties]
            )
            extras = F.map_filter(value, lambda k, v: ~known(k))
            if add is False:
                checks.append(self._unsupported_keys(F.map_keys(extras), path))
            elif add is not True:
                checks.append(
                    first_failing(
                        add,
                        extras,
                        f"{path}.additional_properties",
                        "additional_properties",
                    )
                )
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
            settle()
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
            settle()
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
