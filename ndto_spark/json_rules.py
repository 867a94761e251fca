"""Validation of JSON-encoded string columns.

The reference validates dynamically-typed values; in a typed table the one
place dynamic documents survive is a JSON string column. This module closes
that gap:

- ``spec_to_spark_type``: derive the narrowest Spark type a spec describes
  (object→struct from properties, array→array, scalars→primitives) — the
  compile-time analog of ndto's guard-based dynamic dispatch.
- ``validate_json_column``: ``from_json`` the column with the derived type,
  then run the compiled rules over the parsed value. Malformed JSON (parse
  returns NULL for a non-null input) is its own violation class at
  ``$.json`` — a failure mode the single-value reference surfaces as a type
  error, surfaced here before type checks.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import spill
from .compiler import CompileOptions, Compiler, cached
from .dedup import _spread
from .runner import (
    ValidationResult,
    _annotate,
    _entry,
    _result_from_annotated,
    _violation,
)
from .spec import Schema, SpecError, normalize


_SCALAR_TYPES = (T.StringType, T.LongType, T.DoubleType, T.BooleanType)


def _common_type(branch_types: list[T.DataType], what: str) -> T.DataType:
    """One type for a union of branch types: identical → it; mixed scalars →
    VARIANT (runtime dispatch in Compiler._variant_typed); else SpecError."""
    if all(bt == branch_types[0] for bt in branch_types):
        return branch_types[0]
    if all(isinstance(bt, _SCALAR_TYPES) for bt in branch_types):
        return T.VariantType()
    raise SpecError(
        f"mixed-type {what} with non-scalar branches is not supported for "
        f"JSON columns (got {[t.simpleString() for t in branch_types]})"
    )


def spec_to_spark_type(schema: Schema) -> T.DataType:
    """Narrowest Spark type for a spec (for from_json parsing)."""
    schema = normalize(schema)
    if schema is True or schema is False:
        return T.StringType()
    assert isinstance(schema, dict)
    t = schema.get("type")
    if t == "string":
        return T.StringType()
    if t == "integer":
        return T.LongType()
    if t == "float":
        return T.DoubleType()
    if t == "boolean":
        return T.BooleanType()
    if t == "array":
        items = schema.get("items", True)
        if isinstance(items, list):
            # tuple form: heterogeneous positional types parse as VARIANT
            # elements (per-position runtime dispatch)
            if not items:
                return T.ArrayType(T.StringType())
            inner = _common_type(
                [spec_to_spark_type(b) for b in items], "tuple items"
            )
        else:
            inner = spec_to_spark_type(items)
        return T.ArrayType(inner)
    if t == "object":
        props = schema.get("properties")
        if props:
            return T.StructType(
                [T.StructField(k, spec_to_spark_type(v)) for k, v in props.items()]
            )
        # open object: map with a common value type derived from
        # pattern/additional property schemas (string fallback)
        sub = schema.get("additional_properties")
        pp = schema.get("pattern_properties", {})
        cand = sub if isinstance(sub, dict) else next(iter(pp.values()), True)
        return T.MapType(T.StringType(), spec_to_spark_type(cand))
    if "enum" in schema:
        vals = [v for v in schema["enum"] if v is not None]
        if vals and all(isinstance(v, str) for v in vals):
            return T.StringType()
        if vals and all(isinstance(v, bool) for v in vals):
            return T.BooleanType()
        if vals and all(isinstance(v, int) for v in vals):
            return T.LongType()
        if vals and all(isinstance(v, float) for v in vals):
            return T.DoubleType()
        return T.StringType()
    for comb in ("any_of", "one_of", "all_of"):
        if comb in schema and schema[comb]:
            branch_types = [spec_to_spark_type(b) for b in schema[comb]]
            if comb == "all_of" and not all(
                bt == branch_types[0] for bt in branch_types
            ):
                # mixed-type branches: round-2 silently typed these by the
                # FIRST branch, which parsed one type and nulled the others —
                # skewing verdicts. all_of over disjoint types is
                # unsatisfiable → error; mixed SCALAR any_of/one_of parse as
                # VARIANT with runtime dispatch (Compiler._variant_typed).
                raise SpecError(
                    f"all_of branches derive conflicting Spark types "
                    f"{[t.simpleString() for t in branch_types]} — unsatisfiable"
                )
            return _common_type(branch_types, comb)
    raise SpecError(f"cannot derive a Spark type for spec {schema!r}")


_PARSED_COL = "__ndto_json_parsed"
_BAD_JSON_COL = "__ndto_json_bad"


def validate_json_column(
    df: DataFrame,
    col: str,
    schema: Schema,
    key: str,
    registry: Optional[dict[str, Schema]] = None,
    options: Optional[CompileOptions] = None,
) -> ValidationResult:
    """Validate the JSON strings in column ``col`` against ``schema``.

    Each value is parsed once with ``from_json`` and checked by the
    compiled rule tree; a non-NULL value that is not parseable JSON gets
    one ``json`` violation at ``$.json``. Returns a ValidationResult
    (annotated rows, violations, per-partition verdicts) keyed by
    ``key``.

    The input is round-robined first (``dedup._spread``), so
    ``partition_id`` in the result is the post-spread round-robin
    partition, not the input's scan partition."""

    def build() -> tuple[dict[str, Column], Column]:
        dtype = spec_to_spark_type(schema)
        parsed = {
            _PARSED_COL: F.from_json(F.col(col), dtype),
            # PERMISSIVE from_json yields an all-null STRUCT (not NULL) on
            # malformed input, so probe with try_parse_json (VARIANT, NULL
            # on bad JSON) — also materialized once here.
            _BAD_JSON_COL: F.col(col).isNotNull()
            & F.try_parse_json(F.col(col)).isNull(),
        }
        comp = Compiler(registry=registry, options=options)
        compiled = comp.compile(schema, F.col(_PARSED_COL), dtype, "$")
        entry = F.when(
            F.col(_BAD_JSON_COL),
            _violation(col, "$.json", "json", "Value is not parseable JSON"),
        ).otherwise(_entry(col, compiled))
        return parsed, F.array_compact(F.array(entry))

    parsed, arr = cached(
        ("validate_json_column", col, schema, registry, options), build
    )
    # round-robin ahead of the parse + rule projection (dedup._spread
    # rationale): one compact parquet file is ONE scan task, and the
    # from_json + compiled-rule work would ride it single-core; the
    # exchange carries only the pruned (key, json) columns.
    #
    # PLAN NOTE: parse ONCE. Compiling the rule tree directly against the
    # from_json(...) expression duplicates the parse into every reference
    # (one per keyword check — measured 48 from_json nodes / ~30x slowdown
    # for a 1-property schema). Projecting the parsed struct as a named
    # column and compiling against the attribute keeps a single parse:
    # CollapseProject refuses to inline a non-cheap producer expression
    # that is consumed more than once, so the plan carries exactly one
    # from_json (asserted by tests/test_json_rules.py::test_single_parse).
    return _result_from_annotated(_annotate(_spread(df), arr, pre=parsed), key)


def infer_json_schema(df: DataFrame, col: str) -> DataFrame:
    """Schema INFERENCE over a JSON string column — the reverse direction
    of the validator (reference parses a schema into rules; this derives a
    draft schema FROM data, the first step when no spec exists yet).

    Discovers top-level keys dynamically (``from_json`` to
    ``map<string,variant>`` + ``schema_of_variant``) and emits one row per
    (path, json_type): ``($, object|invalid)`` roots, then ``($.key,
    integer|number|string|boolean|object|array|null)`` with occurrence
    count and presence rate over ALL input rows (floor-quantized e6).
    Variant types normalize to JSON-schema vocabulary: int-like (incl.
    DECIMAL(p,0)) -> integer, other numerics -> number; non-object JSON
    (scalars/arrays at the root) counts as ``invalid`` for object
    inference. Depth is 1 — nested objects/arrays report as terminal
    ``object``/``array`` types.

    Scale: the raw column round-robins through ONE exchange that all
    three consumers (row total, root verdicts, key explode) share via
    ReuseExchange — the parse work above it then runs at
    shuffle-partition parallelism instead of the scan's file-layout-bound
    task count (a single-row-group input would park every from_json on
    one core); the other shuffle is groupBy(key, type) over exploded
    (key, type) pairs — bounded by keys x types, partial-aggregated; the
    row total broadcasts back as a 1-row frame.
    """
    src = _spread(df.select(F.col(col).alias("__raw")))
    parsed = src.select(
        "__raw",
        F.from_json(F.col("__raw"), "map<string,variant>").alias("__m"),
    )
    # parse ONCE: the root verdicts and the key explode would otherwise
    # each run their own from_json over the full input — and Spark
    # schedules the two branch stages CONCURRENTLY, doubling the variant
    # parse's allocation pressure (measured bimodal 3 s / 20+ s at 1M
    # rows). The parsed frame spills to a run-scoped temp parquet
    # (variant round-trips losslessly through the parquet variant type);
    # all three consumers read the flat scan.
    parsed = spill.materialize(parsed, "inferjson")
    total = parsed.agg(F.count(F.lit(1)).alias("__n_rows"))

    root = parsed.agg(
        F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0)).alias("__ok"),
        F.sum(
            F.when(F.col("__m").isNull() & F.col("__raw").isNotNull(), 1).otherwise(0)
        ).alias("__bad"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("$").alias("path"),
                    F.lit("object").alias("json_type"),
                    F.col("__ok").cast("long").alias("n"),
                ),
                F.struct(
                    F.lit("$").alias("path"),
                    F.lit("invalid").alias("json_type"),
                    F.col("__bad").cast("long").alias("n"),
                ),
            )
        ).alias("s")
    ).select("s.*")

    # explode_outer + post-filter, NOT plain explode: the runner.py trap —
    # InferFiltersFromGenerate puts a size(__m) > 0 filter BELOW the
    # Generate, predicate pushdown expands the from_json alias into it
    # (TWO extra parses per row, on the pre-exchange side), and the
    # differing scan subtrees then defeat ReuseExchange across the three
    # branches. Map keys are never null, so the k-not-null filter is exact.
    # group by the RAW variant-type string first (schema_of_variant runs
    # ONCE per row; the normalization CASE below would otherwise re-invoke
    # it per WHEN arm), then normalize + re-aggregate over the tiny
    # (path, raw type) table — identical counts, the normalization just
    # happens post-agg
    t = F.col("__t")
    jt = (
        F.when(t.startswith("OBJECT"), F.lit("object"))
        .when(t.startswith("ARRAY"), F.lit("array"))
        .when(t == "STRING", F.lit("string"))
        .when(t == "BOOLEAN", F.lit("boolean"))
        .when(t == "VOID", F.lit("null"))
        .when(
            t.isin("TINYINT", "SMALLINT", "INT", "BIGINT")
            | t.rlike(r"^DECIMAL\([0-9]+,0\)$"),
            F.lit("integer"),
        )
        .otherwise(F.lit("number"))
    )
    raw_counts = (
        parsed.select(F.explode_outer("__m").alias("k", "v"))
        .filter(F.col("k").isNotNull())
        .select(
            F.concat(F.lit("$."), F.col("k")).alias("path"),
            F.schema_of_variant(F.col("v")).alias("__t"),
        )
        .groupBy("path", "__t")
        .agg(F.count(F.lit(1)).cast("long").alias("__n0"))
    )
    keys = (
        raw_counts.select("path", jt.alias("json_type"), "__n0")
        .groupBy("path", "json_type")
        .agg(F.sum("__n0").cast("long").alias("n"))
    )

    return (
        root.unionByName(keys)
        .crossJoin(F.broadcast(total))
        .select(
            "path",
            "json_type",
            "n",
            F.when(
                F.col("__n_rows") > 0,
                F.floor(F.lit(1e6) * F.col("n") / F.col("__n_rows")),
            )
            .cast("long")
            .alias("present_e6"),
        )
    )
