"""DataFrame-level validation runner.

Binds compiled rules to a DataFrame and produces the engine's contract
outputs (SURVEY.md §2.3):

- ``violations``: one row per (input row, column rule) that failed —
  ``(row key, column, schema_path, keyword, description, partition_id)``,
  mirroring the reference's ``{false, {SchemaPath, Description}}`` tuples
  (ndto's src/ndto_generator.erl:216-227) with exactly ONE
  violation per (row, rule) chosen by the reference's priority.
- ``verdicts``: per-partition pass/fail + counters (the distributed
  extension the single-value reference does not have).

Every validator in the package goes through the same three steps here:
``_violation`` builds the one violation record, ``_annotate`` adds the
violations array and ``partition_id`` to the input (after any columns the
array reads, such as a parsed JSON struct or the image check struct), and
``_result_from_annotated`` turns the annotated frame — plus optional
table-level violation rows, reported under ``partition_id = -1`` — into
the violations and verdicts frames. Compiled rules are single Catalyst
expressions, so validation adds zero shuffles and zero Python; the
verdicts are one aggregation over the per-row counts.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compiler import Compiled, CompileOptions, Compiler, cached
from .spec import Schema

VIOLATIONS_COL = "violations"
PARTITION_COL = "partition_id"


@dataclass
class ValidationResult:
    annotated: DataFrame  # input + violations array<struct> + partition_id
    violations: DataFrame  # key, column, schema_path, keyword, description, partition_id
    verdicts: DataFrame  # partition_id, n_rows, n_violations, pass


class RuleSet:
    """column name → schema spec, compiled against the DataFrame's types."""

    def __init__(
        self,
        rules: dict[str, Schema],
        registry: Optional[dict[str, Schema]] = None,
        options: Optional[CompileOptions] = None,
    ) -> None:
        self.rules = rules
        self.registry = registry
        self.options = options

    def _key(self, df: DataFrame) -> tuple:
        """Memo key: the rules in order, registry, options and the bound
        type of each rule column."""
        dtypes = [df.schema[col].dataType for col in self.rules]
        return self.rules, self.registry, self.options, dtypes

    def compile(self, df: DataFrame) -> dict[str, Compiled]:
        key = rules, registry, options, dtypes = self._key(df)

        def build() -> dict[str, Compiled]:
            comp = Compiler(registry=registry, options=options)
            return {
                col: comp.compile(schema, F.col(col), dtype, "$")
                for (col, schema), dtype in zip(rules.items(), dtypes)
            }

        # a copy: the caller owns the dict, the memo keeps its own
        return dict(cached(("RuleSet.compile", *key), build))

    def violations_array(self, df: DataFrame) -> Column:
        """array<struct<column,schema_path,keyword,description>> of failures."""

        def build() -> Column:
            entries = [
                _entry(col, c) for col, c in self.compile(df).items()
            ]
            return F.array_compact(F.array(*entries))

        return cached(("RuleSet.violations_array", *self._key(df)), build)


def _violation(
    column: Column | str, path: Column | str, keyword: Column | str,
    description: Column | str,
) -> Column:
    """The one violation record: struct<column, schema_path, keyword,
    description>, each a string (a ``str`` argument is a literal)."""

    def lit(x: Column | str) -> Column:
        return F.lit(x) if isinstance(x, str) else x

    return F.struct(
        lit(column).alias("column"),
        lit(path).alias("schema_path"),
        lit(keyword).alias("keyword"),
        lit(description).cast("string").alias("description"),
    )


def _entry(column: str, c: Compiled) -> Column:
    """The violation of one rule, NULL when it passed."""
    v = c.viol
    return F.when(
        v.isNotNull(),
        _violation(column, v["schema_path"], v["keyword"], v["description"]),
    )


def _annotate(
    df: DataFrame, violations: Column, pre: Optional[dict[str, Column]] = None
) -> DataFrame:
    """``df`` + the violations array + ``partition_id`` (the partition of
    this scan). ``pre``: named columns that ``violations`` reads, projected
    first and dropped after. A named column consumed by several rule
    expressions is evaluated once per row — CollapseProject does not inline
    a non-cheap producer into several consumers."""
    if pre:
        df = df.withColumns(pre)
    annotated = df.withColumn(VIOLATIONS_COL, violations).withColumn(
        PARTITION_COL, F.spark_partition_id()
    )
    return annotated.drop(*pre) if pre else annotated


def validate_row_object(
    df: DataFrame,
    schema: Schema,
    key: str,
    registry: Optional[dict[str, Schema]] = None,
    options: Optional[CompileOptions] = None,
) -> ValidationResult:
    """Validate each ROW as one object value against an object schema.

    The row is packed into a struct (properties = columns), so the object
    keywords (properties / required / min_properties / pattern_properties /
    additional_properties) apply to the row exactly as the reference applies
    them to a map value; paths come out as '$.properties.<col>...'.
    """

    def build() -> Column:
        row = F.struct(*[F.col(c).alias(c) for c in df.columns])
        dtype = df.select(row.alias("_row")).schema["_row"].dataType
        comp = Compiler(registry=registry, options=options)
        compiled = comp.compile(schema, row, dtype, "$")
        return F.array_compact(F.array(_entry("$row", compiled)))

    # the input schema fixes the row struct's type (names, order, nesting)
    arr = cached(
        ("validate_row_object", schema, registry, options, df.schema), build
    )
    return _result_from_annotated(_annotate(df, arr), key)


def validate(
    df: DataFrame,
    rules: dict[str, Schema] | RuleSet,
    key: str,
    registry: Optional[dict[str, Schema]] = None,
    options: Optional[CompileOptions] = None,
) -> ValidationResult:
    ruleset = rules if isinstance(rules, RuleSet) else RuleSet(rules, registry, options)
    return _result_from_annotated(
        _annotate(df, ruleset.violations_array(df)), key
    )


def _result_from_annotated(
    annotated: DataFrame, key: str, table: Optional[DataFrame] = None
) -> ValidationResult:
    """The violations and verdicts of an ``_annotate``d frame.

    ``table``: table-level violations, ``(key, v)`` rows with ``v`` a
    ``_violation`` record (key uniqueness). They belong to no partition, so
    they report under ``partition_id = -1``; with no such rows there is no
    -1 verdict. The verdicts are ONE groupBy(partition_id) over the per-row
    counts unioned with those rows."""
    # PLAN NOTE: explode_outer + post-filter, NOT a plain explode. For
    # explode(arr) the optimizer infers Filter(size(arr) > 0) below the
    # Generate (InferFiltersFromGenerate) and then pushes it through the
    # producing projections, EXPANDING the violations alias into the filter
    # predicate — the whole compiled rule tree gets re-evaluated per row a
    # second time, and any parse-once barrier upstream is defeated (measured:
    # from_json ×48 in the filter for a 1-property JSON rule, ~30x slowdown).
    # explode_outer emits one NULL row for empty arrays instead (same row
    # count as the input — a streamed narrow op), the inferred filter never
    # materializes, and the cheap v IS NOT NULL filter cannot cross the
    # Generate, so every rule expression is evaluated exactly once per row.
    rows = annotated.select(
        F.col(key), F.explode_outer(VIOLATIONS_COL).alias("v"), PARTITION_COL
    ).filter(F.col("v").isNotNull())
    counts = annotated.select(
        PARTITION_COL,
        F.lit(1).alias("n_rows"),
        F.size(VIOLATIONS_COL).alias("n_violations"),
    )
    if table is not None:
        table = table.select(F.col(key), "v", F.lit(-1).alias(PARTITION_COL))
        rows = rows.unionByName(table)
        counts = counts.unionByName(
            table.select(
                PARTITION_COL,
                F.lit(0).alias("n_rows"),
                F.lit(1).alias("n_violations"),
            )
        )
    violations = rows.select(key, "v.*", PARTITION_COL)
    verdicts = counts.groupBy(PARTITION_COL).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_violations").alias("n_violations"),
    ).withColumn("pass", F.col("n_violations") == 0)
    return ValidationResult(annotated=annotated, violations=violations, verdicts=verdicts)


def violation_summary(
    violations: DataFrame, key: str, max_examples: int = 3
) -> DataFrame:
    """Per-rule rollup of a violations frame: counts + example offenders.

    The reporting surface of the engine: one row per (column, schema_path,
    keyword) with the violation count, the (constant-per-rule) message,
    and up to ``max_examples`` example keys — the smallest keys, so the
    sample is deterministic across runs/engines.

    Scale shape: two partial-aggregated groupBys. Phase 1 takes the
    ``max_examples`` smallest keys per (rule, input partition) — each
    group's list is bounded by partition size and sliced BEFORE the
    shuffle; phase 2 merges the ≤k-item survivors. A single
    groupBy(rule).collect_list(key) would hold every offender of a hot
    rule in one reducer (same reasoning as ann.two_phase_topk).
    """
    g = ["column", "schema_path", "keyword"]
    loc = (
        violations.withColumn("_p", F.spark_partition_id())
        .groupBy(*g, "_p")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.slice(
                F.array_sort(F.collect_list(F.col(key))), 1, max_examples
            ).alias("_ex"),
            F.min("description").alias("_d"),
        )
    )
    return (
        loc.groupBy(*g)
        .agg(
            F.sum("_n").cast("bigint").alias("n_violations"),
            F.min("_d").alias("description"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.array_sort(F.flatten(F.collect_list("_ex"))),
                        1,
                        max_examples,
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("example_keys"),
        )
        .select(
            F.col("column").alias("column_name"),
            "schema_path",
            "keyword",
            "n_violations",
            "description",
            "example_keys",
        )
    )
