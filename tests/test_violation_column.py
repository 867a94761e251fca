"""One violation Column per rule.

``Compiled`` carries only ``viol`` (NULL iff valid); ``pred`` is derived
from it. No keyword reads a sub-violation back more than once, so nested
schemas grow linearly with depth; struct fields and map keys are matched
against ``pattern_properties`` by the same regex engine.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ndto_spark.compiler import Compiled, Compiler
from ndto_spark.plan_export import export_ruleset, expr_string
from ndto_spark.queries import LINEITEM_RULES
from ndto_spark.runner import RuleSet, validate

BASE = {"type": "integer", "minimum": 0}

NESTINGS = {
    "items": (lambda s: {"type": "array", "items": s}, T.ArrayType),
    "map_additional_properties": (
        lambda s: {"type": "object", "additional_properties": s},
        lambda t: T.MapType(T.StringType(), t),
    ),
    "map_pattern_properties": (
        lambda s: {"type": "object", "pattern_properties": {"^a": s}},
        lambda t: T.MapType(T.StringType(), t),
    ),
    "struct_pattern_properties": (
        lambda s: {"type": "object", "pattern_properties": {"^a": s}},
        lambda t: T.StructType([T.StructField("a", t)]),
    ),
    "all_of": (lambda s: {"all_of": [s]}, lambda t: t),
    "tuple_items": (lambda s: {"type": "array", "items": [s]}, T.ArrayType),
}


def test_compiled_is_one_column(spark):
    assert [f.name for f in dataclasses.fields(Compiled)] == ["viol"]
    c = Compiler().compile(BASE, F.col("v"), T.LongType())
    assert expr_string(c.pred) == expr_string(c.viol.isNull())


@pytest.mark.parametrize("shape", sorted(NESTINGS))
def test_nested_compile_grows_linearly(spark, shape):
    wrap, wrap_type = NESTINGS[shape]
    sizes = []
    schema, dtype = BASE, T.LongType()
    for _ in range(4):
        schema, dtype = wrap(schema), wrap_type(dtype)
        c = Compiler().compile(schema, F.col("v"), dtype)
        sizes.append(len(expr_string(c.viol)))
    assert sizes[3] <= 4 * sizes[0], sizes


def test_nested_items_report_the_innermost_failure(spark):
    schema = {"type": "array", "items": {"type": "array", "items": BASE}}
    df = spark.createDataFrame([([[1], [2, -3]],), ([[0]],)], "v array<array<bigint>>")
    c = Compiler().compile(schema, F.col("v"), df.schema["v"].dataType)
    rows = df.select(c.pred.alias("p"), c.viol.alias("v")).collect()
    assert rows[0].p is False and rows[1].p is True and rows[1].v is None
    assert rows[0].v.schema_path == "$.items[*].items[*].minimum"
    assert rows[0].v.description.startswith(
        "Item 1 in $ is invalid. Item 1 in $.items[*] is invalid."
    )


def test_tracer_and_plan_artifact_read_pred_and_viol(spark):
    from perfbench import trace

    df = spark.createDataFrame(
        [(1.0, 2000.0, "N")],
        "l_quantity double, l_extendedprice double, l_returnflag string",
    )
    compiled = RuleSet(LINEITEM_RULES).compile(df)
    for c in compiled.values():
        assert trace.expr_size(c.pred) == trace.expr_size(c.viol) + 1 > 2
    plan = export_ruleset(df, LINEITEM_RULES)
    for col in LINEITEM_RULES:
        assert plan["columns"][col]["predicate"]
        assert plan["columns"][col]["violation"]


# Java regex ``\w`` is ASCII-only, Python ``re`` ``\w`` is Unicode: the key
# "café" matches the pattern in Python and not on the JVM.
KEY_PATTERN_CASES = {
    "pattern_properties": {
        "type": "object",
        "pattern_properties": {r"^\w+$": {"type": "integer", "minimum": 5}},
    },
    "additional_properties": {
        "type": "object",
        "properties": {"a": {"type": "integer"}},
        "pattern_properties": {r"^\w+$": {"type": "integer"}},
        "additional_properties": False,
    },
}


@pytest.mark.parametrize("case", sorted(KEY_PATTERN_CASES))
def test_struct_and_map_objects_match_keys_alike(spark, case):
    schema = KEY_PATTERN_CASES[case]
    as_struct = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("café", T.LongType())]
    )
    as_map = T.MapType(T.StringType(), T.LongType())
    out = {}
    for name, dtype in (("struct", as_struct), ("map", as_map)):
        value = (7, 1) if name == "struct" else {"a": 7, "café": 1}
        df = spark.createDataFrame(
            [(1, value)],
            T.StructType(
                [T.StructField("id", T.LongType()), T.StructField("o", dtype)]
            ),
        )
        out[name] = sorted(
            tuple(r)
            for r in validate(df, {"o": schema}, key="id")
            .violations.select("schema_path", "keyword", "description")
            .collect()
        )
    assert out["struct"] == out["map"]
    if case == "additional_properties":
        assert out["map"] == [
            (
                "$.additional_properties",
                "additional_properties",
                'Object has unsupported keys: "café"',
            )
        ]
    else:
        assert out["map"] == []
