"""compiler.cached: rule Columns are built once per distinct input.

Every check compares a memo hit against a fresh, uncached build, so a key
that misses an input the Column depends on shows up as a wrong answer.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ndto_spark import compiler, fixtures
from ndto_spark.compiler import CompileError, Compiler
from ndto_spark.plan_export import expr_string
from ndto_spark.runner import RuleSet, validate, validate_row_object


@pytest.fixture()
def compiles(monkeypatch):
    """An empty memo and the list of Compiler.compile calls made."""
    compiler._memo.clear()
    calls = []
    orig = Compiler.compile

    def counting(self, *args, **kwargs):
        calls.append(args[0])
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(Compiler, "compile", counting)
    yield calls
    compiler._memo.clear()


def _rules():
    return {
        "s": {"type": "string", "min_length": 1},
        "n": {"type": "integer", "maximum": 10},
    }


def _arrays(df, rules):
    """(id, violations array) per row: the reported violations in order."""
    res = validate(df, rules, key="id")
    return res.annotated.orderBy("id").select("id", "violations").collect()


def _fresh(df, rules):
    compiler._memo.clear()
    return _arrays(df, rules)


@pytest.fixture(scope="module")
def flat(spark):
    return spark.createDataFrame(
        [(1, "ab", 5), (2, "", 50), (3, None, None)], "id bigint, s string, n int"
    )


def test_second_validate_skips_the_compiler(spark, flat, compiles):
    first = _arrays(flat, _rules())
    n_first = len(compiles)
    assert n_first == 2
    second = _arrays(flat, _rules())  # equal rules, new dict objects
    assert len(compiles) == n_first
    assert second == first
    cached_rules = RuleSet(_rules()).compile(flat)
    assert len(compiles) == n_first
    fresh = Compiler()
    for col, schema in _rules().items():
        c = fresh.compile(schema, F.col(col), flat.schema[col].dataType, "$")
        assert expr_string(cached_rules[col].pred) == expr_string(c.pred)
        assert expr_string(cached_rules[col].viol) == expr_string(c.viol)


def test_top_level_rule_order_is_part_of_the_key(spark, flat, compiles):
    fwd = _rules()
    rev = dict(reversed(list(fwd.items())))
    a = _arrays(flat, fwd)
    b = _arrays(flat, rev)  # memo holds fwd
    assert b == _fresh(flat, rev)
    assert a == _fresh(flat, fwd)
    assert a != b  # row 2 fails both rules, listed in rule order


def test_nested_properties_order_is_part_of_the_key(spark, compiles):
    df = spark.createDataFrame(
        [(1, (5, 5)), (2, (0, 0))], "id bigint, o struct<a:int,b:int>"
    )
    small = {"type": "integer", "maximum": 1}
    fwd = {"o": {"type": "object", "properties": {"a": small, "b": small}}}
    rev = {"o": {"type": "object", "properties": {"b": small, "a": small}}}
    a = _arrays(df, fwd)
    b = _arrays(df, rev)
    assert b == _fresh(df, rev)
    assert a == _fresh(df, fwd)
    assert a != b  # one violation per rule: the property checked first wins


def test_column_type_change_recompiles(spark, compiles):
    rules = {"n": {"type": "integer", "maximum": 10}}
    ints = spark.createDataFrame([(1, 50)], "id bigint, n int")
    bigs = spark.createDataFrame([(1, 50)], "id bigint, n bigint")
    _arrays(ints, rules)
    n = len(compiles)
    _arrays(bigs, rules)
    assert len(compiles) > n


def test_nested_nullability_change_recompiles(spark, compiles):
    def frame(nullable):
        inner = T.StructType([T.StructField("a", T.IntegerType(), nullable)])
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("o", inner)]
        )
        return spark.createDataFrame([(1, (5,))], schema)

    rules = {"o": {"type": "object", "properties": {"a": {"type": "integer"}}}}
    _arrays(frame(True), rules)
    n = len(compiles)
    _arrays(frame(False), rules)
    assert len(compiles) > n


def test_rules_mutated_in_place_recompile(spark, flat, compiles):
    rules = _rules()
    before = _arrays(flat, rules)
    rules["n"]["maximum"] = 100
    after = _arrays(flat, rules)
    assert after == _fresh(flat, rules)
    assert after != before  # row 2 (n=50) now passes its n rule


def test_compile_errors_are_not_cached(spark, flat, compiles):
    rules = {"n": {"ref": "missing"}}
    for _ in range(2):
        with pytest.raises(CompileError, match="unresolved ref"):
            validate(flat, rules, key="id")
    assert len(compiles) == 2


def test_row_and_json_entry_points_compile_once(spark, compiles):
    from ndto_spark.json_rules import validate_json_column

    df = spark.createDataFrame(
        [(1, "x", '{"k": 1}'), (2, "", "{bad")], "id bigint, s string, js string"
    )
    row_schema = {
        "type": "object",
        "properties": {"s": {"type": "string", "min_length": 1}},
    }
    js_schema = {
        "type": "object",
        "properties": {"k": {"type": "integer", "maximum": 0}},
    }

    def run():
        a = validate_row_object(df, row_schema, key="id").violations
        b = validate_json_column(df, "js", js_schema, key="id").violations
        return sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))

    first = run()
    n = len(compiles)
    assert run() == first
    assert len(compiles) == n
    # the row struct's type comes from the whole input schema
    validate_row_object(df.withColumn("extra", F.lit(1)), row_schema, key="id")
    assert len(compiles) > n


def test_new_spark_context_empties_the_memo(monkeypatch):
    compiler._memo.clear()
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert compiler.cached(("k",), build) == 1
    assert compiler.cached(("k",), build) == 1
    monkeypatch.setattr(compiler.SparkContext, "_active_spark_context", object())
    assert compiler.cached(("k",), build) == 2
    assert list(compiler._memo) == [compiler._freeze(("k",))]
    monkeypatch.undo()
    compiler._memo.clear()


def test_memo_is_a_bounded_lru():
    compiler._memo.clear()
    for i in range(compiler._MEMO_SIZE):
        compiler.cached(("lru", i), lambda i=i: i)
    compiler.cached(("lru", 0), lambda: "rebuilt")  # hit: now most recent
    compiler.cached(("lru", "new"), lambda: "new")  # evicts ("lru", 1)
    assert len(compiler._memo) == compiler._MEMO_SIZE
    assert compiler.cached(("lru", 0), lambda: "rebuilt") == 0
    assert compiler.cached(("lru", 1), lambda: "rebuilt") == "rebuilt"
    compiler._memo.clear()


def test_key_parts_keep_their_type():
    f = compiler._freeze
    assert len({f(1), f(1.0), f(True)}) == 3
    assert f([1, 2]) != f((1, 2))
    assert f({"a": 1, "b": 2}) != f({"b": 2, "a": 1})
    builds = []
    for _ in range(2):  # an unfreezable part bypasses the memo
        compiler.cached(({1, 2},), lambda: builds.append(1))
    assert len(builds) == 2


def test_image_batch_key_pins_the_seed(spark):
    from ndto_spark.images import validate_images

    df = fixtures.synth_images(spark, 200, n_partitions=2, seed=1).cache()

    def viols(seed):
        return sorted(
            map(tuple, validate_images(df, seed=seed).violations.collect()),
            key=repr,
        )

    try:
        compiler._memo.clear()
        warm = [viols(1), viols(2)]  # one memo across both seeds
        cold = []
        for seed in (1, 2):
            compiler._memo.clear()
            cold.append(viols(seed))
    finally:
        df.unpersist()
        compiler._memo.clear()
    assert warm == cold
    assert cold[0] != cold[1]  # seed 2 regenerates other references


def _builders(tree: ast.AST) -> set[int]:
    """ids of every node inside a function passed as the build argument of
    a ``cached(key, build)`` call (a lambda, or a def local to the caller)."""
    inside = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.Module, ast.FunctionDef)):
            continue
        defs = {n.name: n for n in fn.body if isinstance(n, ast.FunctionDef)}
        for call in ast.walk(fn):
            if not (
                isinstance(call, ast.Call)
                and getattr(call.func, "id", getattr(call.func, "attr", None))
                == "cached"
                and len(call.args) == 2
            ):
                continue
            build = call.args[1]
            if isinstance(build, ast.Name):
                build = defs.get(build.id)
            if isinstance(build, (ast.Lambda, ast.FunctionDef)):
                inside.update(id(n) for n in ast.walk(build))
    return inside


def test_compilers_are_built_only_inside_cached_builders():
    pkg = pathlib.Path(__file__).resolve().parents[1] / "ndto_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = _builders(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", None))
                == "Compiler"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, (
        "build Compiler(...) only inside a compiler.cached builder, so "
        f"repeated validations skip the compiler: {offenders}"
    )
