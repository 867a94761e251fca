"""One result assembler: every validator builds its violation rows and
verdicts through ``runner`` (``_violation``, ``_annotate``,
``_result_from_annotated``).

A contract test over the six validators with NULL, duplicate, string and
2^62+1 long keys and an empty input, and an ast guard that keeps the
violation record and the explode of the violations array in runner.py."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

import pytest

from ndto_spark import fixtures

PKG = pathlib.Path(__file__).resolve().parent.parent / "ndto_spark"
SEED = 42
BIG = 2**62 + 1  # a double rounds it to 2^62
RULES = {"s": {"type": "string", "min_length": 2}}
ROW_SCHEMA = {
    "type": "object",
    "properties": {"s": {"type": "string", "min_length": 2}},
    "required": ["s"],
}
JSON_SCHEMA = {
    "type": "object",
    "properties": {"n": {"type": "integer", "maximum": 10}},
}
# every validator flags the NULL-keyed row 1 and the big-keyed row 0:
# row 0 has s too short, w = 0 and n over its maximum; row 1 has NULL s and
# caption and malformed JSON
S = ["x", None, "ok", "x", "ok"]
JS = ['{"n": 50}', "{bad", '{"n": 1}', None, '{"n": 11}']


def _keys(kind: str) -> list:
    """Row keys: one NULL, one duplicate pair."""
    if kind == "long":
        return [BIG, None, 7, 7, 3]
    ids = [fixtures.image_id_str(SEED, 10 + j) for j in range(5)]
    return [ids[0], None, ids[2], ids[2], ids[4]]


def _frame(spark, kind: str):
    """Image rows 10..14 of the seeded table plus a key ``k``, a string
    ``s`` and a JSON string ``js``."""
    rows = []
    for j, k in enumerate(_keys(kind)):
        r = fixtures.make_row(SEED, 10 + j)
        w = 0 if j == 0 else r["w"]
        caption = None if j == 1 else r["caption"]
        rows.append(
            (k, r["image_id"], r["bytes"], w, r["h"], r["fmt"], caption,
             S[j], JS[j])
        )
    ktype = "bigint" if kind == "long" else "string"
    return spark.createDataFrame(
        rows,
        f"k {ktype}, image_id string, bytes binary, w int, h int, "
        "fmt string, caption string, s string, js string",
    )


def _stream(spark, df, tmp_path):
    from ndto_spark.streaming import validate_stream

    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    name = re.sub(r"\W", "_", f"viols_{tmp_path.parent.name}_{tmp_path.name}")
    q = (
        validate_stream(stream, RULES, key="k")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return spark.table(name), None


def _run(name: str, spark, df, tmp_path):
    """(violations, verdicts or None) of one validator keyed by ``k``."""
    from ndto_spark.images import validate_images, validate_images_metadata
    from ndto_spark.json_rules import validate_json_column
    from ndto_spark.runner import validate, validate_row_object

    if name == "validate":
        res = validate(df.select("k", "s"), RULES, key="k")
    elif name == "validate_row_object":
        res = validate_row_object(df.select("k", "s"), ROW_SCHEMA, key="k")
    elif name == "validate_json_column":
        res = validate_json_column(df, "js", JSON_SCHEMA, key="k")
    elif name == "validate_images":
        res = validate_images(df, seed=SEED, key="k")
    elif name == "validate_images_metadata":
        return validate_images_metadata(df, key="k"), None
    else:
        return _stream(spark, df, tmp_path)
    return res.violations, res.verdicts


VALIDATORS = [
    "validate",
    "validate_row_object",
    "validate_json_column",
    "validate_images",
    "validate_images_metadata",
    "validate_stream",
]
# validate_images hands its key to the check kernel as the image id, so it
# takes string keys only
CASES = [
    (v, kind)
    for v in VALIDATORS
    for kind in ("string", "long")
    if (v, kind) != ("validate_images", "long")
]
# the validators with a table-level rule (key uniqueness)
TABLE_RULES = {"validate_images", "validate_images_metadata"}


def _check(name, viols, verdicts, df, n_rows):
    rows = viols.collect()
    keys = {r.k for r in df.select("k").collect()}
    assert viols.schema["k"].dataType == df.schema["k"].dataType
    assert {r.k for r in rows} <= keys
    # the NULL-keyed row is reported, and the long key comes back exact
    assert any(r.k is None for r in rows)
    assert any(r.k == BIG for r in rows) == (BIG in keys)
    dup_rows = [r for r in rows if r.keyword == "unique"]
    if name in TABLE_RULES:
        assert len(dup_rows) == n_rows - len(keys)  # the keys seen twice
    else:
        assert dup_rows == []
    if verdicts is None:
        return
    got = {v.partition_id: v for v in verdicts.collect()}
    per_part = Counter(r.partition_id for r in rows)
    assert set(per_part) <= set(got)
    for pid, v in got.items():
        assert v.n_violations == per_part[pid]
        assert v["pass"] == (v.n_violations == 0)
    assert sum(v.n_rows for p, v in got.items() if p != -1) == n_rows
    assert (-1 in got) == bool(dup_rows)
    if dup_rows:
        assert (got[-1].n_rows, got[-1]["pass"]) == (0, False)


@pytest.mark.parametrize("name,kind", CASES)
def test_validator_contract(spark, tmp_path, name, kind):
    df = _frame(spark, kind)
    viols, verdicts = _run(name, spark, df, tmp_path / "full")
    _check(name, viols, verdicts, df, 5)

    # an empty input: the same schemas, no violation and no verdict rows
    empty_v, empty_d = _run(name, spark, df.limit(0), tmp_path / "empty")
    assert empty_v.schema == viols.schema
    assert empty_v.collect() == []
    if verdicts is not None:
        assert empty_d.schema == verdicts.schema
        assert empty_d.collect() == []


@pytest.mark.parametrize("name", sorted(TABLE_RULES))
def test_table_without_duplicates_has_no_table_rows(spark, tmp_path, name):
    df = _frame(spark, "string").filter("s IS NULL OR s != 'x' OR k IS NULL")
    keys = [r.k for r in df.collect()]
    assert len(set(keys)) == len(keys)
    viols, verdicts = _run(name, spark, df, tmp_path)
    _check(name, viols, verdicts, df, len(keys))


# --- ast guard ------------------------------------------------------------


def _functions(tree: ast.AST):
    """(function name, node) for every top-level and nested function."""
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node


def _record_fields(call: ast.Call) -> set:
    """The names a call's direct arguments are aliased to."""
    out = set()
    for arg in call.args:
        if (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Attribute)
            and arg.func.attr == "alias"
            and arg.args
            and isinstance(arg.args[0], ast.Constant)
        ):
            out.add(arg.args[0].value)
    return out


def _explodes_violations(call: ast.Call) -> bool:
    if not (
        isinstance(call.func, ast.Attribute)
        and call.func.attr in ("explode", "explode_outer", "posexplode_outer")
        and call.args
    ):
        return False
    arg = call.args[0]
    return (isinstance(arg, ast.Constant) and arg.value == "violations") or (
        isinstance(arg, ast.Name) and arg.id == "VIOLATIONS_COL"
    )


def _sites(pred):
    """(module, innermost function) of every call matching ``pred``."""
    out = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        owner = {}
        for fname, fn in _functions(tree):
            for node in ast.walk(fn):
                owner[id(node)] = fname  # inner functions walk last, win
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and pred(node):
                out.add((path.name, owner.get(id(node), "<module>")))
    return out


def test_violation_record_and_explode_live_in_runner():
    record = {"column", "schema_path", "keyword", "description"}
    assert _sites(lambda c: record <= _record_fields(c)) == {
        ("runner.py", "_violation")
    }
    assert _sites(_explodes_violations) == {
        ("runner.py", "_result_from_annotated")
    }
