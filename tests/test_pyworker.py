"""pyworker.settle(): the freeze of the worker's own pyspark/py4j zip finders.

Pins the risks of the freeze: a pyspark submodule no task had loaded still
imports after it, an ``addPyFile`` archive stays importable and unfrozen,
the driver is never touched, a session without worker reuse gives the same
verdicts, and every Python body the package hands to Spark calls
``settle()`` first (ast guard)."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

import ndto_spark
from ndto_spark import fixtures, pyworker

ROOT = pathlib.Path(ndto_spark.__file__).parent

# pyspark modules a Python task does not load on its own
UNLOADED = ("pyspark.ml.linalg", "pyspark.mllib.linalg", "pyspark.ml.stat")

SEED = 42


def _one_row(spark, probe, schema):
    rows = spark.range(0, 1, 1, 1).mapInPandas(probe, schema).collect()
    assert len(rows) == 1
    return rows[0]


def test_late_pyspark_import_succeeds_after_freeze(spark):
    # a kernel runs first, so the reused workers are already frozen
    fixtures.synth_images(spark, 16, n_partitions=4, seed=SEED).collect()

    def probe(batches):
        import importlib
        import json
        import sys
        import zipimport

        import pandas as pd

        from ndto_spark import pyworker

        def frozen():
            return sorted(
                k
                for k, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)
                and "invalidate_caches" in vars(f)
            )

        pyworker.settle()
        before = frozen()
        importlib.invalidate_caches()  # what the next task's set-up runs
        name = next(m for m in UNLOADED if m not in sys.modules)
        mod = importlib.import_module(name)
        pyworker.settle()
        archives = sorted(pyworker._archives())
        frozen_archives = sorted(
            {sys.path_importer_cache[k].archive for k in frozen()}
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "archives": [json.dumps(archives)],
                "frozen_archives": [json.dumps(frozen_archives)],
                "before": [json.dumps(before)],
                "after": [json.dumps(frozen())],
                "name": [name],
                "loaded": [mod.__name__ in sys.modules],
            }
        )

    r = _one_row(
        spark,
        probe,
        "archives string, frozen_archives string, before string, "
        "after string, name string, loaded boolean",
    )
    archives = json.loads(r.archives)
    if not archives:
        pytest.skip("the worker imports pyspark from a directory: no zip to freeze")
    assert any(a.endswith("pyspark.zip") for a in archives)
    assert r.loaded
    before, after = set(json.loads(r.before)), set(json.loads(r.after))
    assert before, "settle() froze no finder inside a task"
    # the finder the late import created is frozen by the next call ...
    assert after > before
    # ... and only pyspark's and py4j's own archives are ever frozen
    assert set(json.loads(r.frozen_archives)) <= set(archives)


def test_add_py_file_after_freeze_stays_importable_and_unfrozen(spark, tmp_path):
    fixtures.synth_images(spark, 16, n_partitions=4, seed=SEED).collect()
    name = f"ndto_probe_{os.getpid()}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def probe(batches):
        import importlib

        import pandas as pd

        from ndto_spark import pyworker

        pyworker.settle()
        mod = importlib.import_module(name)
        pyworker.settle()
        finder = mod.__loader__
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "value": [mod.VALUE],
                "zip": [finder.archive.endswith(f"{name}.zip")],
                "frozen": ["invalidate_caches" in vars(finder)],
            }
        )

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(probe, "value long, zip boolean, frozen boolean")
        .collect()
    )
    assert [tuple(r) for r in rows] == [(42, True, False)] * 4


def test_settle_patches_nothing_in_the_driver(tmp_path, monkeypatch):
    from pyspark import TaskContext

    path = tmp_path / "driver_probe.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("driver_probe.py", "")
    finder = zipimport.zipimporter(str(path))
    monkeypatch.setitem(sys.path_importer_cache, str(path), finder)
    # even an archive settle() would freeze inside a task stays untouched
    monkeypatch.setattr(pyworker, "_archives", lambda: {finder.archive})
    assert TaskContext.get() is None
    pyworker.settle()
    assert [
        k
        for k, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter) and "invalidate_caches" in vars(f)
    ] == []


_NO_REUSE = """
import json
from pyspark.sql import SparkSession
from ndto_spark import fixtures
from ndto_spark.images import validate_images

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .config("spark.python.worker.reuse", "false")
    .getOrCreate()
)
df = fixtures.synth_images(spark, {n}, n_partitions={p}, seed={seed})
print(json.dumps(sorted(map(list, validate_images(df, seed={seed}).verdicts.collect()))))
spark.stop()
"""


def test_validate_images_without_worker_reuse(spark):
    from ndto_spark.images import validate_images

    n, p = 240, 4
    df = fixtures.synth_images(spark, n, n_partitions=p, seed=SEED)
    want = sorted(map(list, validate_images(df, seed=SEED).verdicts.collect()))
    repo = str(ROOT.parent)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        x for x in (repo, env.get("PYTHONPATH")) if x
    )
    out = subprocess.run(
        [sys.executable, "-c", _NO_REUSE.format(n=n, p=p, seed=SEED)],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == want
    assert any(not v[-1] for v in want)  # the seeded violations show


# --- ast guard ---------------------------------------------------------------

_LAUNCHERS = ("mapInPandas", "mapInArrow", "applyInPandasWithState")


def _name(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _defs(scope, name):
    return [
        n
        for n in ast.walk(scope)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == name
    ]


def _resolve(scope, arg):
    """The def a launcher argument names: ``f`` or ``factory(...)``, whose
    ``return f`` names a def nested in the factory."""
    if isinstance(arg, ast.Name):
        found = _defs(scope, arg.id)
    elif isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
        found = []
        for factory in _defs(scope, arg.func.id):
            for ret in ast.walk(factory):
                if isinstance(ret, ast.Return) and isinstance(ret.value, ast.Name):
                    found += _defs(factory, ret.value.id)
    else:
        found = []
    assert len(found) == 1, f"unresolved Python body {ast.dump(arg)}"
    return found[0]


def _python_bodies(tree):
    """Every def passed to a batch launcher or decorated/wrapped by
    pandas_udf, with the top-level scope it lives in."""
    out = []
    decorators = {
        id(d)
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for d in fn.decorator_list
    }
    for top in tree.body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and node.args
                and id(node) not in decorators
                and _name(node.func) in (*_LAUNCHERS, "pandas_udf")
            ):
                out.append(_resolve(top, node.args[0]))
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
                _name(d.func if isinstance(d, ast.Call) else d) == "pandas_udf"
                for d in node.decorator_list
            ):
                out.append(node)
    return out


def _starts_with_settle(fn):
    body = fn.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]
    return (
        bool(body)
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Call)
        and _name(body[0].value.func) == "settle"
        and not body[0].value.args
    )


def test_every_python_body_starts_with_settle():
    seen, missing = [], []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for fn in _python_bodies(ast.parse(path.read_text(), filename=str(path))):
            seen.append((rel, fn.name))
            if not _starts_with_settle(fn):
                missing.append(f"{rel}:{fn.lineno} {fn.name}")
    assert missing == []
    assert set(seen) >= {
        ("ann.py", "run"),
        ("batch.py", "check"),
        ("compiler.py", "grapheme_len"),
        ("compiler.py", "py_regex"),
        ("fixtures.py", "gen"),
        ("functions/text.py", "_norm"),
        ("multimodal.py", "run"),
        ("streaming.py", "update"),
    }
    assert seen.count(("fixtures.py", "gen")) == 2
