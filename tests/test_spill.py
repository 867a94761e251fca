"""spill.materialize: the one owner of run-scoped parquet spills."""

from __future__ import annotations

import ast
import pathlib
import tempfile

import pytest
from pyspark.errors import AnalysisException

from ndto_spark.spill import materialize


@pytest.fixture()
def tmpdir_sandbox(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def test_materialize_round_trips_rows_and_schema(spark, tmpdir_sandbox):
    df = spark.createDataFrame(
        [(1, "a", [1, 2]), (2, None, None), (3, "", [])],
        "id bigint, s string, xs array<int>",
    )
    out = materialize(df, "rt")
    assert out.schema == df.schema
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_materialize_dir_sits_under_gettempdir(spark, tmpdir_sandbox):
    out = materialize(spark.range(5), "loc")
    root = pathlib.Path(tempfile.gettempdir())
    assert root == tmpdir_sandbox
    (run_dir,) = root.glob("ndto_loc_*")
    files = out.inputFiles()
    assert files and all(str(run_dir) in f for f in files)


def test_materialize_failed_write_reraises_and_leaves_no_dir(
    spark, tmpdir_sandbox
):
    dup = spark.createDataFrame([(1, 2)], "a int, b int").toDF("a", "a")
    with pytest.raises(AnalysisException, match="COLUMN_ALREADY_EXISTS"):
        materialize(dup, "dup")
    assert not list(tmpdir_sandbox.glob("ndto_dup_*"))


# Where a run's temp dirs live and when they go is decided in one place:
# (module, top-level function) pairs allowed to call these, None = any.
_TEMP_OWNERS = {
    ("spill.py", None),
    ("queries.py", "_run_stream"),
    ("dedup.py", "near_dup_groups"),
}
_TEMP_CALLS = {("atexit", "register"), ("tempfile", "mkdtemp")}


def test_temp_dirs_are_owned_by_spill_helpers():
    pkg = pathlib.Path(__file__).resolve().parents[1] / "ndto_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            owner = getattr(top, "name", None)
            if {(path.name, None), (path.name, owner)} & _TEMP_OWNERS:
                continue
            for node in ast.walk(top):
                if isinstance(node, ast.ImportFrom) and any(
                    (node.module, a.name) in _TEMP_CALLS for a in node.names
                ):
                    offenders.append(f"{path.name}:{node.lineno}")
                if (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and (node.value.id, node.attr) in _TEMP_CALLS
                ):
                    offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, (
        "spill through ndto_spark.spill.materialize instead of making or "
        "registering temp dirs here: " + ", ".join(offenders)
    )
