"""dedup._spread is the one spread policy: it round-robins a frame ahead of
heavy per-row work unless the frame's analyzed plan already is that
round-robin (under Project/Filter only), and no operator takes a knob to
opt out by hand."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

import ndto_spark
from ndto_spark import spill
from ndto_spark.dedup import _spread


def _round_robins(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("RoundRobinPartitioning")


def _frame(spark):
    return spark.range(200).withColumn("t", F.col("id").cast("string"))


def test_plain_scan_is_spread(spark):
    df = _frame(spark)
    out = _spread(df)
    assert out is not df
    assert _round_robins(out) == 1


def test_spread_frame_under_project_and_filter_is_not_spread_again(spark):
    f = _spread(_frame(spark)).select(
        (F.col("id") * 2).alias("x"), "t"
    ).filter(F.col("x") > 10)
    out = _spread(f)
    assert out is f
    assert _round_robins(out) == 1
    assert out.count() == 194


def test_repartitioned_spread_frame_is_spread_again(spark):
    s = _spread(_frame(spark))
    other = spark.range(50).withColumnRenamed("id", "id2")
    cases = {
        "grouped": s.groupBy("t").count(),
        "joined": s.join(other, s["id"] == other["id2"]),
        "by key": s.repartition(F.col("id")),
        "other count": s.repartition(3),
        "coalesced": s.coalesce(4),
    }
    for name, f in cases.items():
        assert _spread(f) is not f, name
    assert _round_robins(_spread(cases["grouped"])) == 2
    assert _round_robins(_spread(cases["joined"])) == 2


def test_infer_json_events_spill_frame_has_one_round_robin(
    spark, tmp_path, monkeypatch
):
    # a one-file events table, the shape of the generated testdata: the
    # query spreads it, then infer_json_schema spreads again
    from ndto_spark.queries import q_infer_json_events

    spark.range(1000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 37).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("view", "click", "signup")]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        F.format_string('{"k": %d}', F.col("id") % 100).alias("props"),
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    frames = []
    real = spill.materialize

    def capture(df, tag):
        frames.append((tag, df))
        return real(df, tag)

    monkeypatch.setattr(spill, "materialize", capture)
    out = q_infer_json_events(spark, str(tmp_path))
    assert [t for t, _ in frames] == ["inferjson"]
    assert _round_robins(frames[0][1]) == 1
    assert out.count() > 0


def test_no_function_declares_a_spread_parameter():
    root = pathlib.Path(ndto_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
            ):
                continue
            a = node.args
            params = a.posonlyargs + a.args + a.kwonlyargs
            params += [p for p in (a.vararg, a.kwarg) if p is not None]
            if any(p.arg == "spread" for p in params):
                name = getattr(node, "name", "<lambda>")
                found.append(f"{path.relative_to(root)}:{node.lineno} {name}")
    assert found == []
