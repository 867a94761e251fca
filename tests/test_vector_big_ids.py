"""The vector kernel keeps long ids above 2^53 exact when a NULL id shares
their batch (a pandas batch would turn that column into float64)."""

from __future__ import annotations

from ndto_spark import ann
from ndto_spark.dedup import semantic_decontaminate

BIG = (2**62 + 1, 2**62 + 3)  # both round to 2^62 as float64
SCHEMA = "vec_id long, embedding array<double>, label int"


def _corpus(spark):
    # round-robin spreading deals rows i, i+4, i+8 to one partition, so
    # each big id lands beside NULL ids at any shuffle width up to 4
    rows = [(BIG[0], [1.0, 0.5], 1), (BIG[1], [0.5, 1.0], 2)]
    rows += [(None, [1.0, float(i)], 3) for i in range(10)]
    return spark.createDataFrame(rows, SCHEMA).coalesce(1)


def _queries(spark):
    return spark.createDataFrame([(7, [1.0, 1.0], 0)], SCHEMA)


def test_brute_force_topk_keeps_big_ids(spark):
    got = ann.brute_force_topk(_corpus(spark), _queries(spark), k=12).collect()
    assert {r.neighbor_id for r in got} == set(BIG)


def test_hard_negatives_keeps_big_ids(spark):
    got = ann.hard_negatives(
        _corpus(spark), _queries(spark), group_col="label", k=12
    ).collect()
    assert {r.neighbor_id for r in got} == set(BIG)


def test_assign_cids_arrow_keeps_big_ids(spark):
    got = ann.assign_cids_arrow(
        _corpus(spark), "vec_id", "embedding", "v", [(0, [1.0, 0.0])], [1.0]
    ).collect()
    assert sorted(r.v for r in got if r.v is not None) == list(BIG)
    assert sum(r.v is None for r in got) == 10


def test_semantic_decontaminate_keeps_big_ids(spark):
    got = semantic_decontaminate(
        _corpus(spark), _queries(spark), threshold=-1.0
    ).collect()
    assert {r.vec_id: r.n_hits for r in got} == {BIG[0]: 1, BIG[1]: 1, None: 10}
