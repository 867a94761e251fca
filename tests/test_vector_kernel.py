"""The vector kernel (ann._scan) against crossJoin references built from
ann.dot/ann.norm: every scorer that runs it must give the same values as
the expression fold, bit for bit, on NULL/duplicate/string ids, NULL
vectors, NULL elements, ragged vectors, empty sides, array<float> input
and over-cap driver sides. Zero vectors stay out of these references (the
ANSI fold raises DIVIDE_BY_ZERO on them); the zero-norm rule is pinned on
its own below."""

from __future__ import annotations

import ast
import math
import pathlib

import pytest
from pyspark.sql import functions as F

import ndto_spark
from ndto_spark import ann
from ndto_spark.ann import dot, norm
from ndto_spark.dedup import semantic_decontaminate

CORPUS = [
    (1, [1.0, 0.5, -0.25], 7),
    (2, [0.5, 1.0, 0.25], 8),
    (3, [-1.0, 0.25, 0.5], None),
    (3, [0.75, -0.5, 1.0], 7),  # duplicate id
    (None, [1.0, 1.0, 0.5], 8),  # NULL id
    (4, None, 8),  # NULL vector
    (5, [1.0, None, 0.5], 7),  # NULL element
    (6, [1.0, 0.5], 8),  # ragged
    (7, [0.25, 0.5, 0.75], None),
    (8, [2.0, -1.0, 0.5], 9),
]
QUERIES = [
    (1, [1.0, 0.5, -0.25], 7),
    (2, [0.5, 1.0, 0.25], 8),
    (2, [0.5, 0.25, 1.0], 9),  # duplicate query id
    (None, [1.0, 0.0, 0.0], 7),  # NULL id
    (9, None, 8),  # NULL vector
    (10, [None, 1.0, 0.0], None),  # NULL element
    (11, [0.5, 1.0], 8),  # ragged: pairs with the 2-long corpus row
]

CASES = {
    "long": ("long", "double", None),
    "string": ("string", "double", None),
    "float": ("long", "float", None),
    "over_cap": ("string", "double", 2),
}


def _frame(spark, rows, id_type, elem):
    if id_type == "string":
        rows = [(None if i is None else f"v{i}", v, g) for i, v, g in rows]
    return spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<{elem}>, label int"
    )


def _sides(spark, monkeypatch, case):
    id_type, elem, cap = CASES[case]
    if cap is not None:
        monkeypatch.setattr(ann, "MAX_DRIVER_QUERIES", cap)
    return (
        _frame(spark, CORPUS, id_type, elem),
        _frame(spark, QUERIES, id_type, elem),
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _crossed(corpus, queries, extra=None):
    """(query_id, neighbor_id, cosine_sim) over the crossJoin, the
    expression fold on array<double> vectors."""
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
        F.col("label").alias("cg"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qg"),
    )
    cond = F.col("query_id") != F.col("neighbor_id")
    if extra is not None:
        cond = cond & extra
    return (
        c.crossJoin(q)
        .filter(cond)
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv"), F.col("cv"))
                / (norm(F.col("qv")) * norm(F.col("cv")))
            ).alias("cosine_sim"),
        )
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_brute_force_topk_matches_fold(spark, monkeypatch, case):
    co, qs = _sides(spark, monkeypatch, case)
    got = _rows(ann.brute_force_topk(co, qs, k=4))
    want = _rows(ann.two_phase_topk(_crossed(co, qs), 4))
    assert got == want
    assert any(r[2] is None for r in got)  # NULL scores take part


@pytest.mark.parametrize("case", sorted(CASES))
def test_hard_negatives_matches_fold(spark, monkeypatch, case):
    co, qs = _sides(spark, monkeypatch, case)
    got = _rows(ann.hard_negatives(co, qs, k=4))
    same = F.col("qg").eqNullSafe(F.col("cg"))
    want = _rows(ann.two_phase_topk(_crossed(co, qs, ~same), 4))
    assert got == want and got


def _decontaminate_ref(corpus, evalset, threshold):
    def side(df, pre):
        return (
            df.select(
                F.col("vec_id").alias(f"{pre}id"),
                F.col("embedding").cast("array<double>").alias(f"{pre}v"),
            )
            .withColumn(f"{pre}n", norm(F.col(f"{pre}v")))
            .filter(F.col(f"{pre}n") > 0)
        )

    sim = dot(F.col("c_v"), F.col("e_v")) / (F.col("c_n") * F.col("e_n"))
    return (
        side(corpus, "c_")
        .crossJoin(side(evalset, "e_"))
        .select("c_id", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .groupBy("c_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.max("sim").alias("max_sim"),
        )
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_semantic_decontaminate_matches_fold(spark, monkeypatch, case):
    co, ev = _sides(spark, monkeypatch, case)
    got = _rows(semantic_decontaminate(co, ev, threshold=0.3))
    assert got == _rows(_decontaminate_ref(co, ev, 0.3))
    assert len(got) >= 4


def _ivf_ref(corpus, queries, cents, k, n_probe):
    """ivf_topk with the codebook assignment as array_min / array_sort over
    (-cosine, cid) structs of literal centroids."""
    norms = [math.sqrt(sum(x * x for x in c)) or 1.0 for c in cents]

    def lists(df, name, n):
        v = F.col("embedding").cast("array<double>")
        base = df.select(
            F.col("vec_id").alias(name),
            v.alias(f"{name}_vec"),
            norm(v).alias(f"{name}_nrm"),
        )
        sims = F.array(
            *[
                F.struct(
                    (
                        -dot(
                            F.col(f"{name}_vec"),
                            F.array(*[F.lit(float(x)) for x in c]),
                        )
                        / (F.col(f"{name}_nrm") * F.lit(cn))
                    ).alias("neg"),
                    F.lit(i).cast("long").alias("cid"),
                )
                for i, (c, cn) in enumerate(zip(cents, norms))
            ]
        )
        return base.select(
            "*", F.explode(F.slice(F.array_sort(sims), 1, n)["cid"]).alias("cid")
        )

    scored = (
        lists(corpus, "neighbor_id", 1)
        .join(lists(queries, "query_id", n_probe), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("query_id_vec"), F.col("neighbor_id_vec"))
                / (F.col("query_id_nrm") * F.col("neighbor_id_nrm"))
            ).alias("cosine_sim"),
        )
    )
    return ann.two_phase_topk(scored, k)


CODEBOOKS = {
    "uniform": [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [1.0, 1.0, 1.0]],
    "mixed": [[1.0, 0.0, 0.0], [0.0, 1.0], [0.0, 0.0, 1.0], [1.0, 0.5]],
}


@pytest.mark.parametrize("book", sorted(CODEBOOKS))
@pytest.mark.parametrize("case", sorted(CASES))
def test_ivf_topk_given_codebook_matches_fold(spark, monkeypatch, case, book):
    co, qs = _sides(spark, monkeypatch, case)
    cents = CODEBOOKS[book]
    got = _rows(ann.ivf_topk(co, qs, k=3, n_probe=2, centroids=cents))
    assert got == _rows(_ivf_ref(co, qs, cents, 3, 2))
    assert got


def _lsh_ref(df, tables):
    out = None
    for t, planes in enumerate(tables):
        sig = F.lit(0).cast("long")
        for j, p in enumerate(planes):
            proj = F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(x) for x in p]),
                    lambda v, w: v.cast("double") * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            sig = sig + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        one = df.select(
            "vec_id",
            F.concat(F.lit(f"{t}:"), sig.cast("string")).alias("bucket"),
        )
        out = one if out is None else out.union(one)
    return out


@pytest.mark.parametrize("case", sorted(CASES))
def test_lsh_buckets_arrow_matches_fold(spark, monkeypatch, case):
    co, _ = _sides(spark, monkeypatch, case)
    tables = [ann._planes(3, 5, 42 + t * 1000) for t in range(3)]
    got = _rows(ann.lsh_buckets_arrow(co, "vec_id", "embedding", "vec_id", tables))
    assert got == _rows(_lsh_ref(co, tables))
    assert len(got) == 3 * len(CORPUS)


def test_empty_sides(spark):
    full = _frame(spark, CORPUS, "long", "double")
    empty = full.limit(0)
    for a, b in ((full, empty), (empty, full), (empty, empty)):
        assert ann.brute_force_topk(a, b).collect() == []
        assert ann.hard_negatives(a, b).collect() == []
        assert semantic_decontaminate(a, b).collect() == []
        assert ann.ivf_topk(a, b, centroids=CODEBOOKS["mixed"]).collect() == []
    assert ann.ivf_topk(empty, full).collect() == []
    tables = [ann._planes(3, 4, 1)]
    assert ann.lsh_buckets_arrow(empty, "vec_id", "embedding", "v", tables).collect() == []
    assert ann.brute_force_topk(full, empty).schema == ann.brute_force_topk(
        full, full
    ).schema


def test_zero_norm_scores_nan(spark):
    co = _frame(
        spark,
        [(1, [0.0, 0.0], 1), (2, [1.0, 0.0], 2), (3, [1.0, None], 3)],
        "long",
        "double",
    )
    qs = _frame(spark, [(0, [1.0, 0.0], 0)], "long", "double")
    got = [tuple(r) for r in ann.brute_force_topk(co, qs, k=3).collect()]
    # NULL first, NaN last, as two_phase_topk orders (score, id)
    assert got[0] == (0, 3, None) and got[1] == (0, 2, 1.0)
    assert got[2][:2] == (0, 1) and math.isnan(got[2][2])
    hn = [tuple(r) for r in ann.hard_negatives(co, qs, k=3).collect()]
    assert hn[:2] == got[:2] and math.isnan(hn[2][2])
    zero_eval = _frame(spark, [(0, [0.0, 0.0], 0)], "long", "double")
    assert semantic_decontaminate(co, zero_eval, threshold=-1.0).collect() == []


def test_null_element_scores_null(spark):
    # a full-length vector with a NULL element scores NULL, as the
    # ann.dot/ann.norm crossJoin gives, and ranks first like any NULL score
    co = _frame(
        spark,
        [(1, [1.0, None], 1), (2, [1.0, 0.0], 2), (3, [0.0, 1.0], 3)],
        "long",
        "double",
    )
    qs = _frame(spark, [(0, [1.0, 0.0], 0)], "long", "double")
    want = _rows(ann.two_phase_topk(_crossed(co, qs), 1))
    assert want == [(0, 1, None)]
    assert _rows(ann.brute_force_topk(co, qs, k=1)) == want
    assert _rows(ann.hard_negatives(co, qs, k=1)) == want


@pytest.mark.parametrize("ids", ["letters", "numeric_strings"])
def test_ivf_topk_sampled_codebook_string_ids(spark, ids):
    import random

    rng = random.Random(5)
    names = (
        [chr(ord("a") + i) for i in range(20)]
        if ids == "letters"
        else [str(i + 1) for i in range(20)]
    )
    df = spark.createDataFrame(
        [(n, [rng.uniform(-1, 1) for _ in range(4)]) for n in names],
        "vec_id string, embedding array<double>",
    )
    queries = df.filter(F.col("vec_id").isin(names[:5]))
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in ann.brute_force_topk(df, queries, k=1).collect()
    }
    approx = ann.ivf_topk(df, queries, k=1, n_lists=4, n_probe=4).collect()
    assert {r["query_id"]: r["neighbor_id"] for r in approx} == exact
    assert len(exact) == 5


def _tree(name):
    path = pathlib.Path(ndto_spark.__file__).parent / name
    return ast.parse(path.read_text(), filename=str(path))


def _map_in_pandas_sites(tree):
    """Names of the top-level functions whose bodies call mapInPandas."""
    sites = []
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr == "mapInPandas":
                sites.append(getattr(top, "name", "<module>"))
    return sites


def test_map_in_pandas_only_in_kernel_launcher():
    assert _map_in_pandas_sites(_tree("ann.py")) == ["_scan"]
    assert _map_in_pandas_sites(_tree("dedup.py")) == []


def test_ann_has_no_reordering_products():
    found = []
    for node in ast.walk(_tree("ann.py")):
        if isinstance(node, (ast.BinOp, ast.AugAssign)) and isinstance(
            node.op, ast.MatMult
        ):
            found.append(f"{node.lineno} @")
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ("dot", "matmul", "einsum")
            and isinstance(node.value, ast.Name)
            and node.value.id in ("np", "numpy")
        ):
            found.append(f"{node.lineno} np.{node.attr}")
    assert found == []
