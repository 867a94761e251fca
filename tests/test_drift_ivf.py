"""Per-partition drift vs reference profile + IVF ANN."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ndto_spark import ann, table_rules


def test_drift_per_partition_detects_shift(spark):
    # reference: uniform 0..100; partition 1 of the test df is shifted +40
    ref = spark.range(10000).select((F.col("id") % 100).cast("double").alias("x"))
    profile = table_rules.reference_profile(ref, "x", 0.0, 100.0, 10)
    test_df = spark.range(10000).select(
        F.when(F.spark_partition_id() == 0, (F.col("id") % 60).cast("double"))
        .otherwise(((F.col("id") % 60) + 40).cast("double"))
        .alias("x")
    ).repartition(2).select(
        F.when(F.spark_partition_id() == 0, F.col("x"))
        .otherwise(F.least(F.col("x") + 40.0, F.lit(99.0)))
        .alias("x")
    )
    out = {
        r.partition_id: r
        for r in table_rules.drift_per_partition(
            test_df, "x", profile, 0.0, 100.0, 10
        ).collect()
    }
    assert len(out) == 2
    # the shifted partition must show clearly larger drift
    parts = sorted(out.values(), key=lambda r: r.ks)
    assert parts[1].ks > parts[0].ks
    assert parts[1].psi > parts[0].psi
    assert parts[1].ks > 0.3


def test_ivf_topk_matches_brute_force_on_top1(spark):
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 5)
    exact = {
        r.query_id: r.neighbor_id
        for r in ann.brute_force_topk(df, queries, k=1).collect()
    }
    approx = ann.ivf_topk(df, queries, k=3, n_lists=8, n_probe=6).collect()
    got = {}
    for r in approx:
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    # with 6 of 8 lists probed, the true top-1 should be found for most
    # queries (recall tolerance: at least 3 of 5)
    hits = sum(1 for q, n in exact.items() if n in got.get(q, []))
    assert hits >= 3
    # every query returns k results
    assert all(len(v) == 3 for v in got.values())


def test_kmeans_centroids_recover_clusters_and_boost_ivf(spark):
    """Lloyd's k-means on well-separated clusters recovers one centroid per
    cluster, and IVF probing n_probe=1 with the trained codebook still finds
    each query's true top-1 (which lives in the same cluster)."""
    import random

    rng = random.Random(11)
    dim, n_clusters = 8, 4
    # cluster centers on distinct axes; points = center + small noise
    rows = []
    for i in range(200):
        c = i % n_clusters
        base = [0.0] * dim
        base[c * 2] = 1.0
        rows.append(
            (i, [b + rng.gauss(0, 0.05) for b in base])
        )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = ann.kmeans_centroids(df, dim=dim, k=n_clusters, n_iter=4)
    assert len(cents) == n_clusters
    # each trained centroid points dominantly at one distinct cluster axis
    axes = {max(range(dim), key=lambda d: c[d]) for c in cents}
    assert axes == {0, 2, 4, 6}
    queries = df.filter(F.col("vec_id") < 4)  # one query per cluster
    exact = {
        r.query_id: r.neighbor_id
        for r in ann.brute_force_topk(df, queries, k=1).collect()
    }
    approx = ann.ivf_topk(
        df, queries, k=1, n_probe=1, centroids=cents
    ).collect()
    got = {r.query_id: r.neighbor_id for r in approx}
    assert got == exact


def test_column_quantiles_exact_and_approx(spark):
    from ndto_spark import table_rules

    df = spark.range(1, 1002).select(F.col("id").cast("double").alias("x"))
    exact = {
        (r.column_name, r.q): r.value
        for r in table_rules.column_quantiles(df, ["x"], (0.25, 0.5), exact=True).collect()
    }
    assert exact[("x", 0.5)] == 501.0  # exact median of 1..1001
    assert exact[("x", 0.25)] == 251.0
    approx = {
        (r.column_name, r.q): r.value
        for r in table_rules.column_quantiles(df, ["x"], (0.5,), exact=False).collect()
    }
    # sketch path: within 1% of the true median
    assert abs(approx[("x", 0.5)] - 501.0) <= 10


def test_codebook_literal_size_guard(spark):
    # the codebook rides the plan as k x dim literals: oversized requests
    # must fail loudly before they stall driver planning
    df = spark.createDataFrame([(1, [0.0] * 8)], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="MAX_CODEBOOK_LITERALS"):
        ann.kmeans_centroids(df, dim=128, k=1024)
    big = [[0.0] * 64 for _ in range(2048)]
    with pytest.raises(ValueError, match="MAX_CODEBOOK_LITERALS"):
        ann.ivf_topk(df, df, centroids=big)
    # the documented coarse sizes stay well inside the bound
    assert 256 * 256 <= ann.MAX_CODEBOOK_LITERALS


def test_grouped_hll_tracks_exact_distinct(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 6000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        # group 0: 2000 distinct; 1: 500 distinct; 2: 50 distinct
        F.when(F.col("id") % 3 == 0, F.col("id"))
        .when(F.col("id") % 3 == 1, F.col("id") % 1500)
        .otherwise(F.col("id") % 150)
        .alias("v"),
    )
    out = {r.g: r.approx_distinct for r in
           table_rules.approx_distinct_hll_portable_grouped(df, "v", "g").collect()}
    exact = {r.g: r.d for r in
             df.groupBy("g").agg(F.countDistinct("v").alias("d")).collect()}
    assert set(out) == set(exact)
    for g, e in exact.items():
        assert abs(out[g] - e) <= max(3, 0.1 * e), (g, out[g], e)



@pytest.mark.parametrize("rows", ["empty", "all_null"])
def test_portable_hll_frame_shapes_on_no_values(spark, rows):
    df = spark.createDataFrame(
        [] if rows == "empty" else [(None, "a"), (None, "b")],
        "v long, g string",
    )
    got = table_rules.approx_distinct_hll_portable(df, "v").collect()
    assert [tuple(r) for r in got] == [("v", None)]
    grouped = table_rules.approx_distinct_hll_portable_grouped(df, "v", "g")
    assert grouped.collect() == []


def test_portable_hll_one_group_matches_ungrouped(spark):
    df = spark.range(0, 3000).select(
        (F.col("id") % 700).alias("v"), F.lit("all").alias("g")
    )
    (whole,) = table_rules.approx_distinct_hll_portable(df, "v").collect()
    (grp,) = table_rules.approx_distinct_hll_portable_grouped(df, "v", "g").collect()
    assert whole.approx_distinct == grp.approx_distinct

def test_quantize_embeddings_codes_bounds_and_nulls(spark):
    from ndto_spark.ann import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0]), (3, []), (4, [3.0])],
        "id long, v array<double>",
    )
    got = {r.id: r for r in quantize_embeddings(df, "id", "v").collect()}
    assert got[1].codes == [64, -127, 32]  # half-up at 32.25 -> 32
    assert got[1].absmax_e9 == 2_000_000_000
    assert got[1].max_err_ratio_e6 == 500_000  # |63.5 - 64| = exactly 0.5
    assert got[2].codes is None and got[2].absmax_e9 is None  # zero vector
    assert got[3].dim == 0 and got[3].codes is None           # empty vector
    assert got[4].codes == [127]  # absmax element is exactly +-127
    assert got[4].max_err_ratio_e6 == 0


def test_quantized_topk_matches_exact_top1_on_separated_clusters(spark):
    import math

    from ndto_spark.ann import brute_force_topk, quantize_embeddings, quantized_topk

    # three well-separated directions: quantization noise (< 0.5/127) can't
    # reorder them, so int8 top-1 must agree with exact top-1
    def vec(theta, r):
        return [r * math.cos(theta), r * math.sin(theta)]

    rows = [
        (0, vec(0.0, 1.0)), (1, vec(0.05, 2.0)),
        (10, vec(1.5, 1.0)), (11, vec(1.55, 3.0)),
        (20, vec(3.0, 1.0)), (21, vec(3.05, 0.5)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qz = quantize_embeddings(df, "vec_id", "embedding").select(
        "vec_id", "codes", "absmax_e9"
    )
    queries = df.filter(df.vec_id.isin(0, 10, 20))
    exact = {
        r.query_id: r.neighbor_id
        for r in brute_force_topk(df, queries, k=1).collect()
    }
    quant = {}
    got = quantized_topk(qz, qz.filter(qz.vec_id.isin(0, 10, 20)), k=1).collect()
    for r in got:
        quant[r.query_id] = r.neighbor_id
    assert exact == quant == {0: 1, 10: 11, 20: 21}


def test_quantized_topk_skips_null_code_vectors(spark):
    from ndto_spark.ann import quantize_embeddings, quantized_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    qz = quantize_embeddings(df, "vec_id", "embedding").select(
        "vec_id", "codes", "absmax_e9"
    )
    rows = quantized_topk(qz, qz, k=5).collect()
    ids = {r.query_id for r in rows} | {r.neighbor_id for r in rows}
    assert 3 not in ids  # zero vector has no codes: excluded on both sides


def test_knn_graph_mutual_and_one_way_edges(spark):
    """k=1 on three vectors: A↔B pick each other (mutual); C picks B but
    B's top-1 is A, so (B, C) is a one-way edge. mutual_only drops it."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.141]),
        (3, [0.7, 0.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.mutual
        for r in ann.knn_graph(df, k=1).collect()
    }
    assert got == {(1, 2): True, (2, 3): False}
    only = {(r.id_a, r.id_b) for r in ann.knn_graph(df, k=1, mutual_only=True).collect()}
    assert only == {(1, 2)}


def test_kcenter_coreset_farthest_first_order(spark):
    """Three tight clusters on axes + start at id 1: picks alternate to
    the farthest remaining cluster; within-cluster near-dups are never
    picked before every cluster is covered."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.999, 0.01]),   # near 3
        (5, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = ann.kcenter_coreset(df, k=3).collect()
    order = [(r.pick_order, r.center_id) for r in out]
    assert order[0] == (0, 1)
    assert {c for _, c in order[1:]} == {3, 5}  # one per remaining cluster
    assert out[0].dist_e6 is None
    # the first pick's distance is a full orthogonal hop: 1 - cos = 1
    assert out[1].dist_e6 == 1_000_000

    # k > n: stops at n picks
    assert len(ann.kcenter_coreset(df, k=10).collect()) == 5
    # empty input
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert ann.kcenter_coreset(empty, k=3).count() == 0
