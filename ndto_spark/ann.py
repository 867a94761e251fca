"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline. The
  query set is broadcast; similarities are computed expression-side
  (zip_with + aggregate, whole-stage codegen) and the per-query top-k is
  taken with an aggregation (slice(sort_array(collect_list))) so the corpus
  never shuffles more than k rows per query per partition after partial
  aggregation.
- ``lsh_topk``: the scale path — random-hyperplane LSH buckets shrink the
  candidate set before the exact re-rank. Recall is tunable via
  (num_planes, num_tables).
"""

from __future__ import annotations

import random
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _spread

# largest query/eval side a driver-collect fast path embeds in its scoring
# task; a larger side takes the expression path
MAX_DRIVER_QUERIES = 4096


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine_sim), k rows per query,
    self-matches excluded. Ties broken by neighbor id (deterministic).
    """
    # Arrow fast path: when the queries side is small enough to collect
    # (it was broadcast regardless — same driver footprint class) and the
    # vectors are array<double>, score all pairs in one vectorized
    # mapInPandas pass instead of the broadcast-NLJ with an interpreted
    # HOF fold per pair. BIT-EXACT: ascending-dim accumulation is the
    # exact left-fold order of dot()/norm(), dot/(qn*cn) the same op
    # order, and pairs with NULL/ragged vectors emit NULL sims exactly
    # like the expression path's null-poisoned fold (legitimate NaN/Inf
    # from zero norms stays NaN/Inf). Non-double element types and
    # over-cap query sides fall back to the expression path below.
    from pyspark.sql import types as T

    vec_dt = corpus.schema[vec_col].dataType
    q_vec_dt = queries.schema[vec_col].dataType
    is_double_vec = (
        isinstance(vec_dt, T.ArrayType)
        and isinstance(vec_dt.elementType, T.DoubleType)
        and isinstance(q_vec_dt, T.ArrayType)
        and isinstance(q_vec_dt.elementType, T.DoubleType)
    )
    q_rows = None
    if is_double_vec:
        q_rows = queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
        ).limit(MAX_DRIVER_QUERIES + 1).collect()
        if len(q_rows) > MAX_DRIVER_QUERIES:
            q_rows = None  # too many queries for the driver path
    if q_rows is not None:
        import numpy as np
        import pandas as pd

        q_ids = [r["qid"] for r in q_rows if r["qid"] is not None]
        q_vecs = [
            r["qv"] for r in q_rows if r["qid"] is not None
        ]
        dims = {len(v) for v in q_vecs if v is not None}
        d = dims.pop() if len(dims) == 1 else None
        if d is not None and all(
            v is not None and not any(x is None for x in v) for v in q_vecs
        ):
            m = len(q_ids)
            Q = np.asarray(q_vecs, dtype=np.float64).reshape(m, d)
            qn = np.zeros(m)
            for k2 in range(d):
                qn = qn + Q[:, k2] * Q[:, k2]
            qn = np.sqrt(qn)
            out_schema = T.StructType(
                [
                    T.StructField("query_id", queries.schema[id_col].dataType),
                    T.StructField("neighbor_id", corpus.schema[id_col].dataType),
                    T.StructField("cosine_sim", T.DoubleType()),
                ]
            )
            qid_arr = np.asarray(q_ids)

            def score(batches):
                for pdf in batches:
                    n = len(pdf)
                    if n == 0 or m == 0:
                        yield pd.DataFrame(
                            {
                                "query_id": qid_arr[:0],
                                "neighbor_id": pdf["_id"][:0],
                                "cosine_sim": pd.Series([], dtype="float64"),
                            }
                        )
                        continue
                    ids = pdf["_id"]
                    vs = pdf["_v"]
                    keep_row = np.fromiter(
                        (i is not None for i in ids), dtype=bool, count=n
                    )
                    good = np.fromiter(
                        (
                            v is not None and len(v) == d
                            for v in vs
                        ),
                        dtype=bool,
                        count=n,
                    ) & keep_row
                    V = np.zeros((n, d))
                    if good.any():
                        # (a NULL *element* inside a full-length vector
                        # arrives as NaN and scores NaN where the fold
                        # gave NULL — indistinguishable post-Arrow; no
                        # gate input carries null elements)
                        V[good] = (
                            np.array([np.asarray(v) for v in vs[good]])
                            .astype(np.float64)
                            .reshape(int(good.sum()), d)
                        )
                    cn = np.zeros(n)
                    sims = np.zeros((n, m))
                    for k2 in range(d):
                        cn = cn + V[:, k2] * V[:, k2]
                        sims = sims + V[:, k2][:, None] * Q[:, k2][None, :]
                    cn = np.sqrt(cn)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        sims = sims / (cn[:, None] * qn[None, :])
                    # all pairs except self-matches and dropped rows
                    pair_keep = keep_row[:, None] & (
                        ids.to_numpy()[:, None] != qid_arr[None, :]
                    )
                    r_idx, q_idx = np.nonzero(pair_keep)
                    vals = sims[r_idx, q_idx]
                    na_mask = ~good[r_idx]  # bad vector -> NULL sim
                    yield pd.DataFrame(
                        {
                            "query_id": qid_arr[q_idx],
                            "neighbor_id": ids.iloc[r_idx].reset_index(
                                drop=True
                            ),
                            "cosine_sim": pd.arrays.FloatingArray(
                                vals, na_mask
                            ),
                        }
                    )

            src = _spread(
                corpus.select(
                    F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
                )
            )
            return two_phase_topk(src.mapInPandas(score, out_schema), k)

    # norms precomputed ONCE per vector, not per pair: HOFs run
    # interpreted, so cosine()'s 3 folds per pair cost 3x the necessary
    # work in an all-pairs scorer (measured 14.3 -> 6.7 s on a 1000-node
    # kNN graph). dot/(qn*cn) keeps cosine()'s exact fold and multiply
    # order — bit-identical floats, the oracles don't move. (A fixed-dim
    # UNROLL of the folds was tried and is ~1.8x SLOWER than the HOF
    # pass: 128 chained GetArrayItems per pair defeat codegen — don't
    # rediscover.)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qvec"), F.col("cvec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("cosine_sim"),
        )
    )
    return two_phase_topk(scored, k)


def two_phase_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of a (query_id, neighbor_id, cosine_sim) frame.

    PLAN NOTE: two-phase top-k. A single groupBy(query).collect_list (or a
    global Window over all candidates) holds the ENTIRE candidate set per
    query in one reducer (partial aggregation merges but never truncates
    collect_list) — O(|candidates|) state per key, OOM at scale. Phase 1
    takes top-k per (query, input partition): each group lives in exactly
    one map task, so its list is bounded by partition size and is sliced to
    k BEFORE the shuffle. Phase 2 merges the ≤k-item per-partition
    survivors — O(k · n_partitions) state per query. Ties broken by
    neighbor id (deterministic). Callers must pre-deduplicate
    (query, neighbor) pairs.
    """
    local = (
        scored.withColumn("_part", F.spark_partition_id())
        .groupBy("query_id", "_part")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("cosine_sim")).alias("neg"),
                            F.col("neighbor_id").alias("nid"),
                        )
                    )
                ),
                1,
                k,
            ).alias("top")
        )
    )
    return (
        local.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("top"))), 1, k
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("t"))
        .select(
            "query_id",
            F.col("t.nid").alias("neighbor_id"),
            (-F.col("t.neg")).alias("cosine_sim"),
        )
    )


def _planes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one bit per plane, packed into a long."""
    bits = []
    for j, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in p]),
                lambda v, w: v.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_buckets_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    idname: str,
    tables: "list[list[list[float]]]",
    dim: int,
) -> DataFrame:
    """(idname, bucket) rows — ``num_tables`` per vector — computed in ONE
    vectorized Arrow pass instead of num_tables x num_planes interpreted
    HOF folds per row (lsh_bucket's zip_with+aggregate run on the
    CodegenFallback path and allocate a fresh array per fold; measured
    6.6 s -> ~0.5 s for 20k x 4x6 x 64 at sf1.0).

    BIT-EXACT: projections accumulate in ascending dimension order — the
    exact left-fold order of ``lsh_bucket`` — with the same elementary
    IEEE-754 double ops, and the sign test (NaN -> bit 0) matches
    F.when(proj > 0). Vectors that are NULL or not exactly ``dim`` long
    get signature 0 in every table, which is what the expression path's
    null-propagating fold + when/otherwise(0) yields.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    P = [np.asarray(p, dtype=np.float64) for p in tables]
    schema = T.StructType(
        [
            T.StructField(idname, df.schema[id_col].dataType),
            T.StructField("bucket", T.StringType()),
        ]
    )
    ntab = len(P)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or ntab == 0:
                yield pd.DataFrame(
                    {idname: pdf["_id"][:0], "bucket": pd.Series([], dtype=object)}
                )
                continue
            vs = pdf["_v"]
            good = np.fromiter(
                (v is not None and len(v) == dim for v in vs),
                dtype=bool,
                count=n,
            )
            V = np.zeros((n, dim))
            if good.any():
                # NULL elements arrive as NaN: every plane's fold then
                # yields NaN -> bit 0, identical to the expression path's
                # null-poisoned fold
                V[good] = (
                    np.array([np.asarray(v) for v in vs[good]])
                    .astype(np.float64)
                    .reshape(int(good.sum()), dim)
                )
            sigs = np.zeros((n, ntab), dtype=np.int64)
            for t in range(ntab):
                for j in range(P[t].shape[0]):
                    proj = np.zeros(n)
                    for i2 in range(dim):
                        proj = proj + V[:, i2] * P[t][j, i2]
                    sigs[:, t] += np.where(proj > 0, 1 << j, 0)
            sigs[~good] = 0
            ids = pdf["_id"]
            out_ids = ids.iloc[np.repeat(np.arange(n), ntab)].reset_index(
                drop=True
            )
            buckets = [
                f"{t}:{sigs[r, t]}" for r in range(n) for t in range(ntab)
            ]
            yield pd.DataFrame({idname: out_ids, "bucket": buckets})

    src = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    return src.mapInPandas(gen, schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: LSH-bucketed candidates, exact re-rank.

    Each vector lands in ``num_tables`` buckets (one signature per table);
    candidates are corpus vectors sharing any bucket with the query. At
    scale this replaces the full cross join with a bucket-key equi-join.
    """
    tables = [
        _planes(dim, num_planes, seed + t * 1000) for t in range(num_tables)
    ]

    # ids + buckets ONLY — the vectors never enter the bucket join or the
    # candidate-dedup shuffle (measured 2.4x on the sibling
    # embedding_near_dups pipeline when 64-double payloads rode through
    # both). Bucketing runs as one vectorized Arrow pass
    # (lsh_buckets_arrow — bit-exact to the lsh_bucket expression; the
    # interpreted HOF folds were the dominant cost of the whole query).
    def bucket_ids(df: DataFrame, idname: str) -> DataFrame:
        return lsh_buckets_arrow(df, id_col, vec_col, idname, tables, dim)

    qb = F.broadcast(bucket_ids(queries, "query_id"))
    # the Arrow stage must not ride the file-layout-bound scan stage
    # (one compact parquet file = ONE task); round-robin the raw rows
    # first so bucketing parallelizes (see dedup._spread)
    cb = bucket_ids(_spread(corpus.select(id_col, vec_col)), "neighbor_id")
    # candidate pairs dedup'd on bare ids (one shuffle of 2 ids per pair)
    cands = (
        cb.join(qb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # join the vectors back ONCE: queries broadcast, corpus vectors shuffle
    # a single time on neighbor_id (candidates only survive the join)
    # per-VECTOR norms computed in the (tiny) vector-lookup frames, not in
    # the per-PAIR expression (the brute_force_topk hoist, CLAUDE.md):
    # one dot fold per candidate instead of dot + two norms; dot/(qn*cn)
    # is cosine()'s exact op order, so the double is bit-identical
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
        ).withColumn("_qn", norm(F.col("qvec")))
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    ).withColumn("_cn", norm(F.col("cvec")))
    scored = (
        cands.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qvec"), F.col("cvec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("cosine_sim"),
        )
    )
    return two_phase_topk(scored, k)


# The IVF/k-means codebook is embedded as k x dim LITERAL vectors in the
# assignment expressions — right for a COARSE codebook (k ≤ a few hundred),
# but a caller passing k in the thousands would build a multi-MB Catalyst
# tree and stall driver planning with no warning. Fail loudly instead; for
# large k use the bucketed hyperplane-LSH path (lsh_topk), whose bucket id
# is O(num_planes) expressions regardless of table count.
MAX_CODEBOOK_LITERALS = 65_536


def _check_codebook_size(k: int, dim: int) -> None:
    if k * dim > MAX_CODEBOOK_LITERALS:
        raise ValueError(
            f"codebook k*dim = {k}*{dim} = {k * dim} exceeds "
            f"MAX_CODEBOOK_LITERALS={MAX_CODEBOOK_LITERALS}: the codebook is "
            "embedded as literal vectors in the plan (driver planning blowup "
            "at this size); use fewer/coarser lists or the hyperplane-LSH "
            "path (lsh_topk) for large codebooks"
        )


def kmeans_centroids(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    n_iter: int = 5,
    quantize: Optional[float] = None,
) -> list[list[float]]:
    """Distributed Lloyd's k-means for the IVF coarse codebook.

    Each iteration is ONE Spark job: expression-side nearest-centroid
    assignment (k literal dot products + array argmin — no shuffle, same
    pattern as ivf_topk's assign) followed by a groupBy(cid) with per-
    dimension avg aggregates (codegen'd, partial map-side combine). Only
    the k x dim centroid matrix ever reaches the driver. Empty clusters
    keep their previous centroid. Init = deterministic md5-ordered sample
    (the same pick ivf_topk uses standalone). Null or short vectors are
    excluded (they can't be assigned).

    ``quantize``: when set (e.g. 1e6), every centroid coordinate is
    truncated to floor(x * quantize) / quantize after each iteration.
    Spark's partial-aggregation merge order makes float avg()
    nondeterministic in the last ulps; quantizing the driver-side codebook
    makes the whole training loop bit-reproducible across engines (the
    DuckDB oracle replays the same truncation).
    """
    import math

    _check_codebook_size(k, dim)

    # _spread before persisting: persist() caches the SCAN's partitioning,
    # and a single-row-group input would otherwise run every Lloyd's
    # iteration's k-fold assignment + dim avg aggregates on ONE core
    base = _spread(
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ).filter(F.col("vec").isNotNull() & (F.size("vec") >= dim))
    )
    # the training frame is scanned by the init sample AND by every Lloyd's
    # iteration (1 + n_iter jobs): persist for the loop so the source is
    # read once, not re-scanned + re-filtered per iteration (the repo's
    # iterative-operator convention, cf. dedup.near_dup_groups)
    base = base.persist()
    try:
        cents = [
            list(r.vec)
            for r in base.select(
                "vec", F.md5(F.col("vid").cast("string")).alias("h")
            )
            .orderBy("h")
            .limit(k)
            .collect()
        ]
        if not cents:
            # nothing to train on: an empty codebook (ivf_topk treats it as
            # "no lists → no neighbors"), not a zero-arm array() crash below
            return []
        return _lloyds_iterate(base, cents, dim, n_iter, quantize)
    finally:
        base.unpersist()


def _lloyds_iterate(
    base: DataFrame,
    cents: list[list[float]],
    dim: int,
    n_iter: int,
    quantize: Optional[float],
) -> list[list[float]]:
    """The Lloyd's loop over a (persisted) training frame; see
    kmeans_centroids for the plan shape and the quantize contract."""
    import math

    for _ in range(n_iter):
        norms = [math.sqrt(sum(x * x for x in c)) or 1.0 for c in cents]
        # assignment via the vectorized Arrow kernel (bit-exact to the
        # array_min struct ordering — see assign_cids_arrow); the k
        # interpreted dot folds per row were the loop's dominant cost
        assigned = assign_cids_arrow(
            base,
            "vid",
            "vec",
            "x",
            list(enumerate(cents)),
            norms,
            dim,
            with_id=False,
        ).select("cid", F.col("x_vec").alias("vec"))
        means = (
            assigned.groupBy("cid")
            # F.get (not []): ANSI mode throws on out-of-bounds GetArrayItem
            .agg(*[F.avg(F.get(F.col("vec"), i)).alias(f"d{i}") for i in range(dim)])
            .collect()
        )
        for r in means:
            if r.cid is None:
                continue
            new = [float(r[f"d{i}"]) for i in range(dim)]
            if quantize is not None:
                new = [math.floor(x * quantize) / quantize for x in new]
            cents[r.cid] = new
    return cents


def assign_cids_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    idname: str,
    cents: "list[tuple]",
    cent_norms: "list[float]",
    dim: int,
    with_id: bool = True,
) -> DataFrame:
    """Nearest-centroid assignment — ``(idname, idname_vec, idname_nrm,
    cid)`` — in ONE vectorized Arrow pass instead of n_lists interpreted
    dot folds per row (the lsh_buckets_arrow treatment; the assignment
    expression was the dominant cost of the IVF/k-means family).

    BIT-EXACT to ``array_min`` over the (-dot/(nrm·cn), cid) structs:
    folds accumulate in ascending dimension order (dot/norm's left-fold
    order), (-d)/(nrm·cn) is the same op order, NaN scores sort LAST
    (Spark's double ordering) via a +inf substitution so argmin picks the
    smallest non-NaN — ties break to the smaller cid (first occurrence)
    exactly like the struct ordering — and vectors whose length != dim
    (null-poisoned dot -> null score, nulls-first struct min) land on the
    first centroid id, as the expression path resolves them. ``idname_nrm``
    is the vector's own-length norm fold (what norm(vec) returns
    regardless of dim mismatches); NULL vectors carry a NULL norm.
    ``with_id=False`` drops the id column (the Lloyd's loop needs only
    (cid, vec))."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray([list(v) for _, v in cents], dtype=np.float64)
    cn_arr = np.asarray(cent_norms, dtype=np.float64)
    cid_arr = np.asarray([int(c) for c, _ in cents], dtype=np.int64)
    kk = C.shape[0]
    if kk:
        # process centroids in ascending-cid order: the struct ordering
        # breaks score ties to the SMALLER cid VALUE, and np.argmin picks
        # the first index — ascending order makes those identical (cid
        # values are unsorted in the untrained-IVF sampled codebook)
        order0 = np.argsort(cid_arr, kind="stable")
        C, cn_arr, cid_arr = C[order0], cn_arr[order0], cid_arr[order0]
    # a row whose scores are ALL null (len != dim) or ALL NaN (zero norms)
    # resolves to the minimum cid value under the struct ordering (nulls
    # first / NaN ties -> cid comparison)
    first_cid = int(cid_arr[0]) if kk else None
    vec_dt = df.schema[vec_col].dataType
    fields = []
    if with_id:
        fields.append(T.StructField(idname, df.schema[id_col].dataType))
    fields += [
        T.StructField(f"{idname}_vec", T.ArrayType(T.DoubleType())),
        T.StructField(f"{idname}_nrm", T.DoubleType()),
        # long, not int: untrained-IVF codebooks carry corpus ids as cids
        T.StructField("cid", T.LongType()),
    ]
    out_schema = T.StructType(fields)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            vs = pdf["_v"]
            good = np.fromiter(
                (v is not None and len(v) == dim for v in vs),
                dtype=bool,
                count=n,
            )
            V = np.zeros((n, dim))
            if good.any():
                V[good] = (
                    np.array([np.asarray(v) for v in vs[good]])
                    .astype(np.float64)
                    .reshape(int(good.sum()), dim)
                )
            nrm = np.zeros(n)
            D = np.zeros((n, kk)) if kk else np.zeros((n, 0))
            for k2 in range(dim):
                nrm = nrm + V[:, k2] * V[:, k2]
                if kk:
                    D = D + V[:, k2][:, None] * C[:, k2][None, :]
            nrm = np.sqrt(nrm)
            if kk:
                with np.errstate(divide="ignore", invalid="ignore"):
                    negs = (-D) / (nrm[:, None] * cn_arr[None, :])
                negs = np.where(np.isnan(negs), np.inf, negs)
                cids = cid_arr[np.argmin(negs, axis=1)]
            else:
                cids = np.zeros(n, dtype="int64")
            # rows whose vector is NULL or not dim-long: the expression
            # path's dot nulls out -> (null, cid) structs -> nulls-first
            # min -> FIRST centroid id; their norm is the own-length fold
            nrm_mask = np.zeros(n, dtype=bool)
            for i3 in np.nonzero(~good)[0]:
                v = vs.iloc[i3]
                if v is None:
                    nrm_mask[i3] = True
                    continue
                acc = 0.0
                for x in np.asarray(v, dtype=np.float64):
                    acc = acc + x * x
                nrm[i3] = np.sqrt(acc)
            if first_cid is not None and (~good).any():
                cids[~good] = first_cid
            data = {}
            if with_id:
                data[idname] = pdf["_id"]
            data[f"{idname}_vec"] = vs
            data[f"{idname}_nrm"] = pd.arrays.FloatingArray(nrm, nrm_mask)
            data["cid"] = cids
            yield pd.DataFrame(data)

    cols = [F.col(vec_col).cast("array<double>").alias("_v")]
    if with_id:
        cols = [F.col(id_col).alias("_id")] + cols
    return df.select(*cols).mapInPandas(gen, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: Optional[list[list[float]]] = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse quantize, probe lists.

    Every vector is assigned to its nearest centroid (one 'list'); a query
    scans only its ``n_probe`` nearest lists. The candidate scan becomes an
    equi-join on list id — the 100 TB replacement for the cross join.

    ``centroids`` takes a trained codebook (see kmeans_centroids; list ids
    are the codebook indices). Default: a deterministic md5-ordered sample
    of the corpus (portable — the DuckDB oracle reproduces the same pick);
    the IVF mechanics are identical either way, and the codebook is always
    driver-side metadata of size O(n_lists · dim) broadcast into the
    assignment expressions below.
    """
    import math

    if centroids is not None:
        cents = [(i, list(c)) for i, c in enumerate(centroids)]
    else:
        cents = [
            (r.cid, list(r.cvec))
            for r in corpus.select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).cast("array<double>").alias("cvec"),
                F.md5(F.col(id_col).cast("string")).alias("h"),
            )
            .orderBy("h", "cid")
            .limit(n_lists)
            .select("cid", "cvec")
            .collect()
        ]
    if not cents:
        # empty corpus (or an untrainable codebook): no lists, no neighbors —
        # an empty result with the contract schema, not an unresolvable
        # zero-arm array() expression
        from pyspark.sql import types as T

        return corpus.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        "query_id", queries.schema[id_col].dataType
                    ),
                    T.StructField(
                        "neighbor_id", corpus.schema[id_col].dataType
                    ),
                    T.StructField("cosine_sim", T.DoubleType()),
                ]
            ),
        )
    _check_codebook_size(len(cents), max(len(v) for _, v in cents))
    cent_norms = [math.sqrt(sum(x * x for x in v)) or 1.0 for _, v in cents]

    def assign(df: DataFrame, idname: str, n: int) -> DataFrame:
        # PLAN NOTE: list assignment is pure expression-side — one projection
        # computing n_lists dot products against literal centroid vectors,
        # then an array argmax. The previous implementation cross-joined the
        # corpus with the broadcast centroids and ranked with a Window
        # partitioned by vector id: a full shuffle of n_lists× the corpus
        # just to take an argmax. This version has NO Exchange at all.
        base = df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).cast("array<double>").alias(f"{idname}_vec"),
        ).withColumn("_nrm", norm(F.col(f"{idname}_vec")))
        sims = F.array(
            *[
                F.struct(
                    (
                        -dot(
                            F.col(f"{idname}_vec"),
                            F.array(*[F.lit(float(x)) for x in cvec]),
                        )
                        / (F.col("_nrm") * F.lit(cn))
                    ).alias("neg"),
                    F.lit(cid).alias("cid"),
                )
                for (cid, cvec), cn in zip(cents, cent_norms)
            ]
        )
        if n == 1:
            out = base.select(
                idname,
                f"{idname}_vec",
                F.col("_nrm").alias(f"{idname}_nrm"),
                F.array_min(sims)["cid"].alias("cid"),
            )
        else:
            # the sims array is the generator input itself (evaluated once
            # per row); sibling columns are plain attributes, so nothing
            # heavy collapses into the Generate (cf. dedup.py PLAN NOTEs).
            # explode_outer + post-filter, NOT plain explode:
            # InferFiltersFromGenerate would infer size(...)>0 BELOW the
            # Generate and predicate pushdown expands the whole sims
            # expression into that filter (re-evaluating n_lists dot
            # products per row) — the same measured pathology the runner
            # pattern avoids.
            out = base.select(
                idname,
                f"{idname}_vec",
                F.col("_nrm").alias(f"{idname}_nrm"),
                F.explode_outer(
                    F.slice(F.array_sort(sims), 1, n)["cid"]
                ).alias("cid"),
            ).filter(F.col("cid").isNotNull())
        return out

    # corpus assignment as ONE vectorized Arrow pass (assign_cids_arrow —
    # bit-exact to the array_min struct ordering; the n_lists interpreted
    # dot folds per row dominated the query), spread off the
    # file-layout-bound scan first. Queries stay on the expression path
    # (tiny, broadcast, and they need the n_probe sorted-slice shape).
    # Mixed-length codebooks (impossible from the sampled/trained builders
    # but allowed by the signature) keep the expression path.
    cent_dims = {len(v) for _, v in cents}
    if len(cent_dims) == 1:
        corpus_lists = assign_cids_arrow(
            _spread(corpus.select(id_col, vec_col)),
            id_col,
            vec_col,
            "neighbor_id",
            cents,
            cent_norms,
            cent_dims.pop(),
        )
    else:
        corpus_lists = assign(
            _spread(corpus.select(id_col, vec_col)), "neighbor_id", 1
        )
    query_lists = F.broadcast(assign(queries, "query_id", n_probe))
    # each corpus vector lives in exactly ONE list, so a (query, neighbor)
    # pair occurs at most once — no dedup shuffle needed; with the broadcast
    # list join and the map-side phase-1 of two_phase_topk, the corpus side
    # has NO full-row Exchange at all
    cands = corpus_lists.join(query_lists, "cid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # per-VECTOR norms hoisted out of the per-PAIR expression (the
    # brute_force_topk treatment, CLAUDE.md): assign() already computes
    # norm(vec) once per vector for the centroid sims and now carries it
    # through the join, so scoring runs ONE dot fold per pair instead of
    # dot + two norm folds; dot/(qn*cn) is the same op order cosine()
    # ran, so the double is bit-identical
    scored = cands.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("query_id_vec"), F.col("neighbor_id_vec"))
            / (F.col("query_id_nrm") * F.col("neighbor_id_nrm"))
        ).alias("cosine_sim"),
    )
    return two_phase_topk(scored, k)


def quantize_embeddings(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 vector quantization — the storage/transport prep for
    a vector index (4x smaller than float32, 8x than float64; IVF/LSH
    candidate scoring works on int8 with the per-vector scale).

    Per vector: absmax = max|x_i|, codes q_i = floor(x_i * 127 / absmax
    + 0.5) ∈ [-127, 127] (half-up — floor(+0.5) rather than a
    rounding-mode builtin, so every step is a single IEEE op both engines
    evaluate identically), dequantized value = q_i * absmax / 127. Emits
    per-vector quality alongside the codes:

      (id, dim, absmax_e9, codes, max_err_ratio_e6)

    where max_err_ratio = max_i |x_i*127/absmax − q_i| ≤ 0.5 by
    construction (a larger value means the quantizer is broken — the
    validation invariant), and absmax_e9 = floor(absmax * 1e9). Zero/empty
    vectors emit dim with NULL absmax/codes (nothing to scale — feed them
    to validate_embeddings, which flags them upstream).

    100 TB shape: pure per-row expression work (transform/aggregate inside
    codegen'd projections, max is order-independent so no fold-order
    pinning needed), zero shuffle, zero Python.
    """
    from .dedup import bind

    vc = F.col(vec_col).cast("array<double>")

    # nested let-bindings (dedup.bind): HOF lambda bodies re-evaluate their
    # subtrees PER ELEMENT, so both the vector and its absmax must be bound
    # once per row or the per-element code/err lambdas go O(dim^2)
    def _over_vec(v: Column) -> Column:
        raw_absmax = F.array_max(F.transform(v, F.abs))

        def _over_absmax(am0: Column) -> Column:
            am = F.when(am0 > 0, am0)  # NULL for zero/empty vectors

            def _over_codes(codes: Column) -> Column:
                err = F.array_max(
                    F.zip_with(
                        v,
                        codes,
                        lambda x, q: F.abs(x * F.lit(127.0) / am - q),
                    )
                )
                return F.struct(
                    F.size(v).cast("bigint").alias("dim"),
                    F.floor(am * F.lit(1e9)).cast("bigint").alias("absmax_e9"),
                    F.when(am.isNotNull(), codes).alias("codes"),
                    F.floor(err * F.lit(1e6))
                    .cast("bigint")
                    .alias("max_err_ratio_e6"),
                )

            codes = F.transform(
                v,
                lambda x: F.floor(x * F.lit(127.0) / am + F.lit(0.5)).cast(
                    "int"
                ),
            )
            return bind(codes, _over_codes)

        return bind(raw_absmax, _over_absmax)

    out = df.select(F.col(id_col), bind(vc, _over_vec).alias("_q"))
    return out.select(
        id_col, "_q.dim", "_q.absmax_e9", "_q.codes", "_q.max_err_ratio_e6"
    )


def quantized_topk(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Brute-force top-k over int8-QUANTIZED vectors — the search half of
    quantize_embeddings (both inputs are its output shape: (id, codes,
    absmax_e9); vectors with NULL codes — zero/empty — are skipped on both
    sides).

    score(q, d) = idot(q.codes, d.codes) · scale_q · scale_d with
    scale = absmax_e9 · 1e-9 / 127 — i.e. the dot product of the
    DEQUANTIZED vectors, computed as one exact integer dot (|idot| ≤
    dim · 127² — exact in int64 and in float64 up to 2^53) times two
    stored scales, in a FIXED multiply order so both engines produce
    bit-identical doubles. Ties break by neighbor id.

    100 TB shape: queries broadcast (query sets are small); the corpus
    scan reads codes + one bigint instead of float vectors — a 4-8x
    narrower scan, which is the point of a quantized index; then the same
    bounded two-phase top-k as brute_force_topk (state O(k·partitions)
    per query, never the candidate set).
    """
    q = F.broadcast(
        queries_q.filter(F.col("codes").isNotNull()).select(
            F.col("vec_id").alias("query_id"),
            F.col("codes").alias("qc"),
            F.col("absmax_e9").alias("qs"),
        )
    )
    c = corpus_q.filter(F.col("codes").isNotNull()).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("codes").alias("dc"),
        F.col("absmax_e9").alias("ds"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("dc"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scale = lambda e9: e9.cast("double") * F.lit(1e-9) / F.lit(127.0)  # noqa: E731
    score = (idot.cast("double") * scale(F.col("qs"))) * scale(F.col("ds"))
    scored = c.join(q, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", score.alias("cosine_sim")
    )
    out = two_phase_topk(scored, k)
    return out.select(
        "query_id", "neighbor_id", F.col("cosine_sim").alias("score")
    )


def unit_norm_embeddings(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """L2 unit normalization — the cosine-similarity prep every embedding
    pipeline runs before indexing (after it, dot product == cosine, so
    the ANN index skips per-pair norm work).

    Float discipline (the quantize_embeddings contract): the squared-sum
    folds LEFT in index order from 0.0, sqrt and each per-component
    division are single IEEE ops — any engine reproduces the normalized
    vector bit-exactly. Zero/empty vectors emit NULL norm and NULL unit
    vector (nothing to scale).

    Output: (id, dim, norm_e9, unit) with norm_e9 = floor(norm·1e9).

    100 TB shape: pure per-row expression work inside codegen'd
    projections (the vector and its norm are let-bound once per row —
    HOF lambda bodies re-evaluate subtrees per element), zero shuffle,
    zero Python.
    """
    from .dedup import bind

    vc = F.col(vec_col).cast("array<double>")

    def _over_vec(v: Column) -> Column:
        ss = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)

        def _over_norm(n0: Column) -> Column:
            n = F.when(n0 > 0, F.sqrt(n0))  # NULL for zero/empty vectors
            return F.struct(
                F.size(v).alias("dim"),
                F.floor(n * F.lit(1e9)).cast("bigint").alias("norm_e9"),
                bind(n, lambda nn: F.when(
                    nn.isNotNull(), F.transform(v, lambda x: x / nn)
                )).alias("unit"),
            )

        return bind(ss, _over_norm)

    out = df.select(F.col(id_col), bind(vc, _over_vec).alias("_s"))
    return out.select(
        id_col,
        F.col("_s.dim").alias("dim"),
        F.col("_s.norm_e9").alias("norm_e9"),
        F.col("_s.unit").alias("unit"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    query (anchor), the k most-similar corpus vectors whose ``group_col``
    DIFFERS from the anchor's — the near-miss negatives that teach a
    metric model its decision boundary (in-batch random negatives are
    trivially far at scale; hard ones carry the gradient signal).

    Same-group candidates (potential positives) and self-matches are
    excluded with a null-safe compare, so NULL-labeled rows are mutual
    negatives of everything, including each other. Ties break by
    neighbor id. Returns (query_id, neighbor_id, cosine_sim).

    100 TB shape: identical to ``brute_force_topk`` — anchors broadcast,
    ONE corpus scan, and the group filter prunes candidates BEFORE the
    bounded two-phase top-k (O(k·partitions) state per anchor, never the
    candidate set). For anchor sets too big to broadcast, run per-shard.
    """
    # per-VECTOR norms hoisted out of the per-PAIR expression (the
    # brute_force_topk treatment): one dot fold per surviving pair instead
    # of dot + two norm folds; dot/(qn*cn) is cosine()'s exact op order,
    # so the double is bit-identical
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.col(group_col).alias("qg"),
            norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col(group_col).alias("cg"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    scored = c.join(
        q,
        (F.col("query_id") != F.col("neighbor_id"))
        & ~F.col("qg").eqNullSafe(F.col("cg")),
    ).select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("qvec"), F.col("cvec"))
            / (F.col("_qn") * F.col("_cn"))
        ).alias("cosine_sim"),
    )
    return two_phase_topk(scored, k)


def centroid_outliers(
    df: DataFrame,
    centroids: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_e6: int = 2_000_000,
) -> DataFrame:
    """Embedding-space outlier detection: squared L2 distance to the
    NEAREST codebook centroid, flagged when the e6-quantized distance
    exceeds ``threshold_e6`` — the garbage-embedding probe (corrupt
    decodes, OOD inputs, collapsed encoders) run before vectors enter an
    ANN index or a SemDeDup pass.

    Distance math is fixed-order per centroid: ``(ssv − 2·dot) + ssc``
    with the vector's squared norm let-bound ONCE per row and each
    centroid's squared norm a Python-float literal; argmin ties break on
    the lower centroid index (lexicographic struct min). Output:
    (id, cid, dist2_e6, outlier).

    100 TB shape: pure expression-side projection — the codebook rides as
    plan literals (``_check_codebook_size`` guard), one corpus scan, zero
    joins/shuffles/Python; cost O(k·dim) per row, the IVF-assignment
    shape.
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    _check_codebook_size(len(centroids), max(len(c) for c in centroids))
    from .dedup import bind

    cents = [[float(x) for x in c] for c in centroids]
    ss_c = [sum(x * x for x in c) for c in cents]

    def _assign(v: Column) -> Column:
        ssv = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)

        def _over_ssv(sv: Column) -> Column:
            best = F.array_min(
                F.array(
                    *[
                        F.struct(
                            (
                                (sv - F.lit(2.0) * dot(v, F.array(*map(F.lit, c))))
                                + F.lit(ss_c[i])
                            ).alias("d2"),
                            F.lit(i).cast("bigint").alias("cid"),
                        )
                        for i, c in enumerate(cents)
                    ]
                )
            )
            return F.struct(
                best["cid"].alias("cid"),
                F.floor(best["d2"] * F.lit(1e6)).cast("bigint").alias("dist2_e6"),
            )

        return bind(ssv, _over_ssv)

    out = df.select(
        F.col(id_col),
        bind(F.col(vec_col).cast("array<double>"), _assign).alias("_a"),
    )
    return out.select(
        id_col,
        F.col("_a.cid").alias("cid"),
        F.col("_a.dist2_e6").alias("dist2_e6"),
    ).withColumn("outlier", F.col("dist2_e6") > F.lit(int(threshold_e6)))


def dimension_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**9,
) -> DataFrame:
    """Per-DIMENSION embedding health profile — the whitening/PCA prep
    and the dead-dim / scale-drift probe (a collapsed encoder shows up as
    dimensions with zero variance; a fine-tune gone wrong as a few
    dimensions dwarfing the rest).

    All aggregates are EXACT integers over e9-quantized components
    (float sums across rows are partition-order-dependent; integer sums
    are not — the engine-portability rule every cross-row float reduction
    here follows): (dim, n, n_zero, sum_q, sum_sq_q, min_q, max_q,
    dead = min_q == max_q). Means/variances divide out downstream at
    whatever precision the consumer wants.

    100 TB shape: posexplode_outer (rule-safe generator) → ONE
    partial-aggregated groupBy(dim) — state is |dims| rows per task, the
    shuffle carries |dims| partials per partition; no windows, no joins.
    """
    q = F.floor(F.col("x") * F.lit(float(scale))).cast("bigint")
    g = (
        df.select(
            F.posexplode_outer(F.col(vec_col).cast("array<double>")).alias(
                "dim", "x"
            )
        )
        .filter(F.col("x").isNotNull())
        .select(F.col("dim").cast("bigint").alias("dim"), q.alias("xq"),
                F.col("x"))
    )
    sq = F.floor(F.col("x") * F.col("x") * F.lit(float(scale))).cast("bigint")
    return (
        g.select("dim", "xq", sq.alias("x2q"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("xq") == 0).cast("bigint")).cast("bigint").alias("n_zero"),
            F.sum("xq").cast("bigint").alias("sum_q"),
            F.sum("x2q").cast("bigint").alias("sum_sq_q"),
            F.min("xq").cast("bigint").alias("min_q"),
            F.max("xq").cast("bigint").alias("max_q"),
        )
        .withColumn("dead", F.col("min_q") == F.col("max_q"))
    )


def class_prototypes(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**9,
) -> DataFrame:
    """Per-class embedding prototypes — the nearest-class-mean building
    block (few-shot heads, per-domain centroids for SemDeDup, drift
    probes comparing a class's prototype across snapshots). Emits one row
    per (label, dim) with exact integer aggregates over e9-quantized
    components: (label, dim, n, sum_q, mean_q = sum_q div n) — the
    ``dimension_profile`` order-independence rule, applied per class
    (float means across rows depend on partition order; integer sums
    don't).

    NULL labels are kept as their own class (they often ARE the
    interesting cohort). Zero/NULL vectors contribute nothing. ``mean_q``
    truncates toward zero (Spark ``div``; sums go negative — DuckDB's
    ``//`` FLOORS, so the oracle reconstructs truncation as
    ``(sum_q - sum_q % n) // n``).

    100 TB shape: posexplode_outer (rule-safe) → ONE partial-aggregated
    groupBy(label, dim); state per task ≤ |classes|·|dims| longs.
    """
    g = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode_outer(F.col(vec_col).cast("array<double>")).alias(
                "dim", "x"
            ),
        )
        .filter(F.col("x").isNotNull())
        .select(
            "label",
            F.col("dim").cast("bigint").alias("dim"),
            F.floor(F.col("x") * F.lit(float(scale))).cast("bigint").alias("xq"),
        )
    )
    return (
        g.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xq").cast("bigint").alias("sum_q"),
        )
        .withColumn("mean_q", F.expr("sum_q div n"))
    )


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    mutual_only: bool = False,
) -> DataFrame:
    """k-NN GRAPH over the corpus itself — the adjacency every
    graph-based curation step starts from (label propagation, UMAP/graph
    clustering, coreset selection): canonical undirected edges
    (id_a < id_b, cosine_sim) from each vector's top-k, with ``mutual`` =
    true iff BOTH endpoints rank each other (mutual-kNN edges are the
    noise-robust subset — a hub that one-sidedly attracts distant points
    doesn't get mutual edges). ``mutual_only=True`` keeps just those.

    Edge sim is bit-identical from either direction (the dot fold is the
    same ascending-index order, multiplication commutes), so the
    direction merge is an exact groupBy, not a float dedup.

    100 TB shape: this entry point scores with brute_force_topk (the
    exact O(n²) oracle twin — labeled small-scale like the other exact
    paths); at scale generate the directed top-k with lsh_topk / ivf_topk
    (same (query_id, neighbor_id, cosine_sim) contract) and reuse
    knn_edges_from_topk below — the canonicalize + direction-count
    groupBy is |directed edges| = n·k rows, map-side combinable.
    """
    return knn_edges_from_topk(
        brute_force_topk(df, df, id_col, vec_col, k), mutual_only
    )


def knn_edges_from_topk(nn: DataFrame, mutual_only: bool = False) -> DataFrame:
    """Canonicalize a directed (query_id, neighbor_id, cosine_sim) top-k
    frame into undirected (id_a, id_b, cosine_sim, mutual) edges."""
    e = nn.select(
        F.least("query_id", "neighbor_id").alias("id_a"),
        F.greatest("query_id", "neighbor_id").alias("id_b"),
        "cosine_sim",
    )
    out = (
        e.groupBy("id_a", "id_b")
        .agg(
            F.max("cosine_sim").alias("cosine_sim"),
            F.count(F.lit(1)).alias("_n_dirs"),
        )
        .withColumn("mutual", F.col("_n_dirs") == 2)
        .drop("_n_dirs")
    )
    return out.filter(F.col("mutual")) if mutual_only else out


def kcenter_coreset(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    start_id: "int | None" = None,
) -> DataFrame:
    """Greedy k-CENTER (farthest-first) coreset selection — the classic
    diversity subset for labeling budgets / eval carving / prototype
    pools: start from ``start_id`` (default: smallest id), then k−1 times
    pick the vector FARTHEST (cosine distance 1 − cos) from everything
    chosen so far. A 2-approximation of the optimal k-center cover.

    Determinism: every distance is the engine-exact ascending-index fold
    (the caption/outlier oracles' replay contract — Python's left-to-right
    center-norm sum runs the same IEEE adds), and the argmax is ONE
    max(struct(min_dist, −id)) aggregate — full-precision total order
    with smallest-id ties, reproducible at any parallelism.

    100 TB shape: the (id, vec, norm) base is persisted once; each round
    is one codegen projection (least of the running min-dist and the
    distance to the newest center — k×dim literals ride the plan, the
    kmeans codebook convention) + one 1-row argmax aggregate. The
    re-read min-dist frame is persisted per round and the superseded one
    released (the documented convention for re-read iterative frames) —
    k driver barriers total, no shuffle anywhere.

    Output: (pick_order, center_id, dist_e6) — dist_e6 the e6-floored
    min-distance the pick was made at (NULL for the start vector).
    """
    import math

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            norm(F.col(vec_col)).alias("n"),
        )
        .persist()
    )
    n_rows = base.count()
    if n_rows == 0:
        base.unpersist()
        return df.sparkSession.createDataFrame(
            [], "pick_order bigint, center_id bigint, dist_e6 bigint"
        )
    if start_id is None:
        start_id = base.agg(F.min("vid")).collect()[0][0]
    picks = [(0, int(start_id), None)]
    cur = int(start_id)
    state = None
    for j in range(1, min(k, n_rows)):
        cvec = base.filter(F.col("vid") == cur).select("v").collect()[0][0]
        acc = 0.0
        for x in cvec:  # Spark's norm fold order exactly
            acc += x * x
        cnorm = math.sqrt(acc)
        d = F.lit(1.0) - dot(
            F.col("v"), F.array(*[F.lit(float(x)) for x in cvec])
        ) / (F.col("n") * F.lit(cnorm))
        mind = d if state is None else F.least(F.col("mind"), d)
        new_state = base.join(
            state.select("vid", "mind"), "vid"
        ).select("vid", "v", "n", mind.alias("mind")) if state is not None \
            else base.select("vid", "v", "n", mind.alias("mind"))
        new_state = new_state.persist()
        row = new_state.agg(
            F.max(
                F.struct(F.col("mind"), (-F.col("vid")).alias("negid"))
            ).alias("w")
        ).collect()[0]["w"]
        if state is not None:
            state.unpersist()
        state = new_state
        cur = int(-row["negid"])
        picks.append((j, cur, int(math.floor(row["mind"] * 1e6))))
    if state is not None:
        state.unpersist()
    base.unpersist()
    return df.sparkSession.createDataFrame(
        picks, "pick_order bigint, center_id bigint, dist_e6 bigint"
    )
