"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline. The
  query side is collected to the driver and the corpus streams through the
  vector kernel below; ``two_phase_topk`` keeps the per-query top-k with
  O(k · partitions) state.
- ``lsh_topk``: the scale path — random-hyperplane LSH buckets shrink the
  candidate set before the exact re-rank. Recall is tunable via
  (num_planes, num_tables).
- ``ivf_topk``: coarse-quantizer lists; both sides are assigned by the
  vector kernel, candidates meet on an equi-join of list ids.

The vector kernel (``_scan``) is the one Arrow path for every cosine and
projection scorer here and in ``dedup.semantic_decontaminate``. A big side
streams through ``mapInPandas`` against a driver-side matrix ``W``; each
batch decodes into a dense (n, d) float64 block plus a validity mask and
accumulates V·Wᵀ and the row norms in ASCENDING index order — the left
fold of ``dot``/``norm``, so every score is bit-identical to the
expression fold (never np.dot/@/einsum: BLAS reorders the sums). Contract:

- ids keep their native Spark type; vectors are cast to array<double> in
  Spark before the kernel;
- a row is valid iff it is non-NULL, exactly d long and has no NULL
  element; a pair with an invalid side scores NULL (a zero norm still
  gives NaN, where the ANSI fold raises DIVIDE_BY_ZERO);
- argmin/top-n follow Spark's (score, cid) struct order: NULL first, NaN
  last, ties to the smaller cid;
- a driver side with mixed lengths splits into uniform-length blocks, and
  a pair scorer's side splits further into blocks of at most
  max(MAX_DRIVER_QUERIES, 1) rows — one scan per block, unioned before
  the top-k or per-id aggregation.
"""

from __future__ import annotations

import functools
import random
from typing import Callable, NamedTuple, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .compiler import bind
from .dedup import _spread
from .pyworker import settle

# largest driver-side block a pair scorer embeds in one scan; a bigger
# query/eval side is scored in blocks of this many rows
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


class _Block(NamedTuple):
    """One uniform-length slice of the driver-side matrix."""

    W: np.ndarray  # (m, d) float64; zero rows where invalid
    ok: np.ndarray  # (m,) row validity
    norms: np.ndarray  # (m,) ascending-fold row norms
    keys: list  # per-row payload, in row order


def _row_norms(M):
    import numpy as np

    acc = np.zeros(M.shape[0])
    for i in range(M.shape[1]):
        acc = acc + M[:, i] * M[:, i]
    return np.sqrt(acc)


def _fold(V, W):
    """V·Wᵀ accumulated in ascending index order (dot's left fold)."""
    import numpy as np

    acc = np.zeros((V.shape[0], W.shape[0]))
    for i in range(V.shape[1]):
        acc = acc + V[:, i][:, None] * W[:, i][None, :]
    return acc


def _decode(vs, nn, d: int):
    """A pandas Series of arrays -> (dense (n, d) float64 block, validity
    mask). ``nn`` says the row has no NULL element (Arrow hands NULL
    elements over as NaN, so Spark computes it); invalid rows stay zero."""
    import numpy as np

    ok = nn & np.fromiter(
        (v is not None and len(v) == d for v in vs), dtype=bool, count=len(vs)
    )
    V = np.zeros((len(vs), d))
    if ok.any():
        V[ok] = np.stack(vs[ok].to_list())
    return V, ok


def _blocks(rows: list, cap: Optional[int] = None) -> "list[_Block]":
    """Driver-side (key, vector) rows -> uniform-length blocks, each at
    most max(cap, 1) rows when a cap is given. NULL vectors join the
    length-0 block as invalid rows."""
    import numpy as np

    by_len: dict = {}
    for key, v in rows:
        by_len.setdefault(0 if v is None else len(v), []).append((key, v))
    out = []
    for d, rs in sorted(by_len.items()):
        step = len(rs) if cap is None else max(cap, 1)
        for s in range(0, len(rs), step):
            part = rs[s : s + step]
            ok = np.array(
                [v is not None and None not in v for _, v in part], dtype=bool
            )
            W = np.zeros((len(part), d))
            for i, (_, v) in enumerate(part):
                if ok[i]:
                    W[i] = v
            out.append(_Block(W, ok, _row_norms(W), [k for k, _ in part]))
    return out


def _scan(
    df: DataFrame,
    vec_col: str,
    cols: "list[Column]",
    groups: "list[list[_Block]]",
    body: Callable,
    schema: T.StructType,
) -> DataFrame:
    """The vector kernel's launcher: one ``mapInPandas`` over ``df`` per
    group of blocks, unioned. Each batch reaches ``body(pdf, parts)`` with
    one ``(block, ok, V·Wᵀ, row norms)`` part per block of its group;
    ``pdf`` holds ``cols`` plus ``_v`` (the vectors as array<double>) and
    ``_nn`` (no NULL element).

    A pandas batch turns a long column that holds a NULL into float64,
    which rounds ids above 2^53. So each nullable long column of ``cols``
    ships as a NULL-free long plus its NULL mask, and a batch with a NULL
    gets it back as exact Python ints (object dtype, None for NULL)."""
    groups = [g for g in groups if g]
    if not groups:
        return df.sparkSession.createDataFrame([], schema)
    v = F.col(vec_col)
    src = df.select(
        *cols,
        v.cast("array<double>").alias("_v"),
        F.coalesce(
            F.forall(v, lambda x: x.isNotNull()), F.lit(False)
        ).alias("_nn"),
    )
    longs = [
        f.name
        for f in src.schema.fields[: len(cols)]
        if isinstance(f.dataType, T.LongType) and f.nullable
    ]
    if longs:
        src = src.select(
            *(
                F.coalesce(F.col(c), F.lit(0)).alias(c) if c in longs else c
                for c in src.columns
            ),
            *(F.col(c).isNull().alias(f"_null{c}") for c in longs),
        )

    def kernel(blocks):
        def run(batches):
            settle()
            for pdf in batches:
                for c in longs:
                    null = pdf.pop(f"_null{c}").to_numpy(dtype=bool)
                    if null.any():
                        ids = pdf[c].to_numpy(dtype=object)
                        ids[null] = None
                        pdf[c] = ids
                vs, nn = pdf["_v"], pdf["_nn"].to_numpy(dtype=bool)
                parts = []
                for b in blocks:
                    V, ok = _decode(vs, nn, b.W.shape[1])
                    parts.append((b, ok, _fold(V, b.W), _row_norms(V)))
                yield body(pdf, parts)

        return run

    frames = [src.mapInPandas(kernel(g), schema) for g in groups]
    return functools.reduce(DataFrame.union, frames)


def _cosine(
    big: DataFrame,
    vec_col: str,
    cols: "list[Column]",
    rows: list,
    emit: Callable,
    schema: T.StructType,
) -> DataFrame:
    """Cosine of every ``big`` row against every driver-side (key, vector)
    row: ``emit(pdf, block, sims, null)`` turns one block's (n, m) scores
    and NULL mask into output rows."""
    import numpy as np

    def body(pdf, parts):
        ((b, ok, acc, vn),) = parts
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = acc / (vn[:, None] * b.norms[None, :])
        return emit(pdf, b, sims, ~(ok[:, None] & b.ok[None, :]))

    groups = [[b] for b in _blocks(rows, MAX_DRIVER_QUERIES)]
    return _scan(big, vec_col, cols, groups, body, schema)


def _eq_null_safe(a, b: list):
    """(n, m) ``a <=> b`` of a pandas Series against a list of values."""
    import numpy as np
    import pandas as pd

    an = a.isna().to_numpy()[:, None]
    bv = np.asarray(b, dtype=object)
    bn = pd.isna(bv)[None, :]
    eq = a.to_numpy(dtype=object)[:, None] == bv[None, :]
    return (an & bn) | (eq & ~an & ~bn)


def _neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Per-query cosine top-k over the pairs with distinct non-NULL ids
    (and, given ``group_col``, groups that differ null-safely)."""
    import numpy as np
    import pandas as pd

    g = [group_col] if group_col else []
    rows = [
        ((r[0], r[2] if group_col else None), r[1])
        for r in queries.select(
            id_col, F.col(vec_col).cast("array<double>"), *g
        ).collect()
        if r[0] is not None
    ]
    schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def emit(pdf, b, sims, null):
        qid = np.asarray([q for q, _ in b.keys])
        nid = pdf["_id"]
        keep = nid.notna().to_numpy()[:, None] & (
            nid.to_numpy()[:, None] != qid[None, :]
        )
        if group_col:
            keep &= ~_eq_null_safe(pdf["_g"], [x for _, x in b.keys])
        r, c = np.nonzero(keep)
        return pd.DataFrame(
            {
                "query_id": qid[c],
                "neighbor_id": nid.iloc[r].reset_index(drop=True),
                "cosine_sim": pd.arrays.FloatingArray(sims[r, c], null[r, c]),
            }
        )

    cols = [F.col(id_col).alias("_id")] + [F.col(c).alias("_g") for c in g]
    src = _spread(corpus.select(id_col, vec_col, *g))
    return two_phase_topk(_cosine(src, vec_col, cols, rows, emit, schema), k)


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
    Scores come from the vector kernel (module docstring): the query side
    is collected and the corpus, spread off the file-layout-bound scan,
    streams through one scan per query block.
    """
    return _neighbors(corpus, queries, id_col, vec_col, k)


def two_phase_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of a (query_id, neighbor_id, cosine_sim) frame.

    PLAN NOTE: two-phase top-k. A single groupBy(query).collect_list (or a
    global Window over all candidates) holds the ENTIRE candidate set per
    query in one reducer (partial aggregation merges but never truncates
    collect_list) — O(|candidates|) state per key. Phase 1
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


def lsh_buckets_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    idname: str,
    tables: "list[list[list[float]]]",
) -> DataFrame:
    """(idname, bucket) rows — one per table per vector, bucket
    ``"{table}:{signature}"`` — from the vector kernel: every plane's
    projection is one column of V·Wᵀ, bit j of a table's signature is
    ``projection_j > 0`` (NaN -> 0). An invalid vector (NULL, a NULL
    element, or not plane-length) gets signature 0 in every table."""
    import numpy as np
    import pandas as pd

    table_of = np.asarray([t for t, ps in enumerate(tables) for _ in ps])
    bit = np.asarray([1 << j for ps in tables for j in range(len(ps))])
    ntab = len(tables)
    schema = T.StructType(
        [
            T.StructField(idname, df.schema[id_col].dataType),
            T.StructField("bucket", T.StringType()),
        ]
    )

    def body(pdf, parts):
        # an invalid row decodes to zeros: every projection is 0, no bit set
        ((_, _, proj, _),) = parts
        n = len(pdf)
        bits = np.where(proj > 0, bit[None, :], 0)
        sigs = np.zeros((n, ntab), dtype=np.int64)
        for t in range(ntab):
            sigs[:, t] = bits[:, table_of == t].sum(axis=1)
        ids = pdf["_id"].iloc[np.repeat(np.arange(n), ntab)]
        buckets = [f"{t}:{sigs[r, t]}" for r in range(n) for t in range(ntab)]
        return pd.DataFrame(
            {idname: ids.reset_index(drop=True), "bucket": buckets}
        )

    planes = [(None, p) for ps in tables for p in ps]
    return _scan(
        df, vec_col, [F.col(id_col).alias("_id")], [_blocks(planes)], body,
        schema,
    )


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
    # both). Bucketing runs in the vector kernel (lsh_buckets_arrow).
    def bucket_ids(df: DataFrame, idname: str) -> DataFrame:
        return lsh_buckets_arrow(df, id_col, vec_col, idname, tables)

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


# A codebook rides every assignment task (the vector kernel) or the plan
# itself as k x dim LITERAL vectors (centroid_outliers) — right for a
# COARSE codebook (k ≤ a few hundred), but a caller passing k in the
# thousands would stall driver planning or bloat every task with no
# warning. Fail loudly instead; for
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

    Each iteration is ONE Spark job: nearest-centroid assignment in the
    vector kernel (assign_cids_arrow, no shuffle, as ivf_topk assigns)
    followed by a groupBy(cid) with per-dimension avg aggregates
    (codegen'd, partial map-side combine). Only
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
        assigned = assign_cids_arrow(
            base, "vid", "vec", "x", list(enumerate(cents)), norms,
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
    with_id: bool = True,
    top_n: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment from the vector kernel: ``(idname,
    idname_vec, idname_nrm, cid)``, ``top_n`` rows per input row (its
    ``top_n`` nearest lists, nearest first).

    ``cents`` holds (list id, vector) pairs; list ids may be any orderable
    type (ivf_topk's sampled codebook uses corpus ids) and come out as
    their dense rank, a long, so equal ids share a list. Scores are
    ``(-dot) / (nrm · cent_norm)`` ordered as Spark orders the (score,
    list id) struct: NULL first (a vector invalid against a centroid's
    length), NaN last, ties to the smaller list id. ``idname_nrm`` is the
    vector's own-length norm fold, NULL for a NULL vector or one with a
    NULL element. ``with_id=False`` drops the id column (the Lloyd's loop
    needs only (cid, vec))."""
    import numpy as np
    import pandas as pd

    order = sorted(
        range(len(cents)), key=lambda i: (cents[i][0] is not None, cents[i][0])
    )
    rank: dict = {}
    cid_of = np.asarray(
        [rank.setdefault(cents[i][0], len(rank)) for i in order], dtype=np.int64
    )
    cn = np.asarray([cent_norms[i] for i in order], dtype=np.float64)
    kk = len(order)
    top = min(top_n, kk)
    fields = [T.StructField(idname, df.schema[id_col].dataType)] if with_id else []
    schema = T.StructType(
        fields
        + [
            T.StructField(f"{idname}_vec", T.ArrayType(T.DoubleType())),
            T.StructField(f"{idname}_nrm", T.DoubleType()),
            T.StructField("cid", T.LongType()),
        ]
    )

    def body(pdf, parts):
        vs, nn = pdf["_v"], pdf["_nn"].to_numpy(dtype=bool)
        n = len(pdf)
        neg = np.zeros((n, kk))
        null = np.ones((n, kk), dtype=bool)
        nrm, have = np.zeros(n), np.zeros(n, dtype=bool)
        for b, ok, acc, vn in parts:
            with np.errstate(divide="ignore", invalid="ignore"):
                neg[:, b.keys] = (-acc) / (vn[:, None] * cn[b.keys][None, :])
            null[:, b.keys] = ~(ok[:, None] & b.ok[None, :])
            nrm[ok] = vn[ok]
            have |= ok
        # rows whose length matches no centroid still carry their norm
        for d in {len(v) for v in vs[nn & ~have]}:
            V, ok = _decode(vs, nn, d)
            nrm[ok] = _row_norms(V)[ok]
        nan = np.isnan(neg) & ~null
        best = np.lexsort(
            (np.where(null | nan, 0.0, neg), nan, ~null), axis=1
        )[:, :top]
        rows = np.repeat(np.arange(n), top)
        data = {}
        if with_id:
            data[idname] = pdf["_id"].iloc[rows].reset_index(drop=True)
        data[f"{idname}_vec"] = vs.iloc[rows].reset_index(drop=True)
        data[f"{idname}_nrm"] = pd.arrays.FloatingArray(nrm[rows], ~nn[rows])
        data["cid"] = cid_of[best.reshape(-1)]
        return pd.DataFrame(data)

    cols = [F.col(id_col).alias("_id")] if with_id else []
    blocks = _blocks([(j, cents[i][1]) for j, i in enumerate(order)])
    return _scan(df, vec_col, cols, [blocks], body, schema)


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
    equi-join on list id instead of a cross join.

    ``centroids`` takes a trained codebook (see kmeans_centroids; list ids
    are the codebook indices). Default: a deterministic md5-ordered sample
    of the corpus whose corpus ids are the list ids (portable — the DuckDB
    oracle reproduces the same pick); the IVF mechanics are identical
    either way, and the codebook is always driver-side metadata of size
    O(n_lists · dim) embedded in both assignment scans.
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
        # empty corpus (or an untrainable codebook): no lists, no neighbors
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

    def lists(df: DataFrame, idname: str, top_n: int) -> DataFrame:
        return assign_cids_arrow(
            df, id_col, vec_col, idname, cents, cent_norms, top_n=top_n
        )

    # the corpus assignment is spread off the file-layout-bound scan; the
    # query side is small and broadcast
    corpus_lists = lists(
        _spread(corpus.select(id_col, vec_col)), "neighbor_id", 1
    )
    query_lists = F.broadcast(lists(queries, "query_id", n_probe))
    # each corpus vector lives in exactly ONE list, so a (query, neighbor)
    # pair occurs at most once — no dedup shuffle needed; with the broadcast
    # list join and the map-side phase-1 of two_phase_topk, the corpus side
    # has NO full-row Exchange at all
    cands = corpus_lists.join(query_lists, "cid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # the assignment carries each vector's norm through the join, so
    # scoring runs ONE dot fold per pair; dot/(qn*cn) is the kernel's op
    # order, so the double is bit-identical
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

    Plan shape: pure per-row expression work (transform/aggregate inside
    codegen'd projections, max is order-independent so no fold-order
    pinning needed), zero shuffle, zero Python.
    """
    vc = F.col(vec_col).cast("array<double>")

    # nested let-bindings (compiler.bind): HOF lambda bodies re-evaluate their
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

    Plan shape: queries broadcast (query sets are small); the corpus
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

    Plan shape: pure per-row expression work inside codegen'd
    projections (the vector and its norm are let-bound once per row —
    HOF lambda bodies re-evaluate subtrees per element), zero shuffle,
    zero Python.
    """
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
    trivially far; hard ones carry the gradient signal).

    Same-group candidates (potential positives) and self-matches are
    excluded with a null-safe compare, so NULL-labeled rows are mutual
    negatives of everything, including each other. Ties break by
    neighbor id. Returns (query_id, neighbor_id, cosine_sim).

    Plan shape: identical to ``brute_force_topk`` — anchors collected
    into the vector kernel, ONE corpus scan, and the group mask prunes
    pairs BEFORE the bounded two-phase top-k (O(k·partitions) state per
    anchor, never the candidate set).
    """
    return _neighbors(corpus, queries, id_col, vec_col, k, group_col)


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

    Plan shape: pure expression-side projection — the codebook rides as
    plan literals (``_check_codebook_size`` guard), one corpus scan, zero
    joins/shuffles/Python; cost O(k·dim) per row, the IVF-assignment
    shape.
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    _check_codebook_size(len(centroids), max(len(c) for c in centroids))
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

    Plan shape: posexplode_outer (rule-safe generator) → ONE
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

    Plan shape: posexplode_outer (rule-safe) → ONE partial-aggregated
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

    Plan shape: this entry point scores with brute_force_topk (the
    exact O(n²) oracle twin — labeled small-scale like the other exact
    paths); for large inputs generate the directed top-k with lsh_topk / ivf_topk
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

    Plan shape: the (id, vec, norm) base is persisted once; each round
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
