"""Record linkage: blocked fuzzy (edit-distance) matching.

The all-pairs formulation of "find rows whose key is within edit distance
d" is O(n²) and dead at scale. The classic fix is BLOCKING: only compare
rows that share a cheap block key (a prefix, a length band, a phonetic
code), turning the cross join into an equi-join whose fan-out is the block
size — the same shape as every LSH family in dedup.py, with levenshtein as
the verify step instead of Jaccard.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import spill


def prefix_block(length: int) -> Callable[[Column], Column]:
    def key(col: Column) -> Column:
        return F.substring(col, 1, length)

    return key


def suffix_block(length: int) -> Callable[[Column], Column]:
    def key(col: Column) -> Column:
        return F.substring(col, -length, length)

    return key


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    block: Optional[Callable[[Column], Column]] = None,
) -> DataFrame:
    """Join rows whose string keys are within ``max_dist`` Levenshtein
    edits, comparing only within blocks. Returns all left columns + all
    right columns (caller guarantees disjoint names) + ``dist``.

    RECALL CAVEAT (standard for blocked linkage): an edit INSIDE the block
    key moves the row to a different block and the pair is missed — e.g.
    the default 4-char prefix block catches edits at positions ≥ 5 only.
    Full recall for max_dist=1 needs a multi-pass union (prefix_block +
    suffix_block); this function is one pass so callers control the
    block/recall trade-off explicitly.

    100 TB shape: equi-join on the block key (shuffle bounded by block
    fan-out — pick a block with small occupancy, exactly like an LSH band
    join) + a JVM-side levenshtein verify; no cross join anywhere.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    blk = block or prefix_block(4)
    l2 = left.withColumn("_blk", blk(F.col(left_col)))
    r2 = right.withColumn("_blk", blk(F.col(right_col)))
    j = l2.join(r2, "_blk").drop("_blk")
    dist = F.levenshtein(F.col(left_col), F.col(right_col))
    return j.withColumn("dist", dist.cast("int")).filter(
        F.col("dist") <= max_dist
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
    n_partitions: int = 32,
) -> DataFrame:
    """Sorted-Neighborhood Method (SNM) record-linkage candidates —
    blocking's classic complement (Hernández & Stolfo): sort the corpus
    on the match key and pair every row with its next ``window``
    neighbors in sort order. Where ``fuzzy_join``'s block key misses
    edits INSIDE the block, SNM catches any pair the sort brings close —
    the two are run as a union in production linkage.

    Determinism: the sort key is (key, zero-padded id) — unique — so the
    global order, hence the candidate set, is bit-reproducible at any
    parallelism (ids must be non-negative; the pad keeps lexicographic ==
    numeric order). Output: (id_a, key_a, id_b, key_b, dist) with dist =
    levenshtein(key_a, key_b), one row per ordered neighbor pair.

    100 TB shape: the global rank is the TWO-PHASE distributed rank
    (range partition → per-partition counts → window + literal offsets —
    no single-task sort); candidates come from ONE equi-join on
    rank+offset after a window-sized explode (fan-out = ``window``, the
    LSH-band shape). The pair table is spilled (spill.materialize) so the
    rank's persisted parent releases immediately.
    """
    from .sharding import sequential_positions, unpersist_positions

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    base = df.select(
        F.col(id_col).alias("rid"),
        F.col(key_col).alias("rkey"),
        F.concat_ws(
            "\x1f",
            F.col(key_col),
            F.lpad(F.col(id_col).cast("string"), 20, "0"),
        ).alias("_sk"),
    )
    pos = sequential_positions(base, "_sk", n_partitions=n_partitions)
    a = pos.select(
        F.col("rid").alias("id_a"), F.col("rkey").alias("key_a"),
        F.col("pos").alias("_pa"),
    )
    probes = a.select(
        "id_a", "key_a", "_pa",
        F.explode(F.sequence(F.lit(1), F.lit(int(window)))).alias("_o"),
    ).select(
        "id_a", "key_a", (F.col("_pa") + F.col("_o")).alias("_pb")
    )
    b = pos.select(
        F.col("rid").alias("id_b"), F.col("rkey").alias("key_b"),
        F.col("pos").alias("_pb"),
    )
    out = probes.join(b, "_pb").select(
        "id_a", "key_a", "id_b", "key_b",
        F.levenshtein(F.col("key_a"), F.col("key_b")).cast("int").alias("dist"),
    )
    try:
        return spill.materialize(out, "snm")
    finally:
        unpersist_positions(pos)
