"""Sequential shard assignment — the WebDataset/tar-shard manifest step of
a training-data pipeline: lay the corpus out in key order and cut it into
fixed-size shards, so a trainer can stream shard files sequentially.

The naive formulation is a GLOBAL row_number() — a single-partition sort
that caps out at one task however big the cluster. This module uses the
classic two-phase distributed rank instead:

1. range-partition by the key (sampled boundaries, parallel sort),
2. count rows per range partition (one tiny aggregate — n_partitions rows
   on the driver, not data),
3. window-rank WITHIN each partition and add the partition's exclusive
   prefix-sum offset (a literal map, no join, no second shuffle).

Every heavy step is parallel across the range partitions; the only
driver-side state is the n_partitions-entry offset map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import spill


def sequential_positions(
    df: DataFrame, key_col: str, n_partitions: int = 32, order_cols=None
) -> DataFrame:
    """df + a 1-based global position ``pos`` in ``key_col`` order (or in
    ``order_cols`` order when given — key_col still names the identity
    column), without a global sort. Ties get arbitrary but contiguous
    positions.

    The returned frame's lineage includes a persist()ed range-partitioned
    parent: the offsets were computed FROM that exact partitioning, so a
    recomputation through a re-sampled exchange could disagree. Consumers
    must materialize (or spill) their result and then
    ``unpersist_positions(pos_df)`` — shard_manifest below does exactly
    that with spill.materialize.
    """
    order_cols = [key_col] if order_cols is None else list(order_cols)
    part = (
        df.repartitionByRange(n_partitions, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    # tiny: one row per range partition
    counts = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        off_map = F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        )
    else:
        # empty input: a zero-arg create_map() is map<void,void> and
        # map()[_pid] fails analysis — use a typed empty map (same guard
        # as grouped_shard_manifest below)
        off_map = F.map_from_arrays(
            F.array().cast("array<int>"), F.array().cast("array<int>")
        )
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    )
    out = part.withColumn(
        "pos", (off_map[F.col("_pid")] + local).cast("bigint")
    ).drop("_pid")
    out._ndto_persisted_parent = part  # for unpersist_positions
    return out


def unpersist_positions(pos_df: DataFrame) -> None:
    parent = getattr(pos_df, "_ndto_persisted_parent", None)
    if parent is not None:
        parent.unpersist()


def shard_manifest(
    df: DataFrame,
    key_col: str,
    shard_size: int,
    n_partitions: int = 32,
) -> DataFrame:
    """Cut the key-ordered corpus into shards of ``shard_size`` rows and
    emit one manifest row per shard: (shard_id, n_rows, first_key,
    last_key). The manifest is what a downstream writer consumes to emit
    `shard-%06d.tar`-style files; it is deterministic in the key order
    regardless of how the ranks were parallelized (shard aggregates depend
    only on global positions, and duplicate keys straddling a shard cut
    contribute the same min/max either way).

    100 TB shape: range-partitioned parallel sort + per-partition window +
    one partial-agg groupBy on shard_id (≈ rows/shard_size groups). The
    small manifest is spilled (spill.materialize) so the persisted rank
    parent can be released immediately — the returned frame holds no
    cache and no live dependence on the sampled partitioning.
    """
    if shard_size <= 0:
        raise ValueError(f"shard_size must be positive, got {shard_size}")
    pos = sequential_positions(df, key_col, n_partitions=n_partitions)
    out = (
        pos.withColumn(
            "shard_id",
            F.floor((F.col("pos") - 1) / F.lit(shard_size)).cast("bigint"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(key_col).alias("first_key"),
            F.max(key_col).alias("last_key"),
        )
    )
    try:
        return spill.materialize(out, "shards")
    finally:
        unpersist_positions(pos)


def grouped_shard_manifest(
    df: DataFrame,
    group_cols,
    key_col: str,
    shard_size: int,
    n_partitions: int = 32,
) -> DataFrame:
    """STRATIFIED shard manifest: an independent key-ordered shard
    sequence per group (per-language WebDataset shards, per-source tar
    sets). Same two-phase distributed rank as shard_manifest, with the
    offset map keyed by (group, range-partition): range partitioning on
    (group, key) keeps each group's rows on a contiguous partition span,
    so the per-(group, partition) exclusive prefix sums (a tiny driver
    map) convert partition-local ranks into per-group global positions.

    Output: (group..., shard_id, n_rows, first_key, last_key); shard_id
    restarts at 0 within every group.
    """
    if shard_size <= 0:
        raise ValueError(f"shard_size must be positive, got {shard_size}")
    gc = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    part = (
        df.repartitionByRange(
            n_partitions, *[F.col(c) for c in gc], F.col(key_col)
        )
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = (
        part.groupBy(*gc, "_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # exclusive prefix sum per group over partition ids
    by_group: dict = {}
    for r in counts:
        g = tuple(r[c] for c in gc)
        by_group.setdefault(g, []).append((r["_pid"], r["n"]))
    offsets: dict = {}
    for g, lst in by_group.items():
        acc = 0
        for pid, n in sorted(lst):
            offsets[(g, pid)] = acc
            acc += n
    # literal map keyed by a string of (group..., pid) — groups × pids is
    # driver-tiny by construction
    sep = "\x1f"
    key_expr = F.concat_ws(
        sep, *[F.col(c).cast("string") for c in gc], F.col("_pid")
    )
    if offsets:
        off_map = F.create_map(
            *[
                F.lit(x)
                for (g, pid), off in sorted(
                    offsets.items(), key=lambda kv: (str(kv[0][0]), kv[0][1])
                )
                for x in (sep.join([*(str(v) for v in g), str(pid)]), off)
            ]
        )
    else:
        # empty input: a zero-arg create_map() is map<string,string> and
        # the `+ row_number` below fails analysis — use a typed empty map
        off_map = F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<int>")
        )
    from pyspark.sql import Window

    local = F.row_number().over(
        Window.partitionBy("_pid", *gc).orderBy(F.col(key_col))
    )
    pos = part.withColumn(
        "_pos", (off_map[key_expr] + local).cast("bigint")
    )
    out = (
        pos.withColumn(
            "shard_id",
            F.floor((F.col("_pos") - 1) / F.lit(shard_size)).cast("bigint"),
        )
        .groupBy(*gc, "shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(key_col).alias("first_key"),
            F.max(key_col).alias("last_key"),
        )
    )
    try:
        return spill.materialize(out, "shards")
    finally:
        part.unpersist()


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    epoch: int,
    seed: int = 42,
    n_partitions: int = 32,
) -> DataFrame:
    """Deterministic per-EPOCH global shuffle order — the training-loader
    reshuffle: position = rank of md5(key ":epoch:seed") (ties broken by
    key, so the order is total). A pure function of (corpus membership,
    epoch, seed): every worker, engine, and cluster size derives the SAME
    permutation for an epoch, and different epochs give independent
    permutations — no materialized shuffle files, no RNG state to ship.

    Output: (key, bucket, pos) with pos a 1..n bijection in (bucket, key)
    order. Feed pos to shard_manifest-style cutting (or floor((pos-1)/
    shard_size) directly) for per-epoch shard layouts.

    100 TB shape: the same two-phase distributed rank as
    sequential_positions — range-partitioned parallel sort on the salted
    bucket + per-partition window + an n_partitions-entry literal offset
    map; no global single-task sort anywhere. Same persisted-parent
    contract: call unpersist_positions(result) after materializing.
    """
    from ..dedup import md5_low32

    if epoch < 0:
        raise ValueError(f"epoch must be >= 0, got {epoch}")
    salted = md5_low32(
        F.concat_ws(
            ":",
            F.col(key_col).cast("string"),
            F.lit(str(int(epoch))),
            F.lit(str(int(seed))),
        )
    )
    base = df.select(F.col(key_col), salted.alias("bucket"))
    return sequential_positions(
        base, key_col, n_partitions=n_partitions,
        order_cols=["bucket", key_col],
    )
