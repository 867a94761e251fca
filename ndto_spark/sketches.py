"""Portable frequency sketches: count-min sketch + sketch-filtered heavy
hitters.

Companion to ``table_rules.approx_distinct_hll_portable`` (cardinality):
this module covers FREQUENCY. Same engine-portable md5-low32 hashing, so
the DuckDB gate oracles replay every counter bit-exact — the sketch is
deterministic, not a sampled approximation.

Scale design (the 100 TB shapes):

- ``cms_table``: the depth x width counter table built with ONE groupBy
  whose partial aggregation bounds per-task state at d*w counters — the
  map-side combine IS the distributed sketch merge (same argument as the
  grouped HLL, table_rules.py:401). Output is <= d*w rows regardless of
  input size or key cardinality.
- ``heavy_hitters``: the reason a frequency sketch earns its keep. An
  exact ``groupBy(key).count()`` at 100 TB shuffles the ENTIRE key
  universe; the sketch path instead embeds the (tiny) counter table as a
  literal lookup map and filters rows map-side — count-min error is
  one-sided (estimate >= true count, counters only ever over-count on
  collisions), so no heavy key can be filtered out — and only the
  surviving rows reach the exact groupBy. Shuffle volume drops from
  |corpus| to |rows of candidate keys|.

The literal-map embedding mirrors the IVF codebook pattern
(ann.py MAX_CODEBOOK_LITERALS): a multi-thousand-entry Catalyst literal
stalls driver planning, so the size is guarded loudly.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import spill
from .dedup import _spread

# same rationale as ann.MAX_CODEBOOK_LITERALS: the counter table is
# embedded as a literal map in the filter expression; beyond this the
# Catalyst tree itself becomes the bottleneck.
MAX_SKETCH_LITERALS = 65_536


def _check_sketch_size(depth: int, width: int) -> None:
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    if depth * width > MAX_SKETCH_LITERALS:
        raise ValueError(
            f"sketch depth*width = {depth}*{width} = {depth * width} exceeds "
            f"MAX_SKETCH_LITERALS={MAX_SKETCH_LITERALS}: the counter table "
            "is embedded as a literal map in the row-filter expression "
            "(driver planning blowup at this size); use a narrower sketch"
        )


def _h32(value: Column, j: Column) -> Column:
    """md5-low32 of ``"<j>:<value>"`` — the same engine-portable base hash
    as the HLL/minhash families (DuckDB: ``('0x'||substr(md5(..),1,8))::
    BIGINT``). Salting with the row index j gives depth independent hash
    functions."""
    return F.conv(
        F.substring(
            F.md5(F.concat(j.cast("string"), F.lit(":"), value.cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")


def cms_table(
    df: DataFrame, col: str, *, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build the count-min counter table for ``col`` as a DataFrame
    ``(j, pos, cnt)`` with ``j < depth``, ``pos < width``.

    One explode (factor ``depth``, the j index only — the hash is computed
    AFTER the explode so CollapseProject cannot re-evaluate it per
    generated row) and one groupBy whose partial aggregation caps per-task
    state at d*w counters. NULL keys are excluded (they are not countable
    values). The key column is round-robined first (dedup._spread):
    scan parallelism is file-layout-bound, and the depth*|rows| md5 work
    otherwise rides the scan task count (a single-row-group input runs it
    on ONE core); the shuffled payload is one column."""
    _check_sketch_size(depth, width)
    rows = _spread(
        df.where(F.col(col).isNotNull()).select(F.col(col).alias("__v"))
    )
    ex = rows.select(
        "__v",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    )
    pos = _h32(F.col("__v"), F.col("j")) % F.lit(width)
    return (
        ex.select(F.col("j").cast("long").alias("j"), pos.alias("pos"))
        .groupBy("j", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_collect(cms: DataFrame, *, depth: int, width: int) -> list[tuple]:
    """Collect a counter table to the driver as ``[(j, pos, cnt), ...]`` —
    <= depth*width rows by construction (guarded), the same driver-side
    footprint class as the k-means codebook (ann.py)."""
    _check_sketch_size(depth, width)
    return [(r["j"], r["pos"], r["cnt"]) for r in cms.collect()]


def cms_estimate_col(
    entries: Sequence[tuple], key: Column, *, depth: int, width: int
) -> Column:
    """Expression-side count-min point estimate for ``key``: the min over
    the depth rows of the (literal) counter map — zero shuffle, pure
    codegen, usable as a per-row filter at any corpus size.

    ``entries`` is ``cms_collect`` output. Keys absent from the sketch
    estimate 0 (``try_element_at`` + coalesce; never an ANSI OOB throw)."""
    _check_sketch_size(depth, width)
    if not entries:
        return F.lit(0).cast("long")
    # DENSE literal array, not a literal map: element lookup on an
    # array-based map literal is a LINEAR scan of all d*w entries per call
    # (depth lookups/row made the 4x1024 sketch filter the dominant cost of
    # the scan stage); a constant-folded array indexes in O(1). Absent
    # positions hold the same 0 the map path coalesced to.
    dense = [0] * (depth * width)
    for j, pos, cnt in entries:
        dense[int(j) * width + int(pos)] = int(cnt)
    arr = F.array(*[F.lit(c) for c in dense])
    ests = [
        F.coalesce(
            F.try_element_at(
                arr,
                (
                    F.lit(j * width) + (_h32(key, F.lit(j)) % F.lit(width))
                ).cast("int")
                + F.lit(1),
            ),
            F.lit(0),
        )
        for j in range(depth)
    ]
    return F.least(*ests) if depth > 1 else ests[0]


def heavy_hitters(
    df: DataFrame,
    col: str,
    threshold: int,
    *,
    depth: int = 4,
    width: int = 1024,
    exact: bool = False,
) -> DataFrame:
    """Keys whose EXACT count >= ``threshold``, as ``(col, n)``.

    ``exact=True`` is the oracle twin: plain two-phase
    ``groupBy(col).count()`` + filter — correct anywhere, but at 100 TB it
    shuffles the whole key universe.

    The sketch path (default) returns the IDENTICAL result set by
    construction: (1) build + collect the d*w counter table, (2) filter
    corpus rows map-side on the literal-map estimate — count-min
    over-counts on collision and never under-counts, so every truly-heavy
    key survives — and (3) run the exact count only over surviving rows.
    Collisions cost extra candidates (more rows into step 3), never
    correctness. Width tuning: false-candidate mass ~ N*depth/width per
    counter; at 100 TB pick width so step 3's input stays a small fraction
    of the corpus."""
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    rows = df.where(F.col(col).isNotNull())
    if exact:
        return (
            rows.groupBy(col)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= F.lit(threshold))
        )
    # Hash ONCE: the sketch build and the estimate filter use the same
    # depth salted hashes per row, and the md5+conv chain is the dominant
    # per-row cost (oracle-pinned — it cannot change, but it need not run
    # twice). The (key, pos_0..pos_{d-1}) frame spills to a run-scoped
    # temp parquet (the near_dup_groups lineage pattern): the build job
    # aggregates counters from it, the filter job re-reads it with the
    # positions precomputed. _spread first — both passes otherwise ride
    # the scan's file-layout-bound task count.
    pos_cols = [
        ((_h32(F.col(col), F.lit(j)) % F.lit(width)).cast("int")).alias(
            f"_p{j}"
        )
        for j in range(depth)
    ]
    hashed = spill.materialize(
        _spread(rows.select(col)).select(F.col(col), *pos_cols), "cmspos"
    )
    # counter table from the precomputed positions — identical (j, pos)
    # stream to cms_table's explode-then-hash
    cms = (
        hashed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).cast("long").alias("j"),
                            F.col(f"_p{j}").cast("long").alias("pos"),
                        )
                        for j in range(depth)
                    ]
                )
            ).alias("jp")
        )
        .select("jp.j", "jp.pos")
        .groupBy("j", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    entries = cms_collect(cms, depth=depth, width=width)
    dense = [0] * (depth * width)
    for j, pos, cnt in entries:
        dense[int(j) * width + int(pos)] = int(cnt)
    arr = F.array(*[F.lit(c) for c in dense])
    ests = [
        F.coalesce(
            F.try_element_at(
                arr, F.col(f"_p{j}") + F.lit(j * width + 1)
            ),
            F.lit(0),
        )
        for j in range(depth)
    ]
    est = F.least(*ests) if depth > 1 else ests[0]
    survivors = hashed.filter(est >= F.lit(threshold))
    return (
        survivors.groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= F.lit(threshold))
    )
