"""Sequence packing: lay documents end-to-end and split the token stream
into fixed-size chunks (the standard LLM-pretraining pack step: concat,
then chunk to the context length).

Expression/window-side only — no Python in the hot path. The window runs
per ``stream`` (a shard key), which is what makes this scale: at 100 TB
you pack within shards (files, domains, hash buckets), never one global
ordering, so each window is bounded and streams pack in parallel. A doc
longer than the chunk size spans several chunks (it is split, as in
pretraining), so every token lands in exactly one chunk.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pack_chunks(
    df: DataFrame,
    id_col: str,
    tokens_col: Column,
    cap: int,
    stream_col: Optional[Column] = None,
) -> DataFrame:
    """One row per (doc, chunk) overlap under concat-then-chunk packing.

    Docs are ordered by ``id_col`` within each stream; doc i occupies the
    half-open token span [cumsum - tokens_i, cumsum) of its stream, and the
    stream is cut every ``cap`` tokens. Output columns:

      stream, doc_id, chunk_id, begin, end, n_tokens

    where [begin, end) is the doc's span INSIDE chunk ``chunk_id`` (so
    0 <= begin < end <= cap and n_tokens = end - begin). Zero-token docs
    are dropped (they occupy no span). Deterministic given unique ids.
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    stream = (stream_col if stream_col is not None else F.lit(0)).alias(
        "stream"
    )
    base = df.select(
        stream, F.col(id_col).alias("doc_id"), tokens_col.alias("tok")
    ).filter(F.col("tok") > 0)
    w = Window.partitionBy("stream").orderBy("doc_id")
    spans = base.select(
        "stream",
        "doc_id",
        "tok",
        (F.sum("tok").over(w) - F.col("tok")).alias("s"),
        F.sum("tok").over(w).alias("e"),
    )
    # chunks spanned: floor(s/cap) .. floor((e-1)/cap); e > s so the
    # sequence is never empty — explode_outer + post-filter anyway (the
    # rule-safe explode flavor, see CLAUDE.md on InferFiltersFromGenerate)
    spans = spans.select(
        "stream",
        "doc_id",
        "s",
        "e",
        F.explode_outer(
            F.sequence(
                F.expr(f"s DIV {cap}"), F.expr(f"(e - 1) DIV {cap}")
            )
        ).alias("chunk_id"),
    ).filter(F.col("chunk_id").isNotNull())
    off = F.col("chunk_id") * F.lit(cap)
    begin = F.greatest(F.col("s") - off, F.lit(0))
    end = F.least(F.col("e") - off, F.lit(cap))
    return spans.select(
        "stream",
        "doc_id",
        "chunk_id",
        begin.alias("begin"),
        end.alias("end"),
        (end - begin).alias("n_tokens"),
    )


# the SDXL-style default bucket ladder: portrait -> square -> landscape
_DEFAULT_LADDER = ((1, 2), (9, 16), (3, 4), (1, 1), (4, 3), (16, 9), (2, 1))


def aspect_bucket_batches(
    df: DataFrame,
    id_col: str,
    w_col: str,
    h_col: str,
    ladder=_DEFAULT_LADDER,
    batch_size: int = 64,
    n_shards: int = 8,
) -> DataFrame:
    """Aspect-ratio bucketing + fixed-size batch packing for image training.

    Multimodal training batches images of similar aspect ratio together
    (resize within a bucket keeps distortion bounded; mixed ratios waste
    pixels on padding). Each image is assigned the ``ladder`` ratio
    closest to w/h, then packed into deterministic ``batch_size`` batches
    within (bucket, shard). Output columns:

      <id_col>, bucket, ratio_w, ratio_h, shard, batch_id, slot, batch_rows

    where ``bucket`` indexes the ladder, ``slot`` is the image's position
    in its batch, and ``batch_rows`` counts the batch's rows (the final
    batch of each (bucket, shard) may be partial — filter
    ``batch_rows = batch_size`` for full batches only).

    Engine-exact by construction, so a SQL oracle can replay it:
    closeness is argmin over |w/h − rw/rh|, computed as the INTEGER
    |w·rh − h·rw| · (L/rh) with L = lcm of ladder denominators (common
    scale, no float division); ties break to the first ladder entry
    (chained first-match). The shard is the md5-low32 of the id modulo
    ``n_shards`` — the repo's engine-portable hash.

    Scale shape: no global ordering anywhere — the only shuffle is the
    window's hash partitioning on (bucket, shard), so parallelism is
    buckets × shards and each window sorts one shard, not the corpus.
    Size ``n_shards`` to the cluster (shards are independent batch
    streams, the way training jobs shard their data loaders anyway).
    """
    import math

    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive, got {batch_size}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    lcm = 1
    for _, rh in ladder:
        lcm = lcm * rh // math.gcd(lcm, rh)
    w = F.col(w_col).cast("bigint")
    h = F.col(h_col).cast("bigint")
    dists = [
        F.abs(w * F.lit(rh) - h * F.lit(rw)) * F.lit(lcm // rh)
        for rw, rh in ladder
    ]
    m = F.least(*dists)
    bucket = F.when(dists[0] == m, F.lit(0))
    for i in range(1, len(ladder)):
        bucket = bucket.when(dists[i] == m, F.lit(i))
    shard = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % F.lit(n_shards)
    )
    base = df.select(
        F.col(id_col),
        bucket.cast("bigint").alias("bucket"),
        shard.alias("shard"),
    )
    win = Window.partitionBy("bucket", "shard").orderBy(id_col)
    rn = (F.row_number().over(win) - F.lit(1)).cast("bigint")
    packed = base.select(
        id_col,
        "bucket",
        "shard",
        rn.alias("rn0"),
    ).select(
        id_col,
        "bucket",
        "shard",
        F.expr(f"rn0 div {int(batch_size)}").cast("bigint").alias("batch_id"),
        (F.col("rn0") % F.lit(batch_size)).cast("bigint").alias("slot"),
    )
    bwin = Window.partitionBy("bucket", "shard", "batch_id")
    rw_arr = F.array(*[F.lit(rw).cast("bigint") for rw, _ in ladder])
    rh_arr = F.array(*[F.lit(rh).cast("bigint") for _, rh in ladder])
    return packed.select(
        id_col,
        "bucket",
        F.get(rw_arr, F.col("bucket").cast("int")).alias("ratio_w"),
        F.get(rh_arr, F.col("bucket").cast("int")).alias("ratio_h"),
        "shard",
        "batch_id",
        "slot",
        F.count(F.lit(1)).over(bwin).cast("bigint").alias("batch_rows"),
    )


def sliding_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int,
    stride: int,
) -> DataFrame:
    """Per-document sliding-window token chunks with overlap — the RAG /
    long-context chunker (split each doc into ``size``-token windows every
    ``stride`` tokens; tail chunk may be short but always reaches the
    document end, so every token lands in ≥1 chunk and consecutive chunks
    overlap by ``size - stride`` tokens).

    n_chunks = 1 + ceil(max(0, n - size) / stride). Output one row per
    chunk: (doc_id, chunk_id, begin, n_chunk_tokens, chunk_text), begin
    0-based in tokens. Zero-token docs emit no row. Requires
    0 < stride <= size (gapless coverage).

    Plan shape: tokenization runs ONCE per document inside a let-``bind``
    (HOFs re-evaluate lambda-body subtrees per element — CLAUDE.md), the
    whole chunk struct is built INSIDE the generator (no heavy sibling
    beside its own explode), and explode_outer + post-null-filter keeps
    InferFiltersFromGenerate from expanding the expression into a pushed
    filter. Zero shuffle: a pure per-row flatMap, so it scales with the
    scan at 100 TB.
    """
    from ..compiler import bind
    from ..dedup import tokens

    if stride <= 0 or stride > size:
        raise ValueError(
            f"need 0 < stride <= size, got stride={stride} size={size}"
        )

    def _chunks(toks: Column) -> Column:
        n = F.size(toks)
        n_chunks = F.lit(1) + (
            F.greatest(n - F.lit(size), F.lit(0)) + F.lit(stride - 1)
        ).cast("long") / F.lit(stride)
        n_chunks = F.floor(n_chunks).cast("int")

        def _one(j: Column) -> Column:
            begin = j.cast("long") * F.lit(stride)
            piece = F.slice(toks, (begin + 1).cast("int"), size)
            return F.struct(
                j.cast("long").alias("chunk_id"),
                begin.alias("begin"),
                F.size(piece).cast("long").alias("n_chunk_tokens"),
                F.concat_ws(" ", piece).alias("chunk_text"),
            )

        arr = F.transform(F.sequence(F.lit(0), n_chunks - F.lit(1)), _one)
        return F.when(n > 0, arr)

    gen = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(bind(tokens(F.col(text_col)), _chunks)).alias("c"),
    ).filter(F.col("c").isNotNull())
    return gen.select(
        "doc_id", "c.chunk_id", "c.begin", "c.n_chunk_tokens", "c.chunk_text"
    )
