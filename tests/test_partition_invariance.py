"""Results must not depend on how the input is partitioned.

The cluster analog: the same table arrives as 1 file on a laptop or 10,000
splits on a 1,000-executor cluster — every deterministic operator must
produce the identical result set. Each case runs one operator over the
same rows at 1, 5, and 32 partitions and compares full result multisets.
(Operators with documented nondeterminism — approx sketches, float
aggregation order — are covered by their invariant gates instead.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ndto_spark import dedup
from ndto_spark.functions.packing import pack_chunks
from ndto_spark.functions.sampling import (
    deterministic_sample,
    filter_top_fraction,
)
from ndto_spark.functions.text import fingerprint, token_counts

PARTS = (1, 5, 32)


def _docs(spark, parts):
    from ndto_spark.fixtures import synth_documents

    return synth_documents(spark, 400, n_partitions=parts, seed=7)


def _collect_set(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_invariant(spark, op):
    ref = None
    for p in PARTS:
        got = _collect_set(op(_docs(spark, p)))
        if ref is None:
            ref = got
            assert len(ref) > 0
        else:
            assert got == ref, f"result changed at n_partitions={p}"


def test_deterministic_sample_partition_invariant(spark):
    _assert_invariant(
        spark, lambda d: deterministic_sample(d, "doc_id", 0.37, seed=5)
    )


def test_exact_dedup_partition_invariant(spark):
    _assert_invariant(
        spark, lambda d: dedup.exact_dedup_groups(d, "doc_id", "text")
    )


def test_minhash_pairs_partition_invariant(spark):
    _assert_invariant(
        spark,
        lambda d: dedup.minhash_lsh_pairs(
            d, "doc_id", "text", verify_threshold=0.5
        ).select("id_a", "id_b"),
    )


def test_near_dup_groups_partition_invariant(spark):
    def op(d):
        pairs = dedup.minhash_lsh_pairs(
            d, "doc_id", "text", verify_threshold=0.5
        )
        return dedup.near_dup_groups(d, pairs, "doc_id")

    _assert_invariant(spark, op)


def test_simhash_partition_invariant(spark):
    _assert_invariant(
        spark,
        lambda d: dedup.simhash_dup_candidates(d, "doc_id", "text").withColumn(
            "example_ids", F.col("example_ids").cast("string")
        ),
    )


def test_fingerprint_token_counts_partition_invariant(spark):
    _assert_invariant(spark, lambda d: fingerprint(d, "doc_id", "text"))
    _assert_invariant(spark, lambda d: token_counts(d, "doc_id", "text"))


def test_pack_chunks_partition_invariant(spark):
    _assert_invariant(
        spark,
        lambda d: pack_chunks(
            d,
            id_col="doc_id",
            tokens_col=F.size(F.split("text", " ")),
            cap=64,
            stream_col=(F.col("doc_id") % 4),
        ),
    )


def test_filter_top_fraction_exact_partition_invariant(spark):
    _assert_invariant(
        spark,
        lambda d: filter_top_fraction(
            d.withColumn("score", F.length("text")),
            F.col("score"), 0.3, "doc_id",
            stratum_col=(F.col("doc_id") % 3),
        ),
    )


def test_assign_splits_partition_invariant(spark):
    from ndto_spark.functions.sampling import assign_splits

    _assert_invariant(
        spark,
        lambda d: assign_splits(
            d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ),
    )


def test_dsir_weights_partition_invariant(spark):
    # the ascending-bucket fold makes even the FLOAT weight bit-identical
    # across partitionings (no quantization in this comparison)
    from ndto_spark.functions.text import dsir_weights

    _assert_invariant(
        spark,
        lambda d: dsir_weights(
            d, "doc_id", "text", F.col("doc_id") % 3 == 0, n_buckets=32
        ),
    )
