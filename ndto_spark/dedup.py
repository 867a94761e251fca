"""Deduplication operators over document tables.

Exact (hash-groupBy), n-gram Jaccard similarity join, MinHash+LSH, SimHash,
and embedding-cosine near-dup. Plan shapes:

- exact dedup groups on a 128-bit content hash (md5) — partial aggregation
  makes the shuffle carry one row per distinct hash per map task.
- MinHash signatures are computed ENTIRELY expression-side (no explode, no
  shuffle): per row, ``array_min`` over the shingle array per hash function.
  Only the band keys are exploded (num_bands rows per doc) for the LSH
  bucket join — the classic shingle→minhash→band→bucket-join pipeline with
  candidate verification.
- the naive all-pairs Jaccard join is implemented as an inverted-index join
  on shingles (pair generation bounded by shingle document-frequency), which
  is the correctness oracle for LSH; on large inputs run the MinHash path
  and verify only candidates.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import spill
from .compiler import bind

# universal-hash modulus: the first prime ABOVE 2^32 (the base-hash range).
# The modulus must be comparable to the input range: with a huge modulus
# (e.g. Mersenne-61) and a*x+b < modulus, h(x) is MONOTONE in x and every
# "permutation" selects the same min-crc32 shingle — degenerate signatures
# (observed: 1/32 component agreement at Jaccard 0.57). With p ≈ 2^32 the
# product wraps ~2^30 times and the family mixes properly.
HASH_PRIME = 4294967311  # smallest prime > 2^32


def md5_low32(col: Column) -> Column:
    """Engine-portable 32-bit base hash: the first 8 hex chars of md5.

    Chosen over crc32 so the DuckDB correctness oracles can reproduce the
    MinHash/SimHash pipelines bit-for-bit (DuckDB has md5 + hex casts but no
    crc32): Spark ``conv(substr(md5(x),1,8),16,10)`` ==
    DuckDB ``('0x' || substr(md5(x),1,8))::BIGINT``. Range [0, 2^32), same
    as crc32, so HASH_PRIME stays just above the value range (see above).
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    """Whitespace tokenization, dropping empty tokens."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def word_shingles(col: Column, k: int) -> Column:
    """Distinct k-token shingles (strings) of a text column.

    Docs with fewer than k tokens yield an EMPTY array — guarded
    explicitly: ``sequence(1, 0)`` is a DESCENDING [1, 0] in Spark, whose
    0 start position makes ANSI-mode ``slice`` throw (latent until a
    short-doc corpus hit it). The token array is let-``bind``-ed so the
    per-position slice reads a bound value instead of re-tokenizing."""

    def _sh(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), n - F.lit(k - 1))
        sh = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k))
        )
        return F.when(n >= F.lit(k), F.array_distinct(sh)).otherwise(
            F.array().cast("array<string>")
        )

    return bind(tokens(col), _sh)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content hash: (content_hash, keeper_id, n_copies).

    keeper_id = min id — the deterministic survivor of each duplicate group.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to shuffle.partitions, placed BEFORE a
    CPU-heavy per-row projection.

    Scan-stage task count is bound by FILE layout, not by cores: one
    compact parquet file is ONE task no matter the cluster, so the
    tokenize/shingle/hash projections that sit below a pipeline's
    materialization barrier would run single-task (measured: the whole
    sf0.1 minhash signature computation on 1 of 16 cores — the dominant
    cost of three gate queries). Spreading the raw rows first pins the
    expression work to the post-exchange stage, which always has
    shuffle.partitions tasks. The extra shuffle moves raw rows only.

    A frame whose analyzed plan already is that round-robin
    (``Repartition(n, shuffle=true)`` under only Project/Filter nodes) is
    returned unchanged, so spreading twice costs one exchange."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    if (
        node.nodeName() == "Repartition"
        and node.shuffle()
        and node.numPartitions() == n
    ):
        return df
    return df.repartition(n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.5,
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with k-token-shingle Jaccard ≥ threshold.

    Inverted-index join: explode distinct shingles, self-join on shingle,
    count co-occurrences, then jaccard = |∩| / (|A| + |B| - |∩|).
    Returns (id_a, id_b, jaccard_num, jaccard_den) with the exact integer
    numerator/denominator (engine-independent, no float rounding).

    ``max_shingle_df`` caps shingle document frequency: a shingle shared by
    d docs yields d² join rows, so ONE ubiquitous shingle ("of the and of
    the") makes the self-join quadratic in its DF. Shingles with DF > cap
    are removed from the universe BEFORE the join — both intersections and
    set sizes are computed over the filtered sets (stopword-removal
    semantics, so jaccard stays a true ratio over the kept universe). The
    hot set is tiny by construction and is broadcast into an anti-join. At
    scale, set this; the MinHash+LSH path remains the real scale answer.
    """
    # PLAN NOTE (two parts):
    # 1. the generator input must be the ONLY occurrence of the heavy
    #    shingle expression in its projection — a sibling
    #    size(word_shingles(...)) column collapses into the Generate node
    #    and re-evaluates the shingling per exploded row (measured ~8x at
    #    sf0.1). Shingle counts are instead derived from the exploded rows
    #    (shingles are already distinct per doc).
    # 2. ``ex`` feeds 3-4 branches (DF counts, sizes, both self-join
    #    sides). repartition(shingle) inserts ONE Exchange that
    #    (a) ReuseExchange shares across all branches — the
    #    tokenize+shingle+explode pass runs once, not per branch (measured
    #    ~3x at sf0.1), and (b) pre-partitions both self-join sides and the
    #    DF-count groupBy on their join/group key, so none of them add a
    #    further shuffle of the exploded data.
    rows = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    rows = _spread(rows)  # shingling must not ride the 1-task scan
    # explode_outer (not explode): InferFiltersFromGenerate would infer a
    # size(word_shingles(..)) > 0 filter BELOW a plain Generate and predicate
    # pushdown expands the whole shingling expression into it — re-evaluating
    # tokenize+shingle once more per input row. The rule skips outer
    # generates; the post-explode IS NOT NULL filter restores the semantics.
    ex = (
        rows.select(
            "doc",
            F.explode_outer(word_shingles(F.col("_t"), k)).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .repartition(F.col("shingle"))
    )
    if max_shingle_df is not None:
        hot = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        ex = ex.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = ex.select(F.col("doc").alias("id_a"), "shingle")
    b = ex.select(F.col("doc").alias("id_b"), "shingle")
    pairs = (
        # shuffle_hash: both sides ride the repartition(shingle) exchange;
        # sort-merge would add two full sorts of the shingle strings
        a.join(b.hint("shuffle_hash"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(
            sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.col("inter").alias("jaccard_num"),
            (F.col("na") + F.col("nb") - F.col("inter")).alias("jaccard_den"),
        )
    )
    return pairs.filter(
        F.col("jaccard_num") >= F.lit(threshold) * F.col("jaccard_den")
    )


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing (a*x+b) mod p."""
    import random

    rng = random.Random(seed)
    # a < 2^30 keeps a*crc32 (< 2^62) inside signed-64 under ANSI mode;
    # b spans the full modulus range
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, HASH_PRIME))
        for _ in range(num_hashes)
    ]


def _minhash_base_sigs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    seed: int,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash plumbing: the hashed-shingle frame ``base``
    (doc, hv) and the signature frame ``sigs`` (doc, sig array<bigint>).

    PLAN NOTE: two deliberate materialization barriers (repartition).
    Without them CollapseProject inlines (a) the shingle+crc32 base-hash
    expression into all num_hashes permutation mins, and (b) the whole
    signature expression into the band-explode generator 'bands' times —
    measured ~10x slowdown at sf0.1. The shuffled payloads are tiny
    (doc id + ≤ num_hashes longs per row) and the band-bucket join
    downstream shuffles anyway, so the barriers cost almost nothing.

    PLAN NOTE: signatures as explode_outer + num_hashes min() AGGREGATES,
    not array_min(transform(...)) per hash — higher-order functions are
    interpreted per element (no whole-stage codegen), so 32 HOF passes
    over every shingle array dominated the stage; min() aggregates are
    codegen'd with map-side partial aggregation. base is already hash
    partitioned by doc, so the groupBy adds NO shuffle. explode_outer
    keeps shingle-less docs as a null row → all-null mins, bit-identical
    to array_min over an empty array (and the rule-safe explode flavor,
    see CLAUDE.md). min() skips nulls, so mixed rows are unaffected.
    """
    if num_hashes % bands != 0:
        # ValueError (not assert): the contract must survive python -O
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    rows = _spread(rows)  # shingling must not ride the 1-task scan
    proj = rows.select(
        "doc",
        F.transform(word_shingles(F.col("_t"), k), md5_low32).alias("hv"),
    )
    if materialize:
        # spill the hashed-shingle frame ONCE to a run-scoped temp parquet
        # (the near_dup_groups lineage-truncation pattern): callers whose
        # verify stage consumes ``base`` in a LATER job (after the
        # candidate materialization) would otherwise tokenize+shingle the
        # corpus a second time — cross-job exchange reuse does not exist.
        # Compact (doc, 32-bit hash array) rows only; text never spills.
        proj = spill.materialize(proj, "mhbase")
    base = proj.repartition(F.col("doc"))
    exh = base.select("doc", F.explode_outer("hv").alias("x"))
    params = _hash_params(num_hashes, seed)
    sigs = (
        exh.groupBy("doc")
        .agg(
            *[
                F.min(
                    (F.col("x") * F.lit(a) + F.lit(b)) % F.lit(HASH_PRIME)
                ).alias(f"m{i}")
                for i, (a, b) in enumerate(params)
            ]
        )
        .select(
            "doc",
            F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )
    return base, sigs


def _lsh_candidates(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Band-bucket self-join over the signature frame → distinct candidate
    id pairs (id_a < id_b)."""
    r = num_hashes // bands
    band_idx = list(range(bands))
    banded = sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.md5(
                            F.concat_ws(",", *[F.col("sig")[i * r + j] for j in range(r)])
                        ).alias("bucket"),
                    )
                    for i in band_idx
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.bucket")
    left = banded.select(F.col("doc").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("doc").alias("id_b"), "band", "bucket")
    return (
        # shuffle_hash: skip the sort-merge sorts of both banded streams
        left.join(right.hint("shuffle_hash"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    verify_threshold: Optional[float] = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash LSH banding, optionally verified.

    signature → split into ``bands`` bands of r = num_hashes/bands rows →
    band-bucket join → candidate pairs; when ``verify_threshold`` is set the
    candidates are verified with the EXACT shingle-Jaccard (the false-positive
    filter), so output pairs are true near-dups. False negatives are bounded
    by the (bands, r) S-curve.
    """
    base, sigs = _minhash_base_sigs(
        df, id_col, text_col, k, num_hashes, bands, seed,
        materialize=verify_threshold is not None,
    )
    cands = _lsh_candidates(sigs, num_hashes, bands)
    if verify_threshold is None:
        return cands
    # materialize the (tiny) candidate-pair set ONCE to a run-scoped temp
    # parquet and read it back (the near_dup_groups lineage-truncation
    # pattern): the verify below consumes it from THREE places (the
    # cand-doc broadcast, the pair restriction, and every downstream
    # consumer), and each would otherwise re-execute the whole
    # signature+banding+distinct pipeline — runtime exchange reuse does
    # not bridge these consumers reliably (measured: the full verify ran
    # the candidate pipeline ~3x, 11.2 s vs 7 s with the spill at sf1.0).
    # Reclaimed at interpreter exit (spill.materialize); callers needing
    # the pairs past process exit write their own.
    cands = spill.materialize(cands, "mhcands")
    # verify ONLY the candidate pairs (not the full all-pairs join): restrict
    # the shingle inverted index to candidate docs via a semi-join, compute
    # intersections, and keep candidate pairs above the exact threshold.
    # This is what makes LSH the scale path: exact-Jaccard cost is
    # proportional to |candidates|, not |docs|^2.
    #
    # PLAN NOTE: verification runs over the HASHED shingle universe (the
    # (doc, hv) frame `base` above) — ReuseExchange shares base's shuffle
    # with the signature stage, saving a second tokenize+shingle pass over
    # the full table. Jaccard over md5-32'd distinct shingles differs from
    # string-shingle Jaccard only on 32-bit collisions within a doc pair
    # (~|sh|²/2^33) — far below any usable threshold's resolution. The
    # DuckDB oracle replicates the same hashed universe.
    ex = base.select("doc", F.explode("hv").alias("shingle"))
    cand_docs = cands.select(
        F.explode(F.array("id_a", "id_b")).alias("doc")
    ).distinct()
    ex_c = ex.join(F.broadcast(cand_docs), "doc")
    sizes = ex_c.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        ex_c.select(F.col("doc").alias("id_a"), "shingle")
        .join(ex_c.select(F.col("doc").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(cands, ["id_a", "id_b"])  # candidates only
        .join(
            sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.col("inter").alias("jaccard_num"),
            (F.col("na") + F.col("nb") - F.col("inter")).alias("jaccard_den"),
        )
    )
    return inter.filter(
        F.col("jaccard_num") >= F.lit(verify_threshold) * F.col("jaccard_den")
    )


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    est_threshold: float = 0.5,
) -> DataFrame:
    """Signature-ONLY near-dup pairs: LSH band candidates scored by the
    MinHash Jaccard ESTIMATE — the fraction of agreeing signature
    components (an unbiased estimator of Jaccard, σ ≈ √(J(1−J)/h)) —
    instead of minhash_lsh_pairs' exact shingle verify. This is the
    verify-free scale path: after the signature stage the corpus TEXT is
    never touched again, so the verification cost is |candidates| ×
    num_hashes longs rather than a second pass over the shingle inverted
    index — the right trade when an estimator tolerance is
    acceptable (e.g. dedup at J ≥ 0.8 with h = 128: σ ≈ 0.035).

    Output: (id_a, id_b, n_agree, est_e6) for pairs with
    n_agree/num_hashes ≥ est_threshold, compared as an EXACT integer
    cross-multiply (n_agree·1e6 ≥ threshold_e6·num_hashes — no float
    boundary). est_e6 = (n_agree·1e6) div num_hashes, exact.

    Shingle-less docs carry all-NULL signatures and agree via null-safe
    equality — two empty docs estimate J = 1 (they ARE identical); the
    exact-verify path instead drops them (0/0 Jaccard). Documented
    estimator-vs-verify divergence, same as real MinHash deployments.

    Plan shape: the same single signature Exchange as minhash_lsh_pairs
    (partial-agg min() signatures, band-bucket equi-join); scoring joins
    ship (id, num_hashes longs) only; the component agreement is one
    zip_with/filter pass over two bounded arrays per CANDIDATE pair.
    """
    _, sigs = _minhash_base_sigs(
        df, id_col, text_col, k, num_hashes, bands, seed
    )
    cands = _lsh_candidates(sigs, num_hashes, bands)
    sa = sigs.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    thr_e6 = int(round(est_threshold * 1_000_000))
    n_agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x.eqNullSafe(y)),
            lambda b: b,
        )
    ).cast("bigint")
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_agree.alias("n_agree"),
            F.floor(n_agree * F.lit(1_000_000) / F.lit(num_hashes))
            .cast("bigint")
            .alias("est_e6"),
        )
        .filter(
            F.col("n_agree") * F.lit(1_000_000)
            >= F.lit(thr_e6) * F.lit(num_hashes)
        )
    )


def apply_dedup(
    df: DataFrame,
    groups: DataFrame,
    id_col: str,
    keeper_col: str = "keeper_id",
) -> DataFrame:
    """The 'apply' step: keep exactly the keeper row of every group.

    ``groups`` is any frame carrying a ``keeper_col`` — the output of
    exact_dedup_groups (one row per content hash) or near_dup_groups (one
    row per doc). Left-semi join on the keeper ids, so the kept table keeps
    its full schema and the join never widens rows; the keeper set
    shuffles once (or broadcasts when the dedup rate is high enough that
    the keeper list is small — AQE decides).
    """
    keepers = groups.select(F.col(keeper_col).alias("_keeper")).dropDuplicates(
        ["_keeper"]
    )
    return df.join(keepers, df[id_col] == keepers["_keeper"], "left_semi")


def near_dup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int = 20,
    max_driver_pairs: int = 1_000_000,
) -> DataFrame:
    """(id, keeper_id): connected components over a near-dup pair graph.

    Pipelines need "which rows to drop", not just pairs: every doc is
    assigned the MIN id of its connected component (the deterministic
    keeper, matching exact_dedup_groups' keeper = min id). Singletons keep
    themselves.

    Algorithm: iterative min-label propagation, hybrid plain/doubling,
    over the PAIR-GRAPH VERTICES only (rows outside the graph are
    singletons by definition and rejoin once at the end — the corpus
    never rides the propagation rounds).
    Every round takes label(v) ← min(label(v), min over neighbors of their
    labels); from round ``shortcut_after`` on it additionally shortcuts
    label(v) ← label(label(v)). Near-dup components are small and dense
    (duplicate clusters), so typical inputs converge in the cheap plain
    rounds — one join + partial-aggregated groupBy each, per-round labels
    persist()ed and superseded rounds unpersist()ed, exactly the round-2
    shape. The shortcut rounds are the long-chain insurance: chain depth
    halves per round, so convergence is O(log diameter) overall (measured:
    a 10,000-node path converges in 16 hybrid rounds vs 9,999 plain), so
    one pathological component cannot stall the job, and the extra
    shuffle join + spill is only paid when plain propagation was too slow.
    The driver sees a 1-row convergence probe per round.

    Lineage hygiene in shortcut rounds: the shortcut is a self-join, and
    DeduplicateRelations clones one side — deriving round k+1 from round
    k's *plan* would double the logical tree every round (2^rounds nodes;
    measured driver OOM at 8 rounds). localCheckpoint is banned
    (block-manager leak, see CLAUDE.md), so each shortcut round spills the
    small (id, label) table to parquet in a run-scoped temp dir and reads
    it back — a flat scan plan of constant size. Superseded round files
    are deleted as soon as the next round is materialized. Edges stay
    persist()ed for the loop (upstream pair generation runs once, not once
    per round) and are unpersist()ed on exit.

    Temp-dir lifetime: the RETURNED DataFrame lazily reads the final
    round's parquet, so the run dir must outlive the call when shortcut
    rounds ran — it is removed at interpreter exit (atexit), and eagerly
    on any exception mid-loop (including non-convergence). Callers that
    need the labels past process exit should write them to their own
    storage.
    """
    import atexit
    import os
    import shutil
    import tempfile

    shortcut_after = 4
    spark = df.sparkSession
    # persist the BASE pair set before the symmetrize union: the union has
    # two branches and each would otherwise re-execute the full upstream
    # pair pipeline (minhash + banding + verify) — one materialization, the
    # swapped branch reads the cache (measured ~2x the upstream cost)
    base = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).persist()
    # materialize base EAGERLY: round 0 now has three consumers of the
    # pair set (the two symmetrize branches + the vertex frame below), and
    # branches of one cold job race the cache and re-run the whole
    # upstream pair pipeline per branch (measured +3 s at sf0.1 when the
    # vertex frame landed) — one count() populates the cache before any
    # fan-out reads it
    n_pairs = base.count()
    if n_pairs <= max_driver_pairs:
        # SMALL-GRAPH FAST PATH: near-dup pair graphs are usually a tiny
        # fraction of the corpus (they are the verified
        # near-dup edges, not the corpus), and the iterative path pays
        # 1-2 driver barriers PER ROUND for O(log diameter) rounds —
        # measured ~0.5 s/round of fixed scheduling cost, 10+ s for a
        # 600-image chain fixture whose union-find is microseconds. A
        # bounded collect (cap = max_driver_pairs, ~32 MB of id pairs at
        # the default — the CMS-table/codebook driver-footprint class,
        # and base.count() above already bounds it BEFORE collecting)
        # + path-compressed min-label union-find replaces every round;
        # the distributed pointer-doubling path below remains the
        # over-cap scale path, converging in O(log d) rounds.
        try:
            rows = base.collect()
        finally:
            base.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r0 in rows:
            a, b = r0[0], r0[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # min id becomes the root, so root == component keeper
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        label_rows = [(v, find(v)) for v in parent]
        spark = df.sparkSession
        id_dt = df.schema[id_col].dataType
        from pyspark.sql import types as T

        labels = spark.createDataFrame(
            label_rows,
            T.StructType(
                [
                    T.StructField("id", id_dt),
                    T.StructField("label", id_dt),
                ]
            ),
        )
        return (
            df.select(F.col(id_col).alias("id"))
            .join(
                F.broadcast(labels.withColumnRenamed("label", "_lbl")),
                "id",
                "left",
            )
            .select(
                F.col("id").alias(id_col),
                F.coalesce(F.col("_lbl"), F.col("id")).alias("keeper_id"),
            )
        )
    edges = base.union(
        base.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    # iterate ONLY over vertices that appear in some pair: near-dup graphs
    # touch a tiny fraction of a corpus, and the previous shape
    # shuffled EVERY corpus row through every propagation round. Rows
    # outside the graph are singletons by definition — they rejoin once at
    # the end (left join + coalesce to self). edges is symmetric, so
    # distinct ``a`` covers every endpoint.
    labels = edges.select("a").dropDuplicates().select(
        F.col("a").alias("id"), F.col("a").alias("label")
    )
    run_dir = None
    prev_path = None
    prev_cache = None
    changed = 0
    try:
        for i in range(max_iter):
            if i == shortcut_after:
                # entering shortcut mode: truncate the plain-round persist
                # chain to a flat parquet scan ONCE, so the first doubling
                # round's self-join clones a file read instead of the
                # 4-layer cached join lineage (DeduplicateRelations'
                # cloned side recomputed it — measured 8.5 s vs 1.4 s for
                # the first spill-round write on a 600-image chain graph)
                if run_dir is None:
                    run_dir = tempfile.mkdtemp(prefix="ndto_neardup_")
                entry = os.path.join(run_dir, "labels_entry")
                labels.write.parquet(entry)
                labels = spark.read.parquet(entry)
                if prev_cache is not None:
                    prev_cache.unpersist()
                    prev_cache = None
                prev_path = entry
            nmin = (
                edges.join(labels, F.col("a") == F.col("id"))
                .groupBy("b")
                .agg(F.min("label").alias("nmin"))
            )
            prop = labels.join(nmin, labels["id"] == nmin["b"], "left").select(
                F.col("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("p"),
                F.col("label").alias("old"),
            )
            if i < shortcut_after:
                upd = prop.select(
                    F.col("id"),
                    F.col("p").alias("new_label"),
                    (F.col("p") < F.col("old")).alias("_chg"),
                ).persist()
                # convergence probe WITHOUT limit(1): CollectLimit stops
                # computing partitions as soon as one row is found, which
                # left upd's persist() PARTIALLY populated — every later
                # round then recomputed the uncached partitions through an
                # ever-deeper label lineage (measured 3.5 s -> 229 s per
                # round on a 16-round chain). A full count() computes — and
                # therefore caches — every partition; the scan it pays IS
                # the round's join, which the cache was for anyway.
                changed = upd.filter(F.col("_chg")).count()
                if prev_cache is not None:
                    prev_cache.unpersist()
                prev_cache = upd
                labels = upd.select(F.col("id"), F.col("new_label").alias("label"))
            else:
                # pointer doubling: labels are always node ids of the same
                # component (initially self; mins of ids are ids), so label(p)
                # exists and is ≤ p — following it halves chain depth per round
                lab2 = prop.select(
                    F.col("id").alias("lid"), F.col("p").alias("lp")
                )
                upd = prop.join(lab2, prop["p"] == lab2["lid"], "left").select(
                    F.col("id"),
                    F.least(F.col("p"), F.coalesce(F.col("lp"), F.col("p"))).alias(
                        "new_label"
                    ),
                    (
                        F.least(F.col("p"), F.coalesce(F.col("lp"), F.col("p")))
                        < F.col("old")
                    ).alias("_chg"),
                )
                if run_dir is None:
                    run_dir = tempfile.mkdtemp(prefix="ndto_neardup_")
                path = os.path.join(run_dir, f"round_{i}")
                upd.write.parquet(path)
                cur = spark.read.parquet(path)
                if prev_cache is not None:
                    prev_cache.unpersist()
                    prev_cache = None
                changed = cur.filter(F.col("_chg")).limit(1).count()
                labels = cur.select(F.col("id"), F.col("new_label").alias("label"))
                if prev_path is not None:
                    shutil.rmtree(prev_path, ignore_errors=True)
                prev_path = path
            if changed == 0:
                break
    except BaseException:
        # mid-loop failure: the run dir's parquet is unreachable now —
        # reclaim it eagerly instead of leaking /tmp per invocation
        if run_dir is not None:
            shutil.rmtree(run_dir, ignore_errors=True)
        raise
    finally:
        edges.unpersist()
        base.unpersist()
    if changed != 0:
        # silent non-convergence = under-dedup (one duplicate cluster split
        # across several keepers) with no signal — a validation engine must
        # fail loudly instead
        if run_dir is not None:
            shutil.rmtree(run_dir, ignore_errors=True)
        raise RuntimeError(
            f"near_dup_groups did not converge within max_iter={max_iter} "
            "rounds (component diameter exceeds max_iter); raise max_iter"
        )
    if run_dir is not None:
        # the returned DataFrame lazily reads the final round's parquet:
        # reclaim the run-scoped dir at interpreter exit (docstring contract)
        atexit.register(shutil.rmtree, run_dir, ignore_errors=True)
    # singletons (rows outside the pair graph) rejoin here, keeping
    # themselves — the corpus is touched exactly once, not once per round
    return (
        df.select(F.col(id_col).alias("id"))
        .join(labels.withColumnRenamed("label", "_lbl"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("_lbl"), F.col("id")).alias("keeper_id"),
        )
    )


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """SimHash from a precomputed array<bigint> of token hashes.

    Bit j of the simhash is 1 iff the sum over tokens of (+1 when
    token-hash bit j set, else -1) is positive. NOTE: ``hashes`` is
    referenced ``bits`` times (one aggregate per bit) — pass an ATTRIBUTE
    (a materialized column), not the hashing expression itself, or the
    token hashing is re-evaluated per bit (measured 4x at sf0.1 with md5).
    """

    def voter(j: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j) % 2 == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    bit_cols = []
    for j in range(bits):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), voter(j))
        bit_cols.append(F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out.cast("long")


def simhash(text_col: Column, bits: int = 16) -> Column:
    """SimHash of the token multiset, expression-side.

    Token hash = md5_low32 (portable, oracle-reproducible). Column-level
    convenience — inlines the token hashing into every bit vote; prefer
    simhash_dup_candidates (materializes the hash array once) in pipelines.
    """
    return simhash_from_hashes(F.transform(tokens(text_col), md5_low32), bits)


def simhash_dup_candidates(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16,
    max_examples: int = 8,
) -> DataFrame:
    """Docs sharing an identical simhash value:
    (simhash, n_docs, example_ids).

    ``n_docs`` is the exact group size; ``example_ids`` is a BOUNDED
    sample — the ``max_examples`` smallest ids (deterministic across
    runs/engines). An unbounded collect_list would concentrate a
    mega-cluster of identical docs (the skew case) in one
    aggregation buffer, so the collection is two-phase like
    runner.violation_summary: phase 1 takes the k smallest ids per
    (simhash, input partition) — each list bounded by partition size and
    sliced BEFORE the shuffle; phase 2 merges the ≤k-item survivors.

    PLAN NOTE: the token-hash array is projected behind a repartition
    barrier so the ``bits`` per-bit votes read an attribute instead of
    re-evaluating tokenize+md5 per bit (cf. the minhash barriers above).
    The shuffled payload is (doc id, ~n_tokens longs) per row; the groupBy
    downstream shuffles anyway.
    """
    rows = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    rows = _spread(rows)  # token hashing must not ride the 1-task scan
    hashed = rows.select(
        "doc",
        F.transform(tokens(F.col("_t")), md5_low32).alias("hv"),
    ).repartition(F.col("doc"))
    sh = hashed.select(
        "doc", simhash_from_hashes(F.col("hv"), bits).alias("simhash")
    )
    loc = (
        sh.withColumn("_p", F.spark_partition_id())
        .groupBy("simhash", "_p")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.slice(
                F.array_sort(F.collect_list("doc")), 1, max_examples
            ).alias("_ex"),
        )
    )
    return (
        loc.groupBy("simhash")
        .agg(
            F.sum("_n").cast("bigint").alias("n_docs"),
            F.slice(
                F.array_sort(F.flatten(F.collect_list("_ex"))), 1, max_examples
            ).alias("example_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    num_planes: int = 8,
    num_tables: int = 6,
    seed: int = 7,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ τ).

    Scale path (default): random-hyperplane LSH buckets generate candidates
    (vectors with cosine ≥ 0.95 agree on a hyperplane sign with
    p = 1 - θ/π ≈ 0.90; 6 tables × 8 planes → recall ≈ 1-(1-0.9^8)^6 ≈ 0.95),
    then the exact cosine verifies each candidate. ``exact=True`` runs the
    O(n²) block self-join instead — the small-scale correctness oracle.
    """
    from . import ann

    from .ann import norm

    v = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    if not exact:
        # plane dot products must not ride the 1-task scan; exact mode
        # already repartition(64)s its streamed side below, so a _spread
        # there is a redundant extra Exchange on the broadcast-NLJ path
        # (measured +0.27 s at sf0.1)
        v = _spread(v)
    v = v.withColumn("nrm", norm(F.col("vec")))
    if exact:
        # O(n²) block self-join: norms precomputed per side (not per pair);
        # the streamed side is repartitioned so the nested-loop join
        # parallelizes (a single-file parquet read is ONE partition → one
        # task otherwise)
        a = v.select(
            F.col("vid").alias("id_a"), F.col("vec").alias("va"),
            F.col("nrm").alias("na"),
        ).repartition(64)
        b = F.broadcast(
            v.select(
                F.col("vid").alias("id_b"), F.col("vec").alias("vb"),
                F.col("nrm").alias("nb"),
            )
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        # PLAN NOTE: the bucket join and the cross-table candidate dedup
        # carry BARE IDS only. Round 2 shipped the full 64-double vectors
        # through both shuffles (each vector rides num_tables exploded rows
        # into the self-join, then every candidate pair re-shuffles two
        # vectors through dropDuplicates) — measured 2.4x slower at sf0.1
        # and a scale-killer at wide embeddings. Vectors join back exactly
        # once, after the id-level dedup, mirroring the minhash cand_docs
        # semi-join shape above.
        tables = [
            ann._planes(dim, num_planes, seed + t * 1000) for t in range(num_tables)
        ]
        # bucketing in the vector kernel (ann.lsh_buckets_arrow)
        exploded = ann.lsh_buckets_arrow(v, "vid", "vec", "vid", tables)
        a = exploded.select(F.col("vid").alias("id_a"), "bucket")
        b = exploded.select(F.col("vid").alias("id_b"), "bucket")
        cand = (
            a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        va = v.select(
            F.col("vid").alias("id_a"), F.col("vec").alias("va"),
            F.col("nrm").alias("na"),
        )
        vb = v.select(
            F.col("vid").alias("id_b"), F.col("vec").alias("vb"),
            F.col("nrm").alias("nb"),
        )
        pairs = cand.join(va, "id_a").join(vb, "id_b")
    from .ann import dot

    return pairs.select(
        "id_a",
        "id_b",
        (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
            "cosine_sim"
        ),
    ).filter(F.col("cosine_sim") >= threshold)


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: Optional[str] = None,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any k-token
    shingle with an evaluation set — (id, n_hits) for contaminated docs.

    Plan shape: eval sets are SMALL (thousands of documents), so
    their distinct shingle set broadcasts; the corpus side is an
    explode + broadcast hash join + per-doc partial-aggregated count —
    the big side never shuffles its text, only (id, matched-shingle)
    survivor rows reach the per-doc groupBy. n_hits counts DISTINCT
    overlapping shingles (word_shingles is distinct per doc on both
    sides), so thresholds compose with shingle counts from fingerprint().
    """
    bench_text_col = bench_text_col or text_col
    b = (
        benchmark.select(
            F.explode_outer(
                word_shingles(F.col(bench_text_col), k)
            ).alias("shingle")
        )
        .filter(F.col("shingle").isNotNull())
        .dropDuplicates(["shingle"])
    )
    rows = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    rows = _spread(rows)  # shingling must not ride the 1-task scan
    d = (
        rows.select(
            "doc",
            F.explode_outer(word_shingles(F.col("_t"), k)).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    return (
        d.join(F.broadcast(b), "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .select(F.col("doc").alias(id_col), "n_hits")
    )


def phash_near_dups(
    df: DataFrame,
    id_col: str,
    phash_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
    max_band_df: Optional[int] = None,
    log_dropped: bool = True,
) -> DataFrame:
    """Perceptual-hash near-duplicate pairs: (id_a, id_b, hamming ≤ τ).

    The image-payload analog of MinHash banding: the ``bits``-bit phash is
    split into ``bands`` equal bit-bands; two images agreeing on ANY band
    become a candidate pair (pigeonhole: hamming ≤ bands-1 guarantees at
    least one agreeing band, so recall is exact for
    max_hamming < bands), and candidates are verified with the exact
    popcount of the XOR. All expression-side — band keys are an explode of
    ``bands`` ints per row, the join is a band-key equi-join, verification
    is two bigint ops; nothing leaves the JVM and the only shuffles are
    the band join and the candidate dedup.

    ``max_band_df`` caps band-bucket frequency, the same guard
    ngram_jaccard_pairs puts on shingle DF: a (band, key) bucket shared by
    d images yields d² join rows, so ONE degenerate constant-phash
    population (solid-color thumbnails) makes its bucket
    quadratic. Buckets with DF > cap are removed before the self-join via
    a broadcast anti-join (the hot set is tiny by construction).
    CORRECTNESS CAVEAT: pairs whose ONLY agreeing bands are capped are
    lost — exact recall holds only for pairs untouched by the cap; capped
    buckets are counted and logged (``log_dropped``, one extra tiny-side
    job) so the cap is never silent. Identical-phash clusters SMALLER than
    the cap stay correct either way: they collapse into one band bucket
    and the id ordering bounds each pair to one output.
    """
    if bits % bands != 0:
        # ValueError (not assert): the contract must survive python -O
        raise ValueError(
            f"bits ({bits}) must split evenly into bands ({bands})"
        )
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): the "
            "pigeonhole exact-recall guarantee needs one band untouched by "
            "every allowed bit flip — raise bands for larger radii"
        )
    width = bits // bands
    mask = (1 << width) - 1
    v = df.select(
        F.col(id_col).alias("vid"), F.col(phash_col).cast("bigint").alias("ph")
    )
    banded = v.select(
        "vid",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("ph", b * width).bitwiseAND(
                            F.lit(mask)
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("vid", "ph", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_band_df is not None:
        hot = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_band_df)
            .select("band", "key", "_df")
        )
        if log_dropped:
            import logging

            # persist: the hot set is ≤ one row per capped bucket (tiny);
            # without it the count action would re-run the full band
            # aggregation the anti-join below needs again
            hot = hot.persist()
            n_hot = hot.count()
            if n_hot:
                logging.getLogger(__name__).warning(
                    "phash_near_dups: dropping %d band bucket(s) with "
                    "DF > %d — pairs whose only agreeing bands are capped "
                    "are lost (recall is no longer exact for them)",
                    n_hot,
                    max_band_df,
                )
        banded = banded.join(
            F.broadcast(hot.select("band", "key")), ["band", "key"], "left_anti"
        )
    a = banded.select(
        F.col("vid").alias("id_a"), F.col("ph").alias("ph_a"), "band", "key"
    )
    b = banded.select(
        F.col("vid").alias("id_b"), F.col("ph").alias("ph_b"), "band", "key"
    )
    # shuffle_hash: sort-merge would sort BOTH banded streams by
    # (band, key) before zipping; a per-partition hash build of one side
    # skips both sorts (measured 8.3 -> 4.1 s at 1M rows x 4 bands)
    cand = (
        a.join(b.hint("shuffle_hash"), ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ph_a", "ph_b")
    )
    # verify BEFORE the pair dedup: ph_a/ph_b are functions of the ids, so
    # every duplicate (id_a, id_b) candidate carries the same hamming and
    # filter-then-dedup ≡ dedup-then-filter — but the filter kills ~all of
    # the d²-per-bucket candidate volume in the join stage, so the
    # dropDuplicates exchange shuffles surviving pairs only (measured at
    # 1M-row/60-bit scale: the dedup previously shuffled ~90M rows)
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cand.select("id_a", "id_b", ham.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .dropDuplicates(["id_a", "id_b"])
    )


def phash_band_stats(
    df: DataFrame,
    phash_col: str,
    bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Band-bucket occupancy diagnostics for sizing a phash band-LSH run.

    One row per (band, df_bucket) where ``df_bucket`` is the power-of-two
    FLOOR of a bucket's document frequency (df 1 → 1, df 2-3 → 2,
    df 4-7 → 4, …): ``n_buckets`` buckets in that occupancy class holding
    ``n_rows`` rows, and ``n_cand_pairs`` = Σ df·(df−1)/2 — the EXACT
    candidate-pair volume the phash_near_dups self-join would emit from
    those buckets. This is the operator you run BEFORE a large phash
    dedup: candidate volume grows quadratically with bucket occupancy, so
    the histogram both picks ``max_band_df`` (cap where n_cand_pairs
    explodes) and exposes constant-phash degeneracy (a huge df_bucket
    class = solid-color thumbnails about to make one bucket quadratic).

    Plan shape: band explode (bands ints per row) → ONE partial-aggregated
    groupBy(band, key) shuffle → a second groupBy over at most
    bands·log2(n) histogram rows. No joins, nothing quadratic — the
    diagnosis costs one aggregation pass over what the join would scan.

    The power-of-two bucketing is integer-exact on any engine
    (floor_log2(df) = length(bin(df)) − 1) — no float log2 rounding.
    """
    if bits % bands != 0:
        raise ValueError(
            f"bits ({bits}) must split evenly into bands ({bands})"
        )
    width = bits // bands
    mask = (1 << width) - 1
    v = df.select(F.col(phash_col).cast("bigint").alias("ph"))
    banded = v.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("ph", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk")
    ).select(F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    occ = banded.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("df_")
    )
    bucket = F.expr(
        "CAST(shiftleft(1L, CAST(length(bin(df_)) - 1 AS INT)) AS BIGINT)"
    )
    return (
        occ.select(
            F.col("band").cast("bigint").alias("band"),
            bucket.alias("df_bucket"),
            "df_",
        )
        .groupBy("band", "df_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum("df_").cast("bigint").alias("n_rows"),
            F.sum(F.expr("df_ * (df_ - 1) div 2"))
            .cast("bigint")
            .alias("n_cand_pairs"),
        )
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_df: int = 2,
) -> DataFrame:
    """CCNet-style duplicated-line removal (Wenzek et al. 2019, public):
    drop every line whose exact content appears in >= ``min_df`` DISTINCT
    documents (cross-document boilerplate — headers, nav bars, cookie
    banners), keep the rest in original order.

    Returns one row per input document:
    ``(id, n_lines, n_dup_lines, clean_text)`` — clean_text is the
    surviving lines re-joined with ``sep``.

    Plan shape: lines are keyed by a 128-bit md5, and ONE
    ``repartition(line_hash)`` Exchange feeds both the document-frequency
    aggregation and the anti-join back onto the lines (ReuseExchange) —
    the document text itself is shuffled once as (doc, pos, line) rows,
    df-counting is partially aggregated map-side, and reassembly is a
    per-doc groupBy bounded by document size. A line repeated WITHIN one
    doc counts once toward df (CCNet semantics: cross-document duplication
    only).
    """
    rows = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    rows = _spread(rows)  # line splitting must not ride a 1-task scan
    # explode_outer: InferFiltersFromGenerate would otherwise clone the
    # split() below an inferred size()>0 filter (see ngram_jaccard_pairs)
    lines = (
        rows.select(
            "doc",
            F.posexplode_outer(F.split(F.col("_t"), sep, -1)).alias(
                "pos", "line"
            ),
        )
        .filter(F.col("line").isNotNull())
        .select("doc", "pos", "line", F.md5(F.col("line")).alias("lh"))
        .repartition(F.col("lh"))  # one Exchange shared by BOTH branches
    )
    dup = (
        lines.dropDuplicates(["lh", "doc"])
        .groupBy("lh")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") >= min_df)
        .select("lh", F.lit(1).alias("_d"))
    )
    flagged = lines.join(dup, "lh", "left")
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.count("_d").cast("bigint").alias("n_dup_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_d").isNull(),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("clean_text"),
        )
        .select(
            F.col("doc").alias(id_col), "n_lines", "n_dup_lines", "clean_text"
        )
    )


def _bloom_positions_hex(md5hex: Column, m_bits: int, k: int) -> Column:
    """k Bloom bit positions from one md5, via Kirsch-Mitzenmacher double
    hashing: g_j = (h1 + j * h2) mod m over two independent 32-bit md5
    slices (h2 forced odd so the stride is invertible mod a power-of-two
    m). Engine-portable: DuckDB reproduces every operation bit-for-bit
    (('0x'||substr(md5,..))::BIGINT, |, %, all on BIGINTs — h1 + j*h2 <
    2^36 for k <= 16, far from overflow).
    """
    h1 = F.conv(F.substring(md5hex, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5hex, 9, 8), 16, 10).cast("long").bitwiseOR(
        F.lit(1)
    )
    return F.array(
        *[(h1 + F.lit(j) * h2) % F.lit(m_bits) for j in range(k)]
    )


def bloom_build(
    df: DataFrame, text_col: str, m_bits: int = 1 << 17, k: int = 4
) -> DataFrame:
    """Build a Bloom filter over a corpus's content hashes as a DataFrame
    of DISTINCT set bit positions — ``(bit)``, at most ``m_bits`` rows
    regardless of corpus size (the filter's size is
    fixed by m, the build is a partially-aggregated distinct, and the
    result broadcasts — m=2^17 is at most 1 MB of longs).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("ph"))
        .select(
            F.explode(_bloom_positions_hex(F.col("ph"), m_bits, k)).alias(
                "bit"
            )
        )
        .dropDuplicates(["bit"])
    )


def bloom_dedup_flags(
    new: DataFrame,
    prev: DataFrame,
    id_col: str,
    text_col: str,
    m_bits: int = 1 << 17,
    k: int = 4,
) -> DataFrame:
    """Incremental cross-corpus dedup: flag rows of ``new`` whose content
    hash is (probably) already in ``prev``, Bloom-first.

    Returns ``(id, bloom_hit, exact_dup)`` for every row of ``new``:
    bloom_hit iff ALL k bit positions are set in prev's filter; exact_dup
    iff the md5 itself occurs in prev. Bloom filters have NO false
    negatives, so exact_dup => bloom_hit and the exact verification runs
    ONLY on bloom-hit survivors — the broadcast filter prunes
    the new crawl down to the (tiny) probable-duplicate set before any
    shuffle join touches prev's full hash set. bloom_hit AND NOT exact_dup
    rows are the filter's false positives (rate ~ (1 - e^(-kn/m))^k).
    """
    bits = F.broadcast(
        bloom_build(prev, text_col, m_bits, k).select(
            "bit", F.lit(1).alias("_s")
        )
    )
    n = new.select(F.col(id_col).alias("pid"), F.md5(F.col(text_col)).alias("ph"))
    n = _spread(n)
    per = (
        n.select(
            "pid",
            "ph",
            F.explode(_bloom_positions_hex(F.col("ph"), m_bits, k)).alias(
                "bit"
            ),
        )
        .join(bits, "bit", "left")
        .groupBy("pid", "ph")
        .agg((F.count("_s") == F.lit(k)).alias("bloom_hit"))
    )
    prev_h = (
        prev.select(F.md5(F.col(text_col)).alias("ph"))
        .dropDuplicates(["ph"])
        .select("ph", F.lit(1).alias("_e"))
    )
    hits = (
        per.filter(F.col("bloom_hit"))
        .join(prev_h, "ph", "left")
        .select(
            "pid", "bloom_hit", F.col("_e").isNotNull().alias("exact_dup")
        )
    )
    misses = per.filter(~F.col("bloom_hit")).select(
        "pid", "bloom_hit", F.lit(False).alias("exact_dup")
    )
    return hits.unionByName(misses).select(
        F.col("pid").alias(id_col), "bloom_hit", "exact_dup"
    )


def semantic_dedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.95,
    quantize: float = 1e6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540, public): k-means-
    cluster the embedding space, then mark a vector a SEMANTIC duplicate
    when a smaller-id vector in the SAME cluster has cosine >= threshold
    (the deterministic min-id analog of the paper's keep-one-per-group
    rule).

    Returns ``(id, cid, n_dups, removed)`` for every valid input vector.

    Plan shape: training + assignment reuse ann.kmeans_centroids'
    vector-kernel argmin (no shuffle; the codebook-size bound caps k*dim);
    the pairwise step is confined WITHIN clusters — one repartition(cid)
    Exchange feeds both sides of the self-join (ReuseExchange), so cost
    is sum over clusters of |c|^2/2, never n^2. k must scale with the
    corpus (the paper uses ~sqrt(n) clusters); for k beyond the bound
    run per-shard or
    use the hyperplane-LSH path (embedding_near_dups).
    """
    import math

    from . import ann
    from .ann import dot

    cents = ann.kmeans_centroids(
        df, dim=dim, id_col=id_col, vec_col=vec_col, k=k, n_iter=n_iter,
        quantize=quantize,
    )
    spark = df.sparkSession
    if not cents:
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField(id_col, df.schema[id_col].dataType),
                T.StructField("cid", T.LongType()),
                T.StructField("n_dups", T.LongType()),
                T.StructField("removed", T.BooleanType()),
            ]
        )
        return spark.createDataFrame([], schema)
    norms = [math.sqrt(sum(x * x for x in c)) or 1.0 for c in cents]
    # assignment in the vector kernel, spread off the file-layout-bound
    # scan
    src = (
        df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .filter(F.col("vec").isNotNull() & (F.size("vec") >= dim))
    )
    assigned = (
        ann.assign_cids_arrow(
            _spread(src), "vid", "vec", "vid", list(enumerate(cents)), norms
        )
        .select(
            "vid",
            F.col("vid_vec").alias("vec"),
            "cid",
            F.col("vid_nrm").alias("nrm"),
        )
        .repartition(F.col("cid"))  # ONE Exchange, shared by both join sides
    )
    a = assigned.select(
        F.col("vid").alias("id_a"), "cid", F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("vid").alias("id_b"), "cid", F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dup_counts = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            (
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .groupBy("id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dups"))
        .withColumnRenamed("id_b", "vid")
    )
    return (
        assigned.select("vid", "cid")
        .join(dup_counts, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cid").cast("bigint").alias("cid"),
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
            (F.coalesce("n_dups", F.lit(0)) > 0).alias("removed"),
        )
    )


def simhash_members(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(id_col, simhash) — the per-doc simhash MEMBERSHIP frame: every doc
    tagged with its group key, singletons included. The building block the
    keeper/candidate views aggregate from; also the ``members`` input
    shape ``best_per_group`` consumes for quality-aware survivor picks.

    Plan skeleton shared with simhash_dup_candidates: spread scan, the
    token-hash array materialized behind a repartition barrier so the
    per-bit votes read an attribute instead of re-hashing per bit.
    """
    rows = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    rows = _spread(rows)
    hashed = rows.select(
        "doc",
        F.transform(tokens(F.col("_t")), md5_low32).alias("hv"),
    ).repartition(F.col("doc"))
    return hashed.select(
        F.col("doc").alias(id_col),
        simhash_from_hashes(F.col("hv"), bits).alias("simhash"),
    )


def simhash_keepers(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(simhash, keeper_id, n_docs) — one keeper (min id) per simhash
    value, singletons included: the GROUPS half of simhash dedup, shaped
    for ``apply_dedup`` (mirrors exact_dedup_groups' keeper = min id).

    Aggregates the simhash_members frame; the aggregate carries only
    (min id, count) per group — constant state, mega-cluster-safe with no
    example lists.
    """
    sh = simhash_members(df, id_col, text_col, bits=bits)
    return sh.groupBy("simhash").agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


def best_per_group(
    members: DataFrame,
    scores: DataFrame,
    id_col: str,
    group_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware dedup SURVIVOR selection: one row per group carrying
    the HIGHEST-scored member (ties → smallest id). Real pipelines keep
    the longest / cleanest / best-scored duplicate, not the min-id
    convention near_dup_groups and simhash_keepers default to — this is
    the policy layer between group assignment and ``apply_dedup``.

    Inputs: ``members`` = any (id, group) assignment frame
    (near_dup_groups output, simhash_members, exact_dedup_groups) and
    ``scores`` = an id-unique (id, score) frame (quality_metrics length,
    token counts, a model score). Scores cast to bigint for engine-exact
    comparison. Output: (group_col, best_id, best_score, n_members).

    Plan shape: one inner join on id between two id-keyed frames far
    narrower than the corpus, then ONE ``repartition(group)`` Exchange
    that ReuseExchange shares across all three consumers — the per-group
    max/count aggregate and both sides of the argmax join-back are
    co-partitioned on the group key (partitioning on a subset of the join
    keys satisfies the join's distribution), so the whole argmax costs a
    single shuffle. No windows, no collect_list state: aggregate state per
    group is two bigints — mega-cluster-safe.
    """
    j = (
        members.select(F.col(id_col), F.col(group_col))
        .join(scores.select(F.col(id_col), F.col(score_col)), id_col)
        .select(
            F.col(id_col).alias("_id"),
            F.col(group_col).alias("_grp"),
            F.col(score_col).cast("bigint").alias("_score"),
        )
        .repartition(F.col("_grp"))
    )
    ag = j.groupBy("_grp").agg(
        F.max("_score").alias("best_score"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    ).withColumnRenamed("_grp", "_g2")
    best = (
        j.join(
            ag,
            (F.col("_grp") == F.col("_g2"))
            & (F.col("_score") == F.col("best_score")),
        )
        .groupBy("_grp", "best_score", "n_members")
        .agg(F.min("_id").alias("best_id"))
    )
    return best.select(
        F.col("_grp").alias(group_col), "best_id", "best_score", "n_members"
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: Optional[int] = None,
) -> DataFrame:
    """EXACT set-Jaccard similarity self-join via PREFIX FILTERING (the
    PPJoin family's core idea): order every document's distinct tokens
    rarest-first (global doc-frequency ascending), index only the first
    ``|d| − ceil(t·|d|) + 1`` tokens, and generate candidates from the
    prefix index alone. Two sets with Jaccard ≥ t MUST share a prefix
    token (pigeonhole on the rarest-first order), so recall is exactly 1 —
    unlike MinHash this is exact, and unlike the inverted-index join the
    hot tokens (stopwords, boilerplate) are exactly the ones the prefix
    EXCLUDES, so the candidate join never sees the quadratic head of the
    token distribution.

    Output: (doc_a, doc_b, n_common, jaccard_e6) for pairs with set
    Jaccard ≥ threshold, doc_a < doc_b. Set elements are distinct word
    tokens, or distinct ``shingle_k``-gram shingles when ``shingle_k`` is
    given (use shingles when the corpus vocabulary is small — raw token
    sets of unrelated documents converge once every word has been seen).

    Plan shape: explode → two partial-agg groupBys (df table, per-doc
    sorted arrays) → prefix explode (a t-fraction of each doc) → equi-join
    on prefix token → distinct pairs → two array joins + an
    expression-side array_intersect verify. The base (doc, tokens) frame
    is repartitioned by doc once and reused across its three consumers
    (ReuseExchange), the repo's ngram_jaccard pattern.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    def elems_of(t: Column) -> Column:
        return (
            F.array_distinct(tokens(t))
            if shingle_k is None
            else word_shingles(t, shingle_k)
        )

    # _spread before the shingling explode (the ngram_jaccard treatment):
    # tokenize+shingle otherwise runs on the scan's file-layout-bound task
    # count (one compact parquet file = one core). The exploded frame is
    # then repartitioned by TOKEN, not doc: the DF count groupBy and the
    # doc-frequency join are both token-keyed, so they ride this ONE
    # exchange (ReuseExchange) with no further shuffle of the shingle
    # stream — the doc-keyed aggregation downstream shuffles compact
    # (doc, token, df) rows once either way.
    base = (
        _spread(
            df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
        )
        .select("doc", F.explode_outer(elems_of(F.col("_t"))).alias("token"))
        .filter(F.col("token").isNotNull())
        .repartition(F.col("token"))
    )
    # corpus doc-frequency as a WINDOW over the token-partitioned frame,
    # not a groupBy + join-back (the dup_spans treatment): the sort-merge
    # join sorted both the shingle stream and the (mostly unique) DF
    # table; the window needs one sort over one side and no join. Token
    # groups are tiny (the DF value itself), so window state is bounded.
    from pyspark.sql import Window

    wdf = Window.partitionBy("token")
    # per-doc token array sorted rarest-first, deterministic tie on token
    by_doc = (
        base.withColumn("_df", F.count(F.lit(1)).over(wdf).cast("bigint"))
        .groupBy("doc")
        .agg(
            F.sort_array(F.collect_list(F.struct("_df", "token"))).alias("_st")
        )
        .select(
            "doc",
            F.transform(F.col("_st"), lambda s: s["token"]).alias("toks"),
            F.size("_st").alias("sz"),
        )
    )
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
    ).cast("int")
    prefix = by_doc.select(
        "doc", "sz", F.explode(F.slice("toks", 1, prefix_len)).alias("token")
    )
    # PPJoin length filter: Jaccard >= t forces t·max(|a|,|b|) <= min(|a|,
    # |b|) (|∩| <= min and |∪| >= max), so size-incompatible candidates are
    # provably below threshold — prune them in the join stage, BEFORE the
    # distinct's exchange ever sees them. The bound is applied as an EXACT
    # integer cross-multiply against floor(t·1e6) − 1 (one ppm of slack),
    # so no float rounding at the boundary can ever drop a pair the
    # double-division verify below would accept: recall stays exactly 1.
    t_e6_floor = int(float(threshold) * 1_000_000) - 1
    cand = (
        # shuffle_hash: skip the sort-merge sorts of both prefix streams
        prefix.alias("a")
        .join(prefix.alias("b").hint("shuffle_hash"), "token")
        .filter(
            (F.col("a.doc") < F.col("b.doc"))
            & (
                F.greatest(F.col("a.sz"), F.col("b.sz")).cast("bigint")
                * F.lit(t_e6_floor)
                <= F.least(F.col("a.sz"), F.col("b.sz")).cast("bigint")
                * F.lit(1_000_000)
            )
        )
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .distinct()
    )
    va = by_doc.select(
        F.col("doc").alias("doc_a"),
        F.col("toks").alias("_ta"),
        F.col("sz").alias("_sa"),
    )
    vb = by_doc.select(
        F.col("doc").alias("doc_b"),
        F.col("toks").alias("_tb"),
        F.col("sz").alias("_sb"),
    )
    inter = F.size(F.array_intersect("_ta", "_tb")).cast("bigint")
    verified = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("n_common", inter)
        .withColumn(
            "_union",
            (F.col("_sa") + F.col("_sb") - F.col("n_common")).cast("bigint"),
        )
        .withColumn(
            "jaccard_e6",
            F.floor(
                F.col("n_common") * F.lit(1_000_000) / F.col("_union")
            ).cast("bigint"),
        )
        .filter(
            F.col("n_common").cast("double") / F.col("_union")
            >= F.lit(float(threshold))
        )
    )
    return verified.select("doc_a", "doc_b", "n_common", "jaccard_e6")


def phash_near_dups_against(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    phash_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """INCREMENTAL phash near-dup lookup: match each ``batch`` row against
    an existing ``index`` (yesterday's corpus, the stored dedup index) —
    the crawl-ingest shape where the new day's images are screened against
    what the corpus already holds WITHOUT re-joining the index to itself.

    Same banding + pigeonhole contract as phash_near_dups (recall exact
    for max_hamming < bands); the join is batch-bands × index-bands, so
    the cost scales with |batch| · (index bucket occupancy), never with
    |index|². Output: (batch_id, index_id, hamming ≤ max_hamming).

    Plan shape: the index side's banded form is exactly what a real
    deployment persists between runs (bucketed by (band, key)); the daily
    batch streams through it as a plain equi-join.
    """
    if bits % bands != 0:
        raise ValueError(
            f"bits ({bits}) must split evenly into bands ({bands})"
        )
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands})"
        )
    width = bits // bands
    mask = (1 << width) - 1

    def banded(df: DataFrame, out_id: str, out_ph: str) -> DataFrame:
        v = df.select(
            F.col(id_col).alias(out_id),
            F.col(phash_col).cast("bigint").alias(out_ph),
        )
        return v.select(
            out_id,
            out_ph,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright(out_ph, b * width)
                            .bitwiseAND(F.lit(mask))
                            .alias("key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select(
            out_id,
            out_ph,
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )

    a = banded(batch, "batch_id", "ph_a")
    b = banded(index, "index_id", "ph_b")
    # shuffle_hash with the (small) batch side as build: skips the
    # sort-merge sorts of both banded streams (see phash_near_dups)
    cand = a.hint("shuffle_hash").join(b, ["band", "key"]).select(
        "batch_id", "index_id", "ph_a", "ph_b"
    )
    # same verify-before-dedup ordering as phash_near_dups: the hamming of
    # a (batch_id, index_id) pair is fixed by the ids, so filtering first
    # is equivalent and the dedup exchange carries survivors only
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cand.select(
            "batch_id", "index_id", ham.cast("bigint").alias("hamming")
        )
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .dropDuplicates(["batch_id", "index_id"])
    )


def semantic_decontaminate(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Semantic benchmark decontamination — ``decontaminate``'s embedding
    sibling: flag corpus vectors whose cosine similarity to ANY eval-set
    vector reaches ``threshold`` (paraphrased eval leakage that shingle
    overlap can't see; the GPT-4/Llama report methodology).

    Output: (id, n_hits, max_sim) for flagged vectors only — n_hits =
    how many eval items the vector is close to, max_sim the closest.
    max() over per-pair doubles is order-independent, so the result is
    as engine-exact as the pairwise cosine itself.

    Plan shape: eval sets are SMALL, so the eval side collects ONCE into
    the vector kernel (``ann`` module docstring) and the corpus streams
    through one Arrow scan per eval block, bit-identical to the
    ``ann.dot``/``ann.norm`` fold; duplicate and NULL corpus ids merge per
    id in the final groupBy. A NULL, NULL-element, zero or length-mismatched
    vector on either side never hits. For |eval| beyond a few thousand,
    bucket first (``embedding_near_dups``' LSH path) — this operator is
    deliberately the exact-verdict shape.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from . import ann

    ev = [
        (None, r[0])
        for r in evalset.select(F.col(vec_col).cast("array<double>")).collect()
    ]
    thr = float(threshold)
    schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("n_hits", T.LongType()),
            T.StructField("max_sim", T.DoubleType()),
        ]
    )

    def emit(pdf, b, sims, null):
        hit = ~null & (sims >= thr)  # NaN (zero norm) never hits
        nh = hit.sum(axis=1)
        sel = nh > 0
        ms = np.where(hit, sims, -np.inf).max(axis=1)
        return pd.DataFrame(
            {
                id_col: pdf["_id"][sel],
                "n_hits": nh[sel].astype("int64"),
                "max_sim": ms[sel],
            }
        )

    scored = ann._cosine(
        _spread(corpus.select(id_col, vec_col)),
        vec_col,
        [F.col(id_col).alias("_id")],
        ev,
        emit,
        schema,
    )
    return scored.groupBy(id_col).agg(
        F.sum("n_hits").cast("bigint").alias("n_hits"),
        F.max("max_sim").alias("max_sim"),
    )


def dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Repeated-substring span detection — the detection half of
    ExactSubstr dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): at every character position, hash the
    k-char gram starting there; a position is DUPLICATED when its gram
    occurs ≥ ``min_count`` times in the whole corpus (within OR across
    docs — memorization doesn't care which document repeats the span).

    Output: (id, n_pos, n_dup, dup_frac_e6) per doc with ≥ 1 position
    (docs shorter than k characters have none and are omitted);
    dup_frac_e6 is an exact integer ``(n_dup·1e6) div n_pos``.

    Plan shape: the gram-hash ARRAY is built in one let-bound
    projection (explode_outer + IS-NOT-NULL, the rule-safe explode), so
    only (doc, hash) longs ever shuffle — never text. One
    ``repartition(hash)`` Exchange is shared (ReuseExchange) by the
    corpus-wide gram count and the join back, and the per-doc rollup is
    partially aggregated map-side. The hashing stage runs behind _spread
    (file-layout-bound scans otherwise run it 1-task). Memory per task is
    bounded by gram-count partial-agg state.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    rows = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    rows = _spread(rows)  # gram hashing must not ride the 1-task scan

    def _gram_hashes(t: Column) -> Column:
        n = F.length(t) - F.lit(k - 1)
        return F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: md5_low32(t.substr(i, F.lit(k))),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    g = (
        rows.select(
            "doc",
            F.explode_outer(bind(F.col("_t"), _gram_hashes)).alias("gh"),
        )
        .filter(F.col("gh").isNotNull())
        .repartition(F.col("gh"))  # count window rides this ONE Exchange
    )
    # corpus-wide gram count as a WINDOW over the gh-partitioned frame,
    # not a groupBy + join-back: the join sorted BOTH the 20-char-gram
    # stream and the (mostly unique) count table for a sort-merge join;
    # the window needs one sort over one side and no second shuffle
    # (measured 10.2 -> 3.7 s at sf1.0). Gram groups are tiny (c is the
    # duplication count itself), so per-group window state is bounded.
    from pyspark.sql import Window

    w = Window.partitionBy("gh")
    flagged = (
        g.withColumn("c", F.count(F.lit(1)).over(w))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pos"),
            F.sum((F.col("c") >= min_count).cast("bigint"))
            .cast("bigint")
            .alias("n_dup"),
        )
    )
    return flagged.select(
        F.col("doc").alias(id_col),
        "n_pos",
        "n_dup",
        F.expr("(n_dup * 1000000L) div n_pos").alias("dup_frac_e6"),
    )


def cross_group_dup_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 16,
    seed: int = 42,
    verify_threshold: Optional[float] = 0.5,
) -> DataFrame:
    """Cross-GROUP duplication matrix — the curation report that tells
    you which sources copy which (mirror crawls, syndication, scraped
    re-posts): verified MinHash near-dup pairs rolled up per unordered
    group pair. Output (group_a, group_b, n_pairs) with group_a <=
    group_b lexicographically; the diagonal counts within-group dups.

    Plan shape: rides minhash_lsh_pairs unchanged (its plan notes
    apply); pairs carry bare ids, the group lookup joins a 2-column
    (id, group) projection twice, and the matrix is a |groups|²-bounded
    partial-agg groupBy — text never enters any of it.
    """
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, k=k, num_hashes=num_hashes, bands=bands,
        seed=seed, verify_threshold=verify_threshold,
    )
    g = df.select(F.col(id_col), F.col(group_col))
    ga = g.select(
        F.col(id_col).alias("id_a"), F.col(group_col).alias("_g_a")
    )
    gb = g.select(
        F.col(id_col).alias("id_b"), F.col(group_col).alias("_g_b")
    )
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.least("_g_a", "_g_b").alias("group_a"),
            F.greatest("_g_a", "_g_b").alias("group_b"),
        )
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
