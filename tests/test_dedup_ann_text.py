"""Unit tests for dedup / ANN / text operators on small inline data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ndto_spark import dedup
from ndto_spark.functions import text as textfn


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup
        (4, "completely different content about spark tables and shuffles here"),
        (5, "el rapido zorro marron salta sobre el perro perezoso que es lento"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_groups(spark, docs):
    groups = {r.keeper_id: r.n_copies for r in dedup.exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert groups[1] == 2  # docs 1 and 2 identical, keeper = min id
    assert groups[3] == 1 and groups[4] == 1


def test_ngram_jaccard_finds_near_dups(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.4).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got  # exact dup: jaccard 1
    assert (1, 3) in got and (2, 3) in got  # near dup
    assert not any(4 in p or 5 in p for p in got)


def test_ngram_jaccard_shingle_df_cap(spark):
    """A hot shingle shared by every doc is dropped from the universe.

    Docs 1-4 share ONE ubiquitous 2-gram ('xx yy'); docs 1+2 additionally
    share their full distinctive text. With the cap below the hot shingle's
    DF, only the genuinely-similar (1,2) pair survives — and its jaccard is
    computed over the FILTERED sets (hot shingle excluded on both sides).
    """
    rows = [
        (1, "xx yy alpha beta gamma delta"),
        (2, "xx yy alpha beta gamma delta"),
        (3, "xx yy completely unrelated words here"),
        (4, "xx yy other disjoint vocabulary entirely now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=2, threshold=0.05)
    capped = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=2, threshold=0.05, max_shingle_df=3
    )
    got_un = {(r.id_a, r.id_b) for r in uncapped.collect()}
    got_cap = {(r.id_a, r.id_b): (r.jaccard_num, r.jaccard_den) for r in capped.collect()}
    # uncapped: the hot 'xx yy' shingle links every doc pair above 0.05
    assert (1, 3) in got_un and (3, 4) in got_un
    # capped: only the real near-dup pair remains
    assert set(got_cap) == {(1, 2)}
    # sizes exclude the dropped shingle: 5 2-grams per doc minus 'xx yy' = 4
    assert got_cap[(1, 2)] == (4, 4)


def test_minhash_lsh_agrees_with_exact(spark, docs):
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=32, bands=16, verify_threshold=0.4
        ).collect()
    }
    assert (1, 2) in got and (1, 3) in got


def test_minhash_estimate_components_and_threshold(spark, docs):
    """Signature-only estimate path: identical docs agree on every
    component (est exactly 1e6), est_e6 is the exact integer floor, the
    threshold is a hard integer cut, and shingle-less docs pair up via
    null-safe equality (the documented estimator-vs-verify divergence)."""
    rows = {
        (r.id_a, r.id_b): (r.n_agree, r.est_e6)
        for r in dedup.minhash_estimate_pairs(
            docs, "doc_id", "text", k=3, num_hashes=32, bands=16,
            est_threshold=0.4,
        ).collect()
    }
    assert rows[(1, 2)] == (32, 1_000_000)  # exact dup: all components
    n13, e13 = rows[(1, 3)]  # near dup: most but not all agree
    assert 32 * 0.4 <= n13 < 32 and e13 == n13 * 1_000_000 // 32
    assert not any(4 in p or 5 in p for p in rows)

    # a 1.0 threshold keeps only the all-components pair
    strict = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_estimate_pairs(
            docs, "doc_id", "text", k=3, num_hashes=32, bands=16,
            est_threshold=1.0,
        ).collect()
    }
    assert strict == {(1, 2)}

    # shingle-less docs: all-NULL signatures, null-safe agreement -> J=1
    empty = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, ""), (4, "")],
        "doc_id bigint, text string",
    )
    got = {
        (r.id_a, r.id_b): r.n_agree
        for r in dedup.minhash_estimate_pairs(
            empty, "doc_id", "text", k=3, num_hashes=8, bands=4,
            est_threshold=0.9,
        ).collect()
    }
    assert got == {(1, 2): 8, (3, 4): 8}


def test_near_dup_groups_connected_components(spark):
    """Min-id propagation: chains collapse to the component min; singletons
    keep themselves; convergence needs diameter rounds (chain 1-2-3-4)."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a bigint, id_b bigint"
    )
    got = {
        r.doc_id: r.keeper_id
        for r in dedup.near_dup_groups(nodes, pairs, "doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_near_dup_groups_raises_on_non_convergence(spark):
    """A component wider than max_iter rounds must fail loudly — silently
    splitting one duplicate cluster across several keepers is under-dedup
    with no signal."""
    import pytest

    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id bigint")
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        # max_driver_pairs=0 forces the distributed iterative path (the
        # driver union-find fast path always converges)
        dedup.near_dup_groups(
            nodes, chain, "doc_id", max_iter=1, max_driver_pairs=0
        )


def test_simhash_identical_docs_collide(spark, docs):
    rows = dedup.simhash_dup_candidates(docs, "doc_id", "text").collect()
    groups = [set(r.example_ids) for r in rows]
    assert any({1, 2} <= g for g in groups)


def test_simhash_example_ids_bounded_and_exact_count(spark):
    # a 30-doc identical-text mega-cluster: n_docs stays exact, the id
    # list is capped at max_examples smallest ids (two-phase collection)
    rows = [(i, "the same exact text repeated verbatim") for i in range(30)]
    rows += [(100, "something else entirely unrelated here")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup.simhash_dup_candidates(
        df, "doc_id", "text", max_examples=4
    ).collect()
    assert len(out) == 1
    assert out[0].n_docs == 30
    assert out[0].example_ids == [0, 1, 2, 3]


def test_embedding_near_dups_exact_vs_lsh(spark):
    import math

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),  # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    exact = dedup.embedding_near_dups(df, threshold=0.95, exact=True).collect()
    assert {(r.id_a, r.id_b) for r in exact} == {(1, 2)}
    lsh = dedup.embedding_near_dups(
        df, threshold=0.95, dim=4, num_planes=4, num_tables=8, exact=False
    ).collect()
    assert {(r.id_a, r.id_b) for r in lsh} == {(1, 2)}


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame(
        [(1, "hello, world! x2"), (2, "")], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r for r in textfn.token_counts(df, "doc_id", "text").collect()}
    # hello , world ! x 2  → wait: 'x2' splits to 'x','2'; tokens: hello ',' world '!' x 2
    assert rows[1].n_bpe_ish_tokens == 6
    assert rows[1].n_ws_tokens == 3
    assert rows[2].n_bpe_ish_tokens == 0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and the dog is here"),
            (2, "el perro es grande y la casa es azul que bien"),
            (3, "zzz qqq www"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r.lang_pred for r in textfn.lang_id(df, "doc_id", "text").collect()}
    assert rows[1] == "en" and rows[2] == "es" and rows[3] == "und"


# --- compile-option escape hatches (grapheme length / python regex) ------------


def test_grapheme_length_option(spark):
    from ndto_spark.compiler import CompileOptions
    from tests.conftest import check

    # 'é' as e + combining acute: 2 codepoints, 1 grapheme
    s = "cafe\u0301"  # 5 codepoints, 4 graphemes
    schema = {"type": "string", "max_length": 4}
    assert check(spark, schema, s, "string") == (
        "$.max_length",
        'String length "Length" is greater than 4',
    )
    assert (
        check(
            spark, schema, s, "string",
            options=CompileOptions(string_length="grapheme"),
        )
        is True
    )


def test_python_pattern_engine(spark):
    from ndto_spark.compiler import CompileOptions

    from tests.conftest import check

    schema = {"type": "string", "pattern": r"(?s)a.b"}  # inline flag: fine in both
    assert (
        check(
            spark, schema, "a\nb", "string",
            options=CompileOptions(pattern_engine="python"),
        )
        is True
    )


def test_apply_dedup_keeps_one_per_group(spark, docs):
    groups = dedup.exact_dedup_groups(docs, "doc_id", "text")
    kept = dedup.apply_dedup(docs, groups, "doc_id")
    ids = sorted(r.doc_id for r in kept.select("doc_id").collect())
    assert ids == [1, 3, 4, 5]  # doc 2 is the exact dup of 1
    # near-dup groups shape works too: (doc_id, keeper_id)
    nd = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)], "doc_id bigint, keeper_id bigint"
    )
    ids2 = sorted(r.doc_id for r in dedup.apply_dedup(docs, nd, "doc_id").collect())
    assert ids2 == [1, 4, 5]


def test_near_dup_groups_pointer_doubling_log_rounds(spark):
    """A 40-node path (diameter 39) must converge within max_iter=8: plain
    propagation needs 39 rounds, the hybrid (4 plain rounds, then
    propagate+shortcut) needs 8 — the O(log diameter) guarantee that keeps
    long chains from stalling at scale."""
    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    got = {
        r.doc_id: r.keeper_id
        for r in dedup.near_dup_groups(
            nodes, chain, "doc_id", max_iter=8, max_driver_pairs=0
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_near_dup_groups_driver_path_matches_distributed(spark):
    """The small-graph driver union-find fast path must return exactly the
    distributed pointer-doubling result (keeper = min id per component,
    singletons keep themselves) on a mixed chain/clique/singleton graph."""
    nodes = spark.createDataFrame(
        [(i,) for i in range(30)], "doc_id bigint"
    )
    pairs = spark.createDataFrame(
        # a 10-node chain, a triangle, an isolated edge
        [(i, i + 1) for i in range(9)]
        + [(20, 21), (21, 22), (20, 22), (25, 26)],
        "id_a bigint, id_b bigint",
    )
    fast = {
        r.doc_id: r.keeper_id
        for r in dedup.near_dup_groups(nodes, pairs, "doc_id").collect()
    }
    slow = {
        r.doc_id: r.keeper_id
        for r in dedup.near_dup_groups(
            nodes, pairs, "doc_id", max_driver_pairs=0
        ).collect()
    }
    assert fast == slow
    assert fast[9] == 0 and fast[22] == 20 and fast[26] == 25
    assert fast[29] == 29


def test_synth_documents_planted_near_dups_recovered(spark):
    """The scaling corpus plants one ~0.76-Jaccard near-dup every 7th row;
    the MinHash+LSH pipeline must recover EXACTLY those pairs (banding
    S-curve catches J≈0.76 with probability ~0.96 per table; 8 bands make
    misses negligible at this size, and the exact verify kills any false
    positive)."""
    from ndto_spark import fixtures

    n = 1400
    dd = fixtures.synth_documents(spark, n, n_partitions=4)
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(dd, "doc_id", "text").collect()
    }
    want = {(i - 1, i) for i in range(7, n, 7)}
    assert got == want


def test_decontaminate_flags_overlapping_docs(spark):
    from ndto_spark.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # contains eval shingle
            (2, "one two three four five six"),           # clean
            (3, "x alpha beta gamma delta epsilon tail"), # shifted overlap
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r.n_hits for r in
           decontaminate(corpus, bench, "doc_id", "text", k=5).collect()}
    # doc 1 shares both 5-shingles of its first 6 tokens? bench has exactly
    # ONE 5-shingle; doc 1 contains it at position 0, doc 3 at position 1
    assert out == {1: 1, 3: 1}


def test_repetition_metrics_known_values(spark):
    from ndto_spark.functions.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),    # bigrams: ab ba ab ba ab → top 'a b' ×3 of 5
            (2, "u v w x"),        # 3 distinct bigrams, no repeats
            (3, "single"),         # < 2 tokens → no row
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in
            repetition_metrics(df, "doc_id", "text", n=2).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert (r1.n_grams, r1.n_distinct_grams, r1.top_gram_count) == (5, 2, 3)
    assert r1.dup_gram_frac_e6 == 600000 and r1.top_gram_share_e6 == 600000
    r2 = rows[2]
    assert (r2.n_grams, r2.n_distinct_grams, r2.top_gram_count) == (3, 3, 1)
    assert r2.dup_gram_frac_e6 == 0


def test_word_shingles_short_docs_yield_empty(spark):
    # regression: ANSI slice(…, 0, k) threw for docs shorter than k tokens
    from ndto_spark.dedup import word_shingles

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "a b c d e")], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r.sh for r in
            df.select("doc_id", word_shingles(F.col("text"), 5).alias("sh")).collect()}
    assert rows[1] == [] and rows[2] == []
    assert rows[3] == ["a b c d e"]


def test_phash_near_dups_banding_and_verify(spark):
    from ndto_spark.dedup import phash_near_dups

    rows = [
        (1, 0b1010_0101_1100_0011),
        (2, 0b1010_0101_1100_0010),  # hamming 1 from id 1
        (3, 0b1010_0101_1100_0011),  # identical to id 1 (hot cluster)
        (4, 0b0101_1010_0011_1100),  # far from everything
        (5, 0b1010_0101_0011_0011),  # hamming 4 from id 1 -> candidate, fails verify
    ]
    df = spark.createDataFrame(rows, "img bigint, ph bigint")
    out = {(r.id_a, r.id_b): r.hamming for r in
           phash_near_dups(df, "img", "ph", bits=16, bands=4, max_hamming=2).collect()}
    assert out == {(1, 2): 1, (1, 3): 0, (2, 3): 1}
    with pytest.raises(ValueError, match="split evenly"):
        phash_near_dups(df, "img", "ph", bits=16, bands=3)
    with pytest.raises(ValueError, match="exact-recall"):
        phash_near_dups(df, "img", "ph", bits=16, bands=4, max_hamming=4)


def test_phash_near_dups_band_cap_drops_mega_cluster(spark, caplog):
    import logging

    from ndto_spark.dedup import phash_near_dups

    # 40-image constant-phash population (solid-color-thumbnail skew) + one
    # hamming-1 pair elsewhere: the cap must drop the quadratic bucket,
    # keep the honest pair, and say so in the log (no silent caps)
    rows = [(i, 0b1111_0000_1111_0000) for i in range(40)]
    rows += [(100, 0b1010_0101_1100_0011), (101, 0b1010_0101_1100_0010)]
    df = spark.createDataFrame(rows, "img bigint, ph bigint")
    with caplog.at_level(logging.WARNING, logger="ndto_spark.dedup"):
        out = phash_near_dups(
            df, "img", "ph", bits=16, bands=4, max_hamming=2, max_band_df=10
        ).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in out} == {(100, 101, 1)}
    assert any("band bucket" in r.message for r in caplog.records)
    # cap ABOVE the cluster size: everything is kept, nothing logged
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="ndto_spark.dedup"):
        full = phash_near_dups(
            df, "img", "ph", bits=16, bands=4, max_hamming=2, max_band_df=50
        )
        assert full.count() == 40 * 39 // 2 + 1
    assert not caplog.records


def test_phash_band_stats_histogram_known_values(spark):
    from ndto_spark.dedup import phash_band_stats

    # bits=4, bands=2 (2-bit keys). 0b0101 x3, 0b1001 x2, 0b0000 x1:
    #   band0 keys: 5&3=1 for ALL five of 5/9 (both low bits 01), 0 for 0
    #   band1 keys: 5>>2=1 (x3), 9>>2=2 (x2), 0 (x1)
    rows = [(5,), (5,), (5,), (9,), (9,), (0,)]
    df = spark.createDataFrame(rows, "ph bigint")
    out = {
        (r.band, r.df_bucket): (r.n_buckets, r.n_rows, r.n_cand_pairs)
        for r in phash_band_stats(df, "ph", bits=4, bands=2).collect()
    }
    assert out == {
        # band0: one df=5 bucket (floor-log2 class 4) -> 10 cand pairs,
        # one singleton
        (0, 4): (1, 5, 10),
        (0, 1): (1, 1, 0),
        # band1: df=3 and df=2 share occupancy class 2 -> 3+1 cand pairs
        (1, 2): (2, 5, 4),
        (1, 1): (1, 1, 0),
    }
    with pytest.raises(ValueError, match="split evenly"):
        phash_band_stats(df, "ph", bits=16, bands=3)


def test_line_dedup_removes_cross_doc_lines(spark):
    # "dup line" appears in docs 1 and 2 (cross-doc -> removed); "solo solo"
    # repeats WITHIN doc 3 only (df=1 -> kept, CCNet semantics); order of
    # surviving lines is preserved.
    rows = [
        (1, "dup line\nkeep one\ndup line"),
        (2, "dup line\nkeep two"),
        (3, "solo solo\nmiddle bit\nsolo solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in dedup.line_dedup(df, "doc_id", "text", min_df=2).collect()
    }
    assert (out[1].n_lines, out[1].n_dup_lines) == (3, 2)
    assert out[1].clean_text == "keep one"
    assert (out[2].n_lines, out[2].n_dup_lines) == (2, 1)
    assert out[2].clean_text == "keep two"
    # within-doc repetition does not count toward document frequency
    assert (out[3].n_lines, out[3].n_dup_lines) == (3, 0)
    assert out[3].clean_text == "solo solo\nmiddle bit\nsolo solo"


def test_line_dedup_all_lines_removed(spark):
    rows = [(1, "same line"), (2, "same line")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in dedup.line_dedup(df, "doc_id", "text").collect()}
    assert out[1].clean_text == "" and out[2].clean_text == ""
    assert out[1].n_dup_lines == 1


def test_bloom_dedup_no_false_negatives(spark):
    prev = spark.createDataFrame(
        [(i, f"previous crawl document {i}") for i in range(50)],
        "doc_id bigint, text string",
    )
    new_rows = [(100 + i, f"previous crawl document {i}") for i in range(25)]
    new_rows += [(200 + i, f"brand new document {i}") for i in range(25)]
    new = spark.createDataFrame(new_rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in dedup.bloom_dedup_flags(
        new, prev, "doc_id", "text", m_bits=1 << 12, k=4
    ).collect()}
    assert len(out) == 50
    # every true duplicate MUST come back (bloom_hit, exact_dup) = (T, T)
    for i in range(25):
        assert out[100 + i].bloom_hit and out[100 + i].exact_dup
    # exact_dup implies bloom_hit everywhere; fresh docs are never exact
    for r in out.values():
        assert r.bloom_hit or not r.exact_dup
        if r.doc_id >= 200:
            assert not r.exact_dup


def test_bloom_false_positive_band_with_tiny_filter(spark):
    # m=64 bits with 50 builds -> heavy fill: SOME fresh doc should
    # bloom-hit without being an exact dup, and must be flagged exactly so
    prev = spark.createDataFrame(
        [(i, f"previous crawl document {i}") for i in range(50)],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(200 + i, f"brand new document {i}") for i in range(50)],
        "doc_id bigint, text string",
    )
    out = dedup.bloom_dedup_flags(
        new, prev, "doc_id", "text", m_bits=64, k=4
    ).collect()
    assert any(r.bloom_hit and not r.exact_dup for r in out)
    assert not any(r.exact_dup for r in out)


def test_semantic_dedup_min_id_keeper(spark):
    # vecs 1,2,3 identical (one semantic group); 10,11 identical but far
    # from the first group; 20 isolated. k=3 clusters separate the groups;
    # within each group every non-min id is removed.
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    rows = (
        [(i, unit(0.0)) for i in (1, 2, 3)]
        + [(i, unit(2.0)) for i in (10, 11)]
        + [(20, unit(4.0))]
    )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r.vec_id: r for r in dedup.semantic_dedup(
        df, dim=8, k=3, n_iter=2, threshold=0.95
    ).collect()}
    assert len(out) == 6
    assert not out[1].removed and out[2].removed and out[3].removed
    assert out[2].n_dups == 1 and out[3].n_dups == 2
    assert not out[10].removed and out[11].removed
    assert not out[20].removed
    # group members share a cluster id
    assert out[1].cid == out[2].cid == out[3].cid
    assert out[10].cid == out[11].cid


def test_semantic_dedup_empty_input(spark):
    df = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    out = dedup.semantic_dedup(df, dim=8, k=3, n_iter=1)
    assert out.count() == 0
    assert out.columns == ["vec_id", "cid", "n_dups", "removed"]


def test_token_stats_counts_and_rank(spark):
    rows = [
        (1, "aa bb aa"),
        (2, "aa cc"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.token: r for r in textfn.token_stats(df, "doc_id", "text").collect()}
    assert (out["aa"].tf, out["aa"].doc_freq, out["aa"].vocab_rank) == (3, 2, 1)
    # tf tie between bb and cc: rank breaks by token ascending
    assert (out["bb"].tf, out["bb"].doc_freq, out["bb"].vocab_rank) == (1, 1, 2)
    assert (out["cc"].tf, out["cc"].doc_freq, out["cc"].vocab_rank) == (1, 1, 3)
    pruned = textfn.token_stats(df, "doc_id", "text", min_tf=2).collect()
    assert [r.token for r in pruned] == ["aa"]


def test_source_mixing_weights_uniform_and_explicit(spark):
    from ndto_spark.functions.sampling import source_mixing_weights

    rows = [(1, "w " * 74 + "w", "a"), (2, "w " * 24 + "w", "b")]  # 75/25
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {r.source: r for r in source_mixing_weights(df, "source", "text").collect()}
    assert out["a"].n_tokens == 75 and out["b"].n_tokens == 25
    assert out["a"].share_e6 == 750000 and out["b"].share_e6 == 250000
    # uniform target 0.5: a downweights to 2/3, b upsamples 2x
    assert out["a"].weight_e6 == 666666 and out["b"].weight_e6 == 2000000
    tgt = {r.source: r for r in source_mixing_weights(
        df, "source", "text", target={"a": 0.9, "b": 0.1}
    ).collect()}
    assert tgt["a"].weight_e6 == 1200000 and tgt["b"].weight_e6 == 400000
    # a source missing from the target map gets weight 0
    none = {r.source: r for r in source_mixing_weights(
        df, "source", "text", target={"a": 1.0}
    ).collect()}
    assert none["b"].weight_e6 == 0


def test_prefix_filter_jaccard_exact_vs_brute_force(spark):
    import itertools

    import pytest

    from ndto_spark.dedup import prefix_filter_jaccard_pairs

    # small corpus with planted overlap structure + shared hot tokens
    texts = {
        1: "the a common w1 w2 w3 w4",
        2: "the a common w1 w2 w3 w5",   # high overlap with 1
        3: "the a common q1 q2 q3 q4",
        4: "the a common q1 q2 q3 q4",   # identical to 3
        5: "the a zz1 zz2 zz3 zz4 zz5",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    t = 0.6
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard_e6)
        for r in prefix_filter_jaccard_pairs(df, "doc_id", "text", t).collect()
    }
    # python brute force over distinct-token sets
    want = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = set(texts[a].split()), set(texts[b].split())
        ni = len(sa & sb)
        un = len(sa | sb)
        if ni and ni / un >= t:
            want[(a, b)] = (ni, ni * 1_000_000 // un)
    assert got == want and (3, 4) in got and (1, 2) in got
    with pytest.raises(ValueError):
        prefix_filter_jaccard_pairs(df, "doc_id", "text", 0.0)


def test_prefix_filter_jaccard_shingle_mode_matches_shingle_sets(spark):
    import itertools

    from ndto_spark.dedup import prefix_filter_jaccard_pairs

    texts = {
        1: "a b c d e f g h",
        2: "a b c d e f g z",  # shares 5-gram shingles with 1
        3: "p q r s t u v w",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )

    def sh(t):
        ws = t.split()
        return {" ".join(ws[i : i + 5]) for i in range(len(ws) - 4)}

    t = 0.4
    got = {
        (r.doc_a, r.doc_b): r.n_common
        for r in prefix_filter_jaccard_pairs(
            df, "doc_id", "text", t, shingle_k=5
        ).collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = sh(texts[a]), sh(texts[b])
        ni = len(sa & sb)
        if ni and ni / len(sa | sb) >= t:
            want[(a, b)] = ni
    assert got == want and (1, 2) in got


def test_phash_near_dups_against_index_lookup(spark):
    import pytest

    from ndto_spark.dedup import phash_near_dups_against

    index = spark.createDataFrame(
        [(1, 0b1010101010101010), (2, 0b0000000011111111), (3, 0)],
        "img bigint, ph bigint",
    )
    batch = spark.createDataFrame(
        [
            (10, 0b1010101010101010),  # exact copy of 1
            (11, 0b0000000011111110),  # hamming 1 from 2
            (12, 0b1111000011110000),  # far from everything
            (13, 0b0000000000000111),  # hamming 3 from 3 → band-matched, rejected
        ],
        "img bigint, ph bigint",
    )
    rows = phash_near_dups_against(
        batch, index, "img", "ph", bits=16, bands=4, max_hamming=2
    ).collect()
    got = {(r.batch_id, r.index_id): r.hamming for r in rows}
    assert got == {(10, 1): 0, (11, 2): 1}
    # never an index self-pair, never a batch self-pair
    assert all(b >= 10 and i < 10 for b, i in got)
    with pytest.raises(ValueError):
        phash_near_dups_against(batch, index, "img", "ph", bits=15, bands=4)
    with pytest.raises(ValueError):
        phash_near_dups_against(
            batch, index, "img", "ph", bits=16, bands=4, max_hamming=4
        )


def test_semantic_decontaminate_flags_and_counts(spark):
    from ndto_spark.dedup import semantic_decontaminate

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    co = spark.createDataFrame(
        [
            (1, [2.0, 0.0]),    # cos=1 to ev100, 0 to ev101 -> 1 hit
            (2, [1.0, 1.0]),    # cos≈0.707 to both -> 2 hits
            (3, [-1.0, 0.0]),   # negative/zero cos -> no hits
            (4, [0.0, 0.0]),    # zero vector skipped
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: (r["n_hits"], round(r["max_sim"], 9))
        for r in semantic_decontaminate(co, ev, threshold=0.5).collect()
    }
    assert out == {1: (1, 1.0), 2: (2, round(2**-0.5, 9))}


def _semantic_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )


@pytest.mark.parametrize("path", ["arrow", "mixed_dims", "over_cap"])
def test_semantic_decontaminate_aggregates_per_id(spark, monkeypatch, path):
    # duplicate and NULL corpus ids: every path returns ONE row per id
    from ndto_spark import ann
    from ndto_spark.dedup import semantic_decontaminate

    co = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (None, [1.0, 0.0]),
            (None, [0.8, 0.2]),
            (2, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    ev_rows = [(100, [1.0, 0.0])]
    if path == "mixed_dims":
        # a 3-dim eval vector never matches a 2-dim one, and a mixed-length
        # eval set takes the expression path
        ev_rows.append((101, [0.0, 0.0, 1.0]))
    if path == "over_cap":
        monkeypatch.setattr(ann, "MAX_DRIVER_QUERIES", 0)
    ev = spark.createDataFrame(ev_rows, "vec_id long, embedding array<double>")
    got = _semantic_rows(semantic_decontaminate(co, ev, threshold=0.5))
    assert got == [(1, 2, 1.0), (None, 2, 1.0)]


def test_semantic_decontaminate_eval_cap_falls_back(spark, monkeypatch):
    from ndto_spark import ann
    from ndto_spark.dedup import semantic_decontaminate

    co = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(1, 25)],
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [(100, [1.0, 1.0, 0.0]), (101, [0.0, 1.0, 1.0]), (102, [2.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    uncapped = _semantic_rows(semantic_decontaminate(co, ev, threshold=0.6))
    assert uncapped
    monkeypatch.setattr(ann, "MAX_DRIVER_QUERIES", 2)
    capped = _semantic_rows(semantic_decontaminate(co, ev, threshold=0.6))
    assert capped == uncapped


def test_dup_spans_cross_doc_within_doc_and_short(spark):
    from ndto_spark.dedup import dup_spans

    df = spark.createDataFrame(
        [
            (1, "abcdefgh"),   # identical to doc 2: every gram duplicated
            (2, "abcdefgh"),
            (3, "aaaaaa"),     # within-doc repeat: "aaaaa" at pos 1 and 2
            (4, "qwertyuiop"), # unique grams only
            (5, "abc"),        # shorter than k: omitted
        ],
        "id long, text string",
    )
    out = {
        r["id"]: (r["n_pos"], r["n_dup"], r["dup_frac_e6"])
        for r in dup_spans(df, "id", "text", k=5).collect()
    }
    assert out[1] == (4, 4, 1_000_000)
    assert out[2] == (4, 4, 1_000_000)
    assert out[3] == (2, 2, 1_000_000)
    assert out[4] == (6, 0, 0)
    assert 5 not in out

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        dup_spans(df, "id", "text", k=1)


def test_centroid_outliers_assignment_and_flag(spark):
    from ndto_spark.ann import centroid_outliers

    cents = [[0.0, 0.0], [10.0, 0.0]]
    df = spark.createDataFrame(
        [
            (1, [0.5, 0.0]),   # d2=0.25 to c0
            (2, [9.0, 0.0]),   # d2=1.0 to c1
            (3, [5.0, 0.0]),   # equidistant (25.0): tie -> cid 0
            (4, [0.0, 3.0]),   # d2=9.0 to c0 -> outlier at thr 2e6
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: (r["cid"], r["dist2_e6"], r["outlier"])
        for r in centroid_outliers(df, cents, threshold_e6=2_000_000).collect()
    }
    assert out[1] == (0, 250_000, False)
    assert out[2] == (1, 1_000_000, False)
    assert out[3][0] == 0 and out[3][2] is True
    assert out[4] == (0, 9_000_000, True)

    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        centroid_outliers(df, [])


def test_hard_negatives_excludes_same_label(spark):
    from ndto_spark.ann import hard_negatives

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 7),
            (1, [0.99, 0.1], 7),   # same label: excluded despite sim
            (2, [0.9, 0.2], 8),
            (3, [0.5, 0.5], None), # null label: valid negative
            (4, [-1.0, 0.0], 8),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    out = hard_negatives(df, df.filter("vec_id = 0"), k=2).collect()
    got = [(r["query_id"], r["neighbor_id"]) for r in out]
    assert got == [(0, 2), (0, 3)]  # ordered by sim desc; 1 excluded


def test_dimension_profile_exact_integers_and_dead_dim(spark):
    from ndto_spark.ann import dimension_profile

    df = spark.createDataFrame(
        [(1, [0.5, 1.0, 0.0]), (2, [0.25, 1.0, -0.5]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    out = {r["dim"]: r for r in dimension_profile(df).collect()}
    assert out[0]["sum_q"] == 750_000_000 and not out[0]["dead"]
    assert out[0]["sum_sq_q"] == 312_500_000  # 0.25e9 + 0.0625e9
    assert out[1]["dead"] and out[1]["min_q"] == 1_000_000_000
    assert out[2]["n_zero"] == 1 and out[2]["min_q"] == -500_000_000
    assert all(out[d]["n"] == 2 for d in (0, 1, 2))


def test_tfidf_top_terms_rank_and_logfree_score(spark):
    from ndto_spark.functions.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "banana shared"),
            (3, "cherry shared"),
        ],
        "id long, text string",
    )
    out = tfidf_top_terms(df, "id", "text", k=2).collect()
    got = {(r["id"], r["rank"]): (r["term"], r["tf"], r["df"], r["score_e6"])
           for r in out}
    # doc1: apple tf=2 df=1 -> 2*(3e6//1)=6e6 beats banana 1*(3e6//2)
    assert got[(1, 1)] == ("apple", 2, 1, 6_000_000)
    assert got[(1, 2)] == ("banana", 1, 2, 1_500_000)
    # doc3: cherry (df=1, 3e6) beats shared (df=3, 1e6)
    assert got[(3, 1)][0] == "cherry" and got[(3, 2)][0] == "shared"


def test_cross_group_dup_matrix_counts_and_canonical_order(spark):
    """Docs 1-2 duplicate across sources B/A (one cross pair, canonical
    (A, B)); docs 3-4 duplicate within A (diagonal); doc 5 is unique."""
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, base, "B"),
        (2, base, "A"),
        (3, base + " tail", "A"),
        (4, base + " tail", "A"),
        (5, "completely different content about spark shuffles here now", "C"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = {
        (r.group_a, r.group_b): r.n_pairs
        for r in dedup.cross_group_dup_matrix(
            docs, "doc_id", "text", "source", k=3, num_hashes=32, bands=16,
            verify_threshold=0.5,
        ).collect()
    }
    assert got[("A", "B")] >= 1      # the cross-source dup pair
    assert got[("A", "A")] >= 1      # the within-source dup pair
    assert not any("C" in p for p in got)
