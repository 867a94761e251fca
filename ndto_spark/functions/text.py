"""Text analysis over document tables: quality scoring, language ID,
token counting, document fingerprinting.

All expression-side (built-in pyspark.sql.functions) — these run inside
whole-stage codegen with zero Python in the hot path.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd  # module-global: pandas_udf type-hint resolution needs it
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import spill
from ..compiler import bind
from ..dedup import _spread, md5_low32, tokens, word_shingles
from ..pyworker import settle

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "es"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
}


def _adjacent_pairs(text: Column) -> Column:
    """array<struct<left, right>> of the adjacent token pairs of ``text``
    (position order, repeats kept); NULL for docs with fewer than two
    tokens. The token array is let-bound, so the per-position lambda reads
    it by value instead of re-tokenizing."""

    def _pairs(toks: Column) -> Column:
        n = F.size(toks)
        arr = F.transform(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda i: F.struct(
                F.get(toks, i - F.lit(1)).alias("left"),
                F.get(toks, i).alias("right"),
            ),
        )
        return F.when(n >= 2, arr)

    return bind(tokens(text), _pairs)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def stopword_count(col: Column, stopwords: list[str]) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*stopwords)))


def punct_count(col: Column) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))


def quality_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document integer quality features (engine-independent: no floats).

    (id, char_count, token_count, distinct_tokens, stopword_count,
    punct_count, max_token_len)
    """
    t = F.col(text_col)
    # counts cast to bigint: DuckDB len()/count() yield BIGINT — keeps the
    # oracle comparison schema-identical
    return df.select(
        F.col(id_col),
        F.length(t).cast("bigint").alias("char_count"),
        token_count(t).cast("bigint").alias("n_tokens"),
        distinct_token_count(t).cast("bigint").alias("n_distinct_tokens"),
        stopword_count(t, LANG_MARKERS["en"]).cast("bigint").alias("n_stopwords"),
        punct_count(t).cast("bigint").alias("n_punct"),
        F.array_max(F.transform(tokens(t), lambda x: F.length(x)))
        .cast("bigint")
        .alias("max_token_len"),
    )


def lang_scores(col: Column) -> list[tuple[str, Column]]:
    return [
        (lang, stopword_count(col, markers))
        for lang, markers in LANG_MARKERS.items()
    ]


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-marker language ID: argmax language score, 'und' when all 0.

    Ties break by language name order (deterministic).
    """
    t = F.col(text_col)
    scores = lang_scores(t)
    entries = F.array(
        *[
            F.struct((-score).alias("neg"), F.lit(lang).alias("lang"))
            for lang, score in scores
        ]
    )
    best = F.get(F.array_sort(entries), 0)
    pred = F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und"))
    return df.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        (-best["neg"]).cast("bigint").alias("lang_score"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint.

    The fingerprint is the lexicographic MIN of the md5 hashes of the
    document's k-token shingles (min-hash sketch of size 1 with a strong
    hash), plus the shingle count. Identical-content docs share fingerprints;
    it is cheap (expression-side) and engine-independent.
    """
    sh = word_shingles(F.col(text_col), k)
    hashes = F.transform(sh, lambda s: F.md5(s))
    return df.select(
        F.col(id_col),
        F.array_min(hashes).alias("fingerprint"),
        F.size(sh).cast("bigint").alias("n_shingles"),
    )


# GPT2-style pre-tokenizer shape: word pieces, numbers, punctuation runs,
# whitespace collapsed — a BPE-ish approximation with no vocab dependency
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+|\s+"


def bpe_ish_token_count(col: Column) -> Column:
    """Count of BPE-ish tokens (regex pre-tokenization, excluding whitespace
    runs) — the vocabulary-free approximation of an LLM token count."""
    toks = F.regexp_extract_all(col, F.lit(f"({BPE_ISH_PATTERN})"), 1)
    return F.size(F.filter(toks, lambda t: ~t.rlike(r"^\s+$")))


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_ws_tokens, n_bpe_ish_tokens) — whitespace + BPE-ish counts."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(t).cast("bigint").alias("n_ws_tokens"),
        bpe_ish_token_count(t).cast("bigint").alias("n_bpe_ish_tokens"),
    )


def ngrams(col: Column, n: int) -> Column:
    """NON-distinct n-token grams of a text column (order preserved) —
    unlike word_shingles, repeats are kept: repetition metrics need the
    multiset. Docs with fewer than n tokens yield an empty array (same
    short-doc ANSI slice guard, same let-``bind`` as word_shingles)."""

    def _grams(toks: Column) -> Column:
        m = F.size(toks)
        idx = F.sequence(F.lit(1), m - F.lit(n - 1))
        grams = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))
        )
        return F.when(m >= F.lit(n), grams).otherwise(
            F.array().cast("array<string>")
        )

    return bind(tokens(col), _grams)


def repetition_metrics(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style within-document repetition signals.

    (id, n_grams, n_distinct_grams, dup_gram_frac_e6, top_gram_count,
    top_gram_share_e6): duplicate-gram fraction = 1 - distinct/total, and
    the most-frequent gram's share — the classic filters for boilerplate /
    looping generations. Docs with fewer than ``n`` tokens emit no row.

    Scale shape: explode → per-(doc, gram) count (map-side partial agg,
    keyed by doc so the groupBy shuffles each doc's grams once) → per-doc
    sum/max. No per-doc O(tokens²) HOF work — a 10k-token document costs
    10k rows, not 10^8 comparisons. explode_outer + post-filter keeps
    InferFiltersFromGenerate from re-evaluating the gram construction per
    row (the repo-wide generator rule).
    """
    # _spread before the gram explode (file-layout-bound scans)
    g = (
        _spread(
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        )
        .select("_id", F.explode_outer(ngrams(F.col("_t"), n)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    # PLAN NOTE: deliberately TWO exchanges, not a shared repartition(_id).
    # A pre-repartition on _id alone would satisfy both aggregations'
    # clustering (measured: 1 Exchange vs 2) but showed no wall-clock win
    # and concentrates each document on ONE partition — a single
    # billion-token document would hot-spot a task. Partitioning the first
    # aggregation by (_id, g) spreads a pathological doc across partitions
    # and its map-side partial combine shrinks the shuffle; the second
    # shuffle carries only one row per distinct (doc, gram).
    per = g.groupBy("_id", "g").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("_id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("nd"),
        F.max("c").alias("tc"),
    )
    return agg.select(
        F.col("_id").alias(id_col),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("nd").cast("bigint").alias("n_distinct_grams"),
        F.floor(
            (F.lit(1.0) - F.col("nd") / F.col("n_grams")) * F.lit(1e6)
        ).cast("bigint").alias("dup_gram_frac_e6"),
        F.col("tc").cast("bigint").alias("top_gram_count"),
        F.floor(F.col("tc") / F.col("n_grams") * F.lit(1e6))
        .cast("bigint")
        .alias("top_gram_share_e6"),
    )


def token_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tf: int = 1,
) -> DataFrame:
    """Corpus token-frequency table — ``(token, tf, doc_freq, vocab_rank)`` — the
    tokenizer-training / vocab-pruning primitive (BPE corpora start from
    exactly this table).

    tf = total occurrences, doc_freq = documents containing the token,
    vocab_rank = position by (tf DESC, token ASC) — fully deterministic.

    Plan shape: explode → partially-aggregated groupBy(token) carrying
    count + count(DISTINCT doc) (the distinct shuffles (token, doc) pairs,
    bounded by corpus token volume). The ranking window is GLOBAL (one
    partition) but runs over the VOCABULARY, not the corpus — filter with
    ``min_tf`` first; natural-language vocabularies are millions of rows
    where the corpus is trillions, and a tf floor of even 2 cuts the
    hapax tail in half.
    """
    from pyspark.sql import Window

    # _spread before the tokenize explode (file-layout-bound scans)
    toks = _spread(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    ).select(
        "doc", F.explode_outer(tokens(F.col("_t"))).alias("token")
    ).filter(F.col("token").isNotNull())
    agg = (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.countDistinct("doc").cast("bigint").alias("doc_freq"),
        )
        .filter(F.col("tf") >= min_tf)
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("token"))
    return agg.select(
        "token",
        "tf",
        "doc_freq",
        F.row_number().over(w).cast("bigint").alias("vocab_rank"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 lexical relevance of every MATCHING document against a fixed
    query-term set — the lexical-retrieval complement to the ANN embedding
    family (docs matching no term are omitted; their score is 0).

    Output ``(id, n_terms, score)``: n_terms = distinct query terms
    matched, score = Robertson/Sparck-Jones BM25 with idf =
    ln(1 + (N - df + .5)/(df + .5)). Term contributions are added in
    sorted-term order fixed inside ONE expression, so the float64 result
    is deterministic and engine-portable (absent terms add literal 0.0 —
    IEEE-exact no-op); quantize downstream when comparing across engines.

    Plan shape — one tokenization per job, zero joins:

    - ONE wide groupBy(id) computes the document length AND every per-term
      tf as conditional-count columns in the same pass; partial
      aggregation collapses the token stream map-side, so the shuffle is
      |docs| compact rows of (2 + |terms|) longs — the text never
      shuffles. (The join formulation re-scanned + re-tokenized the
      corpus once per branch: tf, df, dl, stats — four passes; inferred
      IsNotNull filters and column pruning de-canonicalize the subtrees,
      so ReuseExchange cannot merge them.)
    - ONE eager 1-row aggregate over those rows yields N, avgdl, and
      every term's document frequency; they embed as literals in the
      scoring expression (the IVF-codebook discipline, ann.py) — idf is
      still computed BY the engine's ln so both engines' libm agree.
    - The score is then a pure column expression over the wide tf row.

    ``query_terms`` is capped at 128 (each term adds agg + scoring
    expression width; lexical queries beyond that want a different
    algorithm, not a wider expression). Eager: the stats job runs at call
    time (like ann.kmeans_centroids).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    if len(terms) > 128:
        raise ValueError(
            f"{len(terms)} query terms: bm25_scores caps at 128 (expression "
            "width); split the query or prune terms"
        )
    # _spread before the tokenize explode (file-layout-bound scans)
    base = _spread(
        df.where(
            F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
        ).select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    )
    toks = base.select(
        "id", F.explode_outer(tokens(F.col("text"))).alias("token")
    )
    per_doc = toks.groupBy("id").agg(
        F.count("token").alias("dl"),  # count(col) skips the explode_outer
        # null of an empty doc → dl = 0
        *[
            F.count(F.when(F.col("token") == F.lit(t), 1)).alias(f"__tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    # empty corpus: avg/sum aggregates come back NULL — any value works,
    # the result frame is empty either way
    n_docs = float(stats["n"])
    avgdl = float(stats["avgdl"]) if stats["avgdl"] is not None else 1.0
    dfs = [
        float(stats[f"__df_{i}"]) if stats[f"__df_{i}"] is not None else 0.0
        for i in range(len(terms))
    ]

    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (F.lit(n_docs) - F.lit(dfs[i]) + F.lit(0.5))
            / (F.lit(dfs[i]) + F.lit(0.5))
        )
        score = score + F.when(
            F.col(f"__tf_{i}") > 0,
            idf * tf * F.lit(k1 + 1.0) / (tf + norm),
        ).otherwise(F.lit(0.0))
    n_terms = sum(
        (F.col(f"__tf_{i}") > 0).cast("long") for i in range(len(terms))
    )
    return (
        per_doc.withColumn("n_terms", n_terms)
        .filter(F.col("n_terms") > 0)
        .select(
            F.col("id").alias(id_col),
            F.col("n_terms").cast("bigint").alias("n_terms"),
            score.alias("score"),
        )
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
    n_buckets: int = 1024,
    k: int = 2,
) -> DataFrame:
    """DSIR hashed-n-gram importance weights (Xie et al., "Data Selection
    for Language Models via Importance Resampling", NeurIPS 2023): score
    every document by how much more likely its hashed k-gram features are
    under the TARGET distribution (rows matching ``target_pred``) than
    under the raw corpus.

    Each k-token gram (multiset — repeats count) hashes to a bucket via
    md5_low32(gram) % n_buckets; bucket unigram models with add-1
    smoothing give

        logw(doc) = sum over grams g of
            ln( (tgt_cnt[b(g)]+1) / (tgt_total+B) )
          - ln( (raw_cnt[b(g)]+1) / (raw_total+B) )

    Output ``(id, n_grams, logw)``; docs with zero grams (< k tokens) are
    omitted (their weight is vacuously 0, like bm25's non-matchers). The
    per-doc float fold runs in ascending-bucket order inside ONE
    expression, so the double result is deterministic and engine-portable
    (the gate oracle replays it with DuckDB's ``list(... ORDER BY b)``).

    Plan shape — two jobs (model, then score — the bm25-stats /
    IVF-codebook discipline), each tokenizing once; nothing wide ever
    shuffles:

    - explode_outer the hashed-gram array (the rule-safe explode: plain
      explode lets InferFiltersFromGenerate push the whole gram expression
      into an inferred filter, re-evaluating it per row), then ONE
      partially-aggregated groupBy(id, bucket) collapses the gram stream
      map-side — the shuffle is compact (id, bucket, cnt) longs.
    - the bucket model is a second partial aggregate over those rows down
      to ``n_buckets`` rows, collected ONCE to the driver and embedded as
      a literal log-ratio array (the IVF-codebook / bm25-stats
      discipline) — scoring is then a pure column expression with ZERO
      joins. Eager: the model job runs at call time.
    - ``n_buckets`` caps at 4096 (the literal array rides in every task's
      serialized plan; DSIR quality plateaus well below that — the paper
      uses 10k buckets for full CommonCrawl, where you'd shard the score
      pass instead of widening one literal).
    """
    if not 2 <= n_buckets <= 4096:
        raise ValueError(
            f"n_buckets must be in [2, 4096], got {n_buckets} (the bucket "
            "model embeds as a plan literal)"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import math

    # _spread ahead of the n-gram hashing (file-layout-bound scan tasks)
    base = _spread(
        df.where(F.col(id_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("text"),
            target_pred.cast("boolean").alias("is_tgt"),
        )
    )
    buckets = F.transform(
        ngrams(F.col("text"), k),
        lambda g: (md5_low32(g) % F.lit(n_buckets)).cast("int"),
    )
    g = base.select(
        "id", "is_tgt", F.explode_outer(buckets).alias("bucket")
    ).where(F.col("bucket").isNotNull())
    pdb = g.groupBy("id", "is_tgt", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # spill the compact (id, is_tgt, bucket, cnt) frame ONCE to a
    # run-scoped temp parquet (the near_dup_groups lineage-truncation
    # pattern): the bucket-model job collects from it EAGERLY below and
    # the scoring job re-reads it — without the spill each job would
    # re-tokenize and re-hash the full corpus (model + score = two full
    # text passes; now one). Text itself never spills.
    pdb = spill.materialize(pdb, "dsir")
    stats = (
        pdb.groupBy("bucket")
        .agg(
            F.sum("cnt").alias("raw_cnt"),
            F.sum(F.when(F.col("is_tgt"), F.col("cnt")).otherwise(0)).alias(
                "tgt_cnt"
            ),
        )
        .collect()
    )
    raw = [0] * n_buckets
    tgt = [0] * n_buckets
    for r in stats:
        raw[r["bucket"]] = int(r["raw_cnt"])
        tgt[r["bucket"]] = int(r["tgt_cnt"] or 0)
    raw_tot, tgt_tot = sum(raw), sum(tgt)
    # one division then ln: both engines see the same exact-rational
    # inputs, so libm agreement (the bm25 precedent) carries the result
    lr = [
        math.log(float(tgt[b] + 1) / float(tgt_tot + n_buckets))
        - math.log(float(raw[b] + 1) / float(raw_tot + n_buckets))
        for b in range(n_buckets)
    ]
    lr_arr = F.array(*[F.lit(float(v)) for v in lr])
    terms = pdb.select(
        "id",
        "bucket",
        "cnt",
        (F.col("cnt").cast("double") * F.get(lr_arr, F.col("bucket"))).alias(
            "term"
        ),
    )
    folded = terms.groupBy("id").agg(
        F.sum("cnt").cast("bigint").alias("n_grams"),
        F.array_sort(F.collect_list(F.struct("bucket", "term"))).alias("_ts"),
    )
    return folded.select(
        F.col("id").alias(id_col),
        "n_grams",
        F.aggregate(
            F.col("_ts"), F.lit(0.0), lambda acc, x: acc + x["term"]
        ).alias("logw"),
    )


# PII detection/redaction patterns, applied in DECLARATION ORDER (emails
# first: their local parts may contain digits/dashes that the phone
# pattern would otherwise bite into). Patterns are deliberately restricted
# to syntax with identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, non-capturing groups,
# ASCII \b — no lookarounds, no backreferences — so the gate oracle can
# replay redaction byte-exactly.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+\d{1,3}-\d{1,4}-\d{4,8}", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IPV4>"),
]


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4/Dolma-style PII cleanup: per-document match counts for each
    PII class plus the redacted text.

    Output ``(id, n_email, n_phone, n_ipv4, clean_text)``. Counts are
    taken on the RAW text per class; redaction then applies every
    pattern sequentially in ``PII_PATTERNS`` order (a span consumed by an
    earlier class is invisible to later ones — the standard scrub
    semantics; the patterns are disjoint on well-formed text).

    Plan shape: one projection of JVM ``regexp_count`` /
    ``regexp_replace`` expressions — whole-stage codegen, zero Python,
    zero shuffle; scans at parquet-read speed and pushes column pruning
    down to (id, text).
    """
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = t
    for _, pat, token in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, token)
    return df.select(F.col(id_col), *counts, clean.alias("clean_text"))


def remove_common_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 3,
    max_common: int = 10000,
    min_line_chars: int = 1,
) -> DataFrame:
    """RefinedWeb/CCNet-style boilerplate removal: delete every line whose
    corpus DOCUMENT frequency is >= ``min_df`` (cookie banners, nav menus,
    "subscribe" footers — text repeated verbatim across many pages).

    Frequency is per-document (a doc repeating its own line does not
    inflate it). Lines shorter than ``min_line_chars`` are never counted
    nor removed (an empty line is structure, not boilerplate). The common
    set is bounded to the ``max_common`` most frequent lines
    (count desc, hash asc — deterministic) and broadcast; the bound is a
    documented cap, not a silent truncation: callers sizing real corpora
    should raise it or pre-shard by registrable domain.

    Output ``(id, clean_text, n_lines, n_removed)``.

    Plan shape: document text never shuffles. The counting pass ships
    only DISTINCT (doc, md5(line)) pairs (partial-aggregated groupBy);
    the bounded common set returns to every executor as ONE broadcast
    array, and cleaning is a per-row expression (filter + array_join)
    over the re-split text — no explode/regroup round trip of the corpus.
    The md5 let-binds via compiler.bind so the split runs once per row, not
    once per line (HOFs re-evaluate lambda-body subtrees per element).
    """

    lines_col = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    pairs = (
        df.select(F.col(id_col), F.explode_outer(lines_col).alias("__line"))
        .filter(
            F.col("__line").isNotNull()
            & (F.length("__line") >= F.lit(min_line_chars))
        )
        .select(F.col(id_col), F.md5("__line").alias("__h"))
        .distinct()
    )
    common = (
        pairs.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= F.lit(min_df))
        .orderBy(F.col("__df").desc(), F.col("__h"))
        .limit(max_common)
        .agg(F.array_sort(F.collect_list("__h")).alias("__common"))
    )

    def _clean(ls: Column) -> Column:
        kept = F.filter(
            ls, lambda l: ~F.array_contains(F.col("__common"), F.md5(l))
        )
        return F.struct(
            F.array_join(kept, "\n").alias("clean_text"),
            F.size(ls).cast("long").alias("n_lines"),
            (F.size(ls) - F.size(kept)).cast("long").alias("n_removed"),
        )

    out = df.crossJoin(F.broadcast(common)).select(
        F.col(id_col), bind(lines_col, _clean).alias("__s")
    )
    return out.select(
        id_col, "__s.clean_text", "__s.n_lines", "__s.n_removed"
    )


def vocab_oov(
    df: DataFrame, id_col: str, text_col: str, vocab_size: int = 1000
) -> DataFrame:
    """Corpus-frequency vocabulary + per-document out-of-vocabulary rate.

    Builds the ``vocab_size`` most frequent whitespace tokens (count desc,
    token asc — deterministic tie-break), then scores every document by
    the fraction of its tokens outside that vocabulary — the classic
    cheap gibberish / wrong-domain quality signal.

    Output ``(id, n_tokens, n_oov, oov_rate_e6)`` — rate floor-quantized
    to 1e-6 (NULL for token-less docs); empty tokens are ignored.

    Plan shape: the exploded token stream is repartitioned ONCE on the
    token so ReuseExchange shares a single scan+explode between the
    vocab-count branch and the scoring branch (both consume it: the
    groupBy pre-partitions, the probe reads the same exchange). The vocab
    is <= vocab_size rows -> broadcast hash join (no shuffle to score);
    the per-doc rollup is a partial-aggregated groupBy(id). Token-less
    docs re-enter via a left join against the (id)-projected input.
    """
    toks = (
        df.select(
            F.col(id_col),
            F.explode_outer(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
            ).alias("__tok"),
        )
        .filter(F.col("__tok").isNotNull() & (F.col("__tok") != ""))
        .repartition("__tok")
    )
    vocab = (
        toks.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("__tok"))
        .limit(vocab_size)
        .select("__tok", F.lit(True).alias("__in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "__tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("__n_oov"),
        )
    )
    nt = F.coalesce(F.col("__n_tokens"), F.lit(0))
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            nt.cast("long").alias("n_tokens"),
            F.coalesce(F.col("__n_oov"), F.lit(0)).cast("long").alias("n_oov"),
            F.when(
                nt > 0,
                F.floor(F.lit(1e6) * F.col("__n_oov") / F.col("__n_tokens")),
            )
            .cast("long")
            .alias("oov_rate_e6"),
        )
    )


def c4_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    mean_len_lo: int = 3,
    mean_len_hi: int = 10,
    min_stopwords: int = 2,
    punct_max_pct: int = 10,
    distinct_min_pct: int = 30,
) -> DataFrame:
    """C4/Gopher-style document quality filter: one keep/drop verdict per
    doc with the FIRST failing rule as the reason (fixed priority order,
    the validator convention).

    Rules (Rae et al. Gopher §A1.1 / Raffel et al. C4 heuristics):
    token count in [min_tokens, max_tokens]; mean token length in
    [mean_len_lo, mean_len_hi]; at least min_stopwords stopwords;
    punctuation <= punct_max_pct% of chars; distinct tokens >=
    distinct_min_pct% of tokens (repetition proxy). Every ratio is
    compared CROSS-MULTIPLIED on integers (s < lo*n, 100*punct >
    pct*chars) — no floats anywhere, so any engine replays it exactly.

    Output ``(id, n_tokens, keep, fail_reason)``; fail_reason NULL on keep.

    Scale: one projection of codegen expressions — no shuffle, no Python;
    the token array let-binds via compiler.bind so it is computed once per
    row (HOFs re-evaluate lambda-body subtrees per element).
    """

    t = F.col(text_col)

    def _verdict(toks: Column) -> Column:
        n = F.size(toks).cast("long")
        s = F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )
        n_distinct = F.size(F.array_distinct(toks)).cast("long")
        n_stop = F.size(
            F.filter(
                toks,
                lambda x: x.isin(*LANG_MARKERS["en"]),
            )
        ).cast("long")
        chars = F.length(t).cast("long")
        n_punct = (
            chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
        ).cast("long")
        reason = (
            F.when(n < min_tokens, F.lit("too_few_tokens"))
            .when(n > max_tokens, F.lit("too_many_tokens"))
            .when(s < F.lit(mean_len_lo) * n, F.lit("mean_token_len_low"))
            .when(s > F.lit(mean_len_hi) * n, F.lit("mean_token_len_high"))
            .when(n_stop < min_stopwords, F.lit("low_stopword_count"))
            .when(
                F.lit(100) * n_punct > F.lit(punct_max_pct) * chars,
                F.lit("high_punct_ratio"),
            )
            .when(
                F.lit(100) * n_distinct < F.lit(distinct_min_pct) * n,
                F.lit("low_distinct_ratio"),
            )
        )
        return F.struct(
            n.alias("n_tokens"),
            reason.isNull().alias("keep"),
            reason.alias("fail_reason"),
        )

    out = df.select(F.col(id_col), bind(tokens(t), _verdict).alias("__v"))
    return out.select(id_col, "__v.n_tokens", "__v.keep", "__v.fail_reason")


_NORM_FORMS = ("NFC", "NFD", "NFKC", "NFKD")
_NORM_UDF_CACHE: dict = {}


def _unicode_normalize_udf(form: str):
    """Arrow-batched Unicode normalizer (pandas ``Series.str.normalize`` —
    CPython's unicodedata tables). Spark has no built-in normalizer, so this
    is the documented Python escape hatch: vectorized batches, nulls
    propagate, never per-Spark-row. Cached per form (one UDF object reused
    across plans, same discipline as compiler._UDF_CACHE)."""
    if form not in _NORM_UDF_CACHE:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _norm(col: pd.Series) -> pd.Series:
            settle()
            return col.str.normalize(form)

        _NORM_UDF_CACHE[form] = _norm
    return _NORM_UDF_CACHE[form]


def normalize_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    form: str = "NFC",
    lowercase: bool = False,
    collapse_ws: bool = True,
) -> DataFrame:
    """Unicode + whitespace canonicalization — the cleanup pass that runs
    BEFORE any hash-based dedup so visually-identical strings ('café'
    composed vs decomposed, NFKC ligatures/fullwidth forms) collapse to one
    byte sequence. Returns (id_col, norm_text).

    Order: Unicode normalize (Arrow-batched Python — Spark lacks a
    built-in) → optional lower() → optional whitespace collapse + trim
    (both JVM-side, codegen). The gate oracle recomputes NFC with DuckDB's
    utf8proc `nfc_normalize` — a genuinely independent second
    implementation, not a replay of ours.

    Plan shape: one narrow (id, text) projection through a single Arrow
    exchange, zero shuffle; downstream dedup hashes norm_text instead of
    text with no other change.
    """
    if form not in _NORM_FORMS:
        raise ValueError(f"form must be one of {_NORM_FORMS}, got {form!r}")
    out = _unicode_normalize_udf(form)(F.col(text_col))
    if lowercase:
        out = F.lower(out)
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return df.select(F.col(id_col), out.alias("norm_text"))


def pair_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tf: int = 1,
) -> DataFrame:
    """Adjacent-token-pair frequency table — ``(left, right, tf, doc_freq,
    pair_rank)`` — one BPE merge iteration's candidate table (the merge
    picked is pair_rank = 1) and the bigram-LM / collocation primitive.

    tf counts every adjacent occurrence (multiset, overlaps included:
    'a a a' yields ('a','a') twice); doc_freq counts documents containing
    the pair; pair_rank orders by (tf DESC, left ASC, right ASC) — fully
    deterministic, so the greedy merge choice is reproducible across
    engines and cluster sizes.

    Plan shape: same as token_stats — the pair array builds inside the
    generator from ONE let-bound tokenization (HOF bodies re-evaluate per
    element otherwise), explode → partial-agg groupBy(pair). The ranking
    window is global but runs over the PAIR VOCABULARY after the
    ``min_tf`` floor, never the corpus.
    """
    from pyspark.sql import Window


    pairs = df.select(
        F.col(id_col).alias("doc"),
        F.explode_outer(_adjacent_pairs(F.col(text_col))).alias("p"),
    ).filter(F.col("p").isNotNull())
    agg = (
        pairs.groupBy("p.left", "p.right")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.countDistinct("doc").cast("bigint").alias("doc_freq"),
        )
        .filter(F.col("tf") >= min_tf)
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("left"), F.col("right"))
    return agg.select(
        "left",
        "right",
        "tf",
        "doc_freq",
        F.row_number().over(w).cast("bigint").alias("pair_rank"),
    )


# host: skip scheme and userinfo, stop at path/port/query/fragment.
# RE2/Java-portable (no lookbehind) so Spark and DuckDB extract identically.
_URL_HOST_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)"
# registered domain approximation: last two dot-labels (an offline engine
# has no public-suffix list; document the co.uk-style caveat)
_REG_DOMAIN_RE = r"([^.]+\.[^.]+)$"


def extract_domain(col: Column) -> Column:
    """(host, domain) struct from a URL string: host = authority minus
    scheme/userinfo/port, lowercased; domain = last two labels (public-
    suffix-list-free approximation — 'a.co.uk' yields 'co.uk'; swap in a
    PSL join for exactness when the list is available)."""
    host = F.lower(F.regexp_extract(col, _URL_HOST_RE, 1))
    return F.struct(
        host.alias("host"),
        F.regexp_extract(host, _REG_DOMAIN_RE, 1).alias("domain"),
    )


def domain_filter(
    df: DataFrame,
    id_col: str,
    url_col: str,
    blocklist: DataFrame,
) -> DataFrame:
    """URL blocklist filtering — the C4/RefinedWeb provenance gate: extract
    each document's registered domain and mark it blocked when the domain
    appears in ``blocklist`` (a 1-column DataFrame of domains).

    Output (id, host, domain, blocked). Plan shape: domain extraction is
    a pure codegen projection; the membership test is a BROADCAST left
    join on the extracted domain (blocklists are thousands-to-millions of
    rows — driver-size, never a shuffle of the corpus). The corpus text/
    URL never moves; only the id + two short strings flow.
    """
    bl_col = blocklist.columns[0]
    bl = F.broadcast(
        blocklist.select(
            F.lower(F.col(bl_col)).alias("domain"),
            F.lit(True).alias("_blocked"),
        ).dropDuplicates(["domain"])
    )
    base = df.select(
        F.col(id_col), extract_domain(F.col(url_col)).alias("_d")
    ).select(id_col, "_d.host", "_d.domain")
    return base.join(bl, "domain", "left").select(
        id_col,
        "host",
        "domain",
        F.coalesce(F.col("_blocked"), F.lit(False)).alias("blocked"),
    )


# RE2/Java-portable HTML cleanup (no lookbehind/backrefs). (?s) makes .
# cross newlines for the container contents; (?i) case-folds tag names.
_HTML_DROP_RE = (  # no backreference: RE2 (the oracle engine) lacks them
    r"(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>"
)
_HTML_TAG_RE = r"(?s)<[^>]+>"
_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # LAST: so '&amp;lt;' decodes to '&lt;', not '<'
]


def strip_html(col: Column) -> Column:
    """Plain text from an HTML fragment — the Common Crawl WET-style
    extraction pass: drop <script>/<style> with their CONTENTS, strip the
    remaining tags, decode the five XML entities + nbsp (in a fixed order,
    &amp; last so double-escaped text decodes one level, the standard
    behavior), collapse whitespace runs, trim.

    Regex-only (RE2/Java-portable — no backtracking constructs), so it
    runs as a chain of codegen regexp_replace ops: zero Python, zero
    shuffle. A parser it is not (malformed nesting
    degrades gracefully to over-stripping); for DOM-accurate extraction
    plug a real parser into the mapInPandas escape hatch instead.
    """
    out = F.regexp_replace(col, _HTML_DROP_RE, " ")
    out = F.regexp_replace(out, _HTML_TAG_RE, " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.regexp_replace(out, ent, rep)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def corpus_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_cols: list,
) -> DataFrame:
    """Dataset-card summary — the per-(source, lang, ...) corpus breakdown
    every data release ships: document/token/char counts, mean and max
    document length, and each group's share of the corpus.

    Output (*group_cols, n_docs, n_tokens, n_chars, mean_tokens_e4,
    max_tokens, share_docs_e6, share_tokens_e6). Shares are exact integer
    ratios quantized e6; means are floor(1e4 · tokens/docs) — single IEEE
    divides, engine-portable.

    Plan shape: ONE corpus scan into a partially-aggregated groupBy on
    the group key; the share windows run over the GROUP table (sources ×
    languages — dozens of rows), never the corpus, so the unpartitioned
    window is cheap.
    """
    from pyspark.sql import Window

    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    t = F.col(text_col)
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(token_count(t)).cast("bigint").alias("n_tokens"),
        F.sum(F.length(t)).cast("bigint").alias("n_chars"),
        F.max(token_count(t)).cast("bigint").alias("max_tokens"),
    )
    w = Window.partitionBy()
    tot_docs = F.sum("n_docs").over(w)
    tot_toks = F.sum("n_tokens").over(w)
    return g.select(
        *group_cols,
        "n_docs",
        "n_tokens",
        "n_chars",
        F.floor(F.col("n_tokens") / F.col("n_docs") * F.lit(1e4))
        .cast("bigint")
        .alias("mean_tokens_e4"),
        "max_tokens",
        F.floor(F.col("n_docs") / tot_docs * F.lit(1e6))
        .cast("bigint")
        .alias("share_docs_e6"),
        F.floor(F.col("n_tokens") / tot_toks * F.lit(1e6))
        .cast("bigint")
        .alias("share_tokens_e6"),
    )


def collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_pair_tf: int = 2,
) -> DataFrame:
    """Collocation extraction by LIFT — P(l,r) / (P(l)·P(r)), the monotone
    exp(PMI) (no logarithm: libm log differs across engines; the ratio is
    plain arithmetic, so rankings and quantized values are engine-exact).
    Multiword-expression mining / tokenizer-merge quality signal.

    Output (left, right, pair_tf, tf_l, tf_r, lift_e6) with
    lift_e6 = floor(((pair_tf·1e6 / tot_pairs) · tot_toks / tf_l)
                     · tot_toks / tf_r)
    — the exact op order both engines replay.

    Plan shape: ONE tokenization feeding both the unigram and the pair
    aggregates would need a cached intermediate; instead each aggregate
    tokenizes its own scan (two scans, zero caching risk) and the two
    corpus totals collect as a 1-row broadcast (the repo's codebook
    pattern). The tf joins shuffle the PAIR VOCABULARY (min_pair_tf-pruned)
    against the unigram vocabulary — vocab-sized, never corpus-sized.
    """

    # _spread before both tokenize explodes (file-layout-bound scans); the
    # shared round-robin exchange is reused across the unigram and pair
    # aggregates within the final plan
    rows = _spread(df.select(F.col(text_col).alias("_t")))
    toks = rows.select(
        F.explode_outer(tokens(F.col("_t"))).alias("token")
    ).filter(F.col("token").isNotNull())
    uni = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )

    pairs = (
        rows.select(
            F.explode_outer(_adjacent_pairs(F.col("_t"))).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .groupBy("p.left", "p.right")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_tf"))
        .filter(F.col("pair_tf") >= min_pair_tf)
    )
    totals = F.broadcast(
        uni.agg(
            F.sum("tf").cast("bigint").alias("tot_toks"),
            F.count(F.lit(1)).alias("_nv"),
        ).crossJoin(
            pairs.agg(F.sum("pair_tf").cast("bigint").alias("tot_pairs_kept"))
        )
    )
    # NOTE: tot_pairs uses the min_pair_tf-PRUNED mass (what survives is
    # what a merge picker sees); pass min_pair_tf=1 for the full multiset.
    tl = uni.select(F.col("token").alias("left"), F.col("tf").alias("tf_l"))
    tr = uni.select(F.col("token").alias("right"), F.col("tf").alias("tf_r"))
    j = pairs.join(tl, "left").join(tr, "right").crossJoin(totals)
    lift = (
        (F.col("pair_tf") * F.lit(1e6) / F.col("tot_pairs_kept"))
        * F.col("tot_toks")
        / F.col("tf_l")
        * F.col("tot_toks")
        / F.col("tf_r")
    )
    return j.select(
        "left",
        "right",
        "pair_tf",
        "tf_l",
        "tf_r",
        F.floor(lift).cast("bigint").alias("lift_e6"),
    )


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token diversity — Shannon entropy of the unigram
    distribution (nats) plus type-token ratio: the Gopher-style "is this
    document degenerate repetition?" signal that repetition_metrics'
    max-gram counters approximate from the other direction.

    Engine-exact float discipline: entropy = ln(n) − (Σ c·ln c)/n where
    every c and n is an exact integer; the Σ is a LEFT FOLD over terms in
    token lexical order (sort_array of the (token, count) structs), so any
    IEEE-double engine reproduces the sum bit-exactly. Outputs quantized:
    (id, n_tokens, n_types, entropy_e4, ttr_e6) — ttr in exact bigint
    floor division.

    Plan shape: explode → partial-agg groupBy((doc, token)) → per-doc
    sort_array + fold (vocab-per-doc sized lists, bounded by doc length);
    two exchanges, both partial-aggregated, no window, no Python.
    """
    # _spread before the tokenize explode (file-layout-bound scans)
    toks = _spread(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    ).select(
        "doc", F.explode_outer(tokens(F.col("_t"))).alias("token")
    ).filter(F.col("token").isNotNull())
    per_tok = toks.groupBy("doc", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_doc = per_tok.groupBy("doc").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sort_array(F.collect_list(F.struct("token", "c"))).alias("_tc"),
    )
    s = F.aggregate(
        F.col("_tc"),
        F.lit(0.0),
        lambda acc, x: acc
        + x["c"].cast("double") * F.log(x["c"].cast("double")),
    )
    n = F.col("n_tokens").cast("double")
    entropy = F.log(n) - s / n
    return per_doc.select(
        F.col("doc").alias(id_col),
        "n_tokens",
        "n_types",
        F.floor(entropy * F.lit(1e4)).cast("bigint").alias("entropy_e4"),
        F.floor(F.col("n_types") * F.lit(1_000_000) / F.col("n_tokens"))
        .cast("bigint")
        .alias("ttr_e6"),
    )


def canonical_url(col: Column) -> Column:
    """Crawl-frontier URL canonicalization: strip the fragment, drop
    ``utm_*`` tracking params (repairing the ``?``/``&`` seams), lowercase
    the scheme+authority, remove the scheme's default port, and trim
    trailing slashes. Re-crawls of the same page under tracking-param /
    case / port spellings collapse to one key — run exact dedup on the
    result.

    Every step is a plain regexp_replace/extract with NO replacement group
    references and NO lookarounds, so the same patterns run on Java regex
    and RE2 (the oracle adds DuckDB's 'g' flag where Spark replaces
    globally by default). Pure codegen projection, zero Python.
    """
    u = F.regexp_replace(col, r"#.*$", "")
    u = F.regexp_replace(u, r"&utm_[^&]*", "")
    u = F.regexp_replace(u, r"\?utm_[^&]*&", "?")
    u = F.regexp_replace(u, r"\?utm_[^&]*$", "")

    def _canon(bound: Column) -> Column:
        prefix = F.regexp_extract(
            bound, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0
        )
        rest = F.substring(bound, F.length(prefix) + F.lit(1), F.lit(1 << 30))
        p = F.lower(prefix)
        p = (
            F.when(
                p.startswith("https://"), F.regexp_replace(p, r":443$", "")
            )
            .when(p.startswith("http://"), F.regexp_replace(p, r":80$", ""))
            .otherwise(p)
        )
        return F.regexp_replace(F.concat(p, rest), r"/+$", "")


    return bind(u, _canon)


def linear_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights_e6: "list[int]",
    *,
    bias_e6: int = 0,
    threshold_e6: int = 0,
) -> DataFrame:
    """Hashed bag-of-words linear classifier — the fastText-style quality
    filter every CommonCrawl pipeline runs (CCNet / RefinedWeb / FineWeb
    score pages with a linear model over hashed token features and keep
    the positive tail). Inference only: ``weights_e6`` is the trained
    weight vector, 1e-6 fixed-point, one slot per hash bucket.

    margin_e6(doc) = bias_e6 + Σ_tok weights_e6[md5_low32(tok) % B]

    ``keep`` = margin_e6 > threshold_e6 · n_tokens (an exact integer
    cross-multiply of "average per-token margin > threshold"), so the
    verdict — like the margin itself — is a pure BIGINT function of the
    text, bit-reproducible across engines and cluster sizes. No sigmoid:
    the logistic link is monotone, so thresholding the margin is
    thresholding the probability, without dragging libm ``exp`` into a
    cross-engine compare. Zero-token docs keep iff bias_e6 > 0.

    Plan shape: ONE projection — the weight vector rides as a plan
    literal (the DSIR/IVF-codebook discipline, same ≤ 4096 guard) and the
    per-token fold is an integer ``aggregate`` over a let-``bind``-once
    tokenization; zero joins, zero shuffles, zero Python. The fold tree
    appears in both the margin and keep output columns (projection-level
    CSE skips lambda-bearing subtrees), so the per-row cost is 2× one
    fold — constant-factor, the quality_metrics convention; Catalyst's
    SimplifyExtractValueOps prunes the fold out of the n_tokens copy.
    """

    n_buckets = len(weights_e6)
    if not 2 <= n_buckets <= 4096:
        raise ValueError(
            f"need 2..4096 weights (plan literal), got {n_buckets}"
        )
    w_arr = F.array(*[F.lit(int(w)).cast("bigint") for w in weights_e6])

    def _both(toks: Column) -> Column:
        return F.struct(
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.aggregate(
                toks,
                F.lit(int(bias_e6)).cast("bigint"),
                lambda acc, t: acc
                + F.get(w_arr, (md5_low32(t) % F.lit(n_buckets)).cast("int")),
            ).alias("margin_e6"),
        )

    s = bind(tokens(F.col(text_col)), _both)
    return df.select(
        F.col(id_col),
        s["n_tokens"].alias("n_tokens"),
        s["margin_e6"].alias("margin_e6"),
    ).withColumn(
        "keep",
        F.col("margin_e6") > F.lit(int(threshold_e6)) * F.col("n_tokens"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_tf: int = 1,
) -> DataFrame:
    """Per-document characteristic terms — top-k by a LOGARITHM-FREE
    tf-idf: ``score_e6 = tf · ((N · 1e6) div df)``, the linear-idf
    variant (the collocations-lift precedent: libm ``ln`` differs across
    engines in the last ulp, and a flipped near-tie re-orders top-k; the
    integer score makes rank order bit-reproducible). Rarer terms damp
    linearly instead of logarithmically — same extremes, monotone in tf
    and 1/df — and the keyword-extraction verdict stays deterministic.

    Output: (id, term, tf, df, score_e6, rank), rank 1..k per doc, ties
    broken by (score desc, term asc).

    Plan shape: tokenize once into a partial-aggregated (doc, term) tf
    groupBy (only compact pairs shuffle); doc frequency is a second
    partial aggregate OVER the tf frame; N collects once as a 1-row
    broadcast; the per-doc top-k is a window whose rank ≤ k filter
    WindowGroupLimit pushes map-side — no doc's full term list ever
    sorts in one task.
    """
    from pyspark.sql import Window

    from ..dedup import tokens

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # _spread before the tokenize explode (file-layout-bound scans)
    base = _spread(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    )
    tf = (
        base.select(
            "doc", F.explode_outer(tokens(F.col("_t"))).alias("term")
        )
        .filter(F.col("term").isNotNull())
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .filter(F.col("tf") >= min_tf)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n_docs = base.select(
        F.count_distinct(F.col("doc")).cast("bigint").alias("_n")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "term",
            "tf",
            "df",
            F.expr("tf * ((_n * 1000000L) div df)").alias("score_e6"),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("score_e6").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(F.col("doc").alias(id_col), "term", "tf", "df", "score_e6", "rank")
    )


def lm_score(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus bigram-LM fluency score — the KenLM-perplexity stand-in a
    library-free engine can gate on: word-salad and boilerplate docs score
    low against the corpus's own bigram statistics, no external model.

    ``p(w2|w1) = c(w1,w2) / c(w1·)`` with ``c(w1·)`` counting w1 as a
    bigram PREFIX (so probabilities per prefix sum to 1 exactly, no
    end-of-doc smoothing case). Per position the e6-floored probability is
    EXACT integer division; per doc: ``n_bigrams``, ``sum_p_e6`` (sum of
    per-position p_e6) and ``avg_p_e6 = sum_p_e6 // n_bigrams`` — a
    log-free fluency proxy (the repo convention: no float transcendentals
    on data, cf. collocations/tfidf). Docs with fewer than two tokens emit
    nothing.

    Plan shape: ONE let-bound tokenization + explode; a partial-agg
    groupBy(doc, left, right) collapses positions; the bigram table
    (vocab²-bounded) and its prefix re-aggregate derive from THAT frame —
    corpus text never re-tokenizes and the scoring joins carry
    (doc, left, right, k) rows only.
    """

    # _spread before the tokenize+pair explode (file-layout-bound scans)
    pairs = _spread(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    ).select(
        "doc",
        F.explode_outer(_adjacent_pairs(F.col("_t"))).alias("p"),
    ).filter(F.col("p").isNotNull())
    doc_pairs = pairs.groupBy(
        "doc", "p.left", "p.right"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    bg = doc_pairs.groupBy("left", "right").agg(
        F.sum("k").cast("bigint").alias("c_bg")
    )
    uni = bg.groupBy("left").agg(F.sum("c_bg").cast("bigint").alias("c_uni"))
    scored = (
        doc_pairs.join(bg, ["left", "right"])
        .join(uni, ["left"])
        .select(
            "doc",
            "k",
            F.floor(
                F.col("c_bg") * F.lit(1_000_000) / F.col("c_uni")
            ).cast("bigint").alias("p_e6"),
        )
    )
    out = scored.groupBy("doc").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("k") * F.col("p_e6")).cast("bigint").alias("sum_p_e6"),
    )
    return out.select(
        F.col("doc").alias(id_col),
        "n_bigrams",
        "sum_p_e6",
        F.floor(F.col("sum_p_e6") / F.col("n_bigrams"))
        .cast("bigint")
        .alias("avg_p_e6"),
    )


def zipf_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: Optional[str] = None,
    min_tf: int = 2,
) -> DataFrame:
    """Zipf rank-frequency fit per group — the power-law sanity check on
    token frequency distributions. Natural-language corpora fit a log-log
    slope near −1 (Zipf's law); template/boilerplate floods, synthetic
    gibberish, and tokenizer bugs bend the slope, so a per-source fit is
    the dataset-card-grade "does this shard still look like language?"
    probe.

    LOGARITHM-FREE: x = floor(log2(rank)) and y = floor(log2(tf)) come
    from ``length(bin(v)) − 1`` — exact integers in any engine, libm never
    touches data. The OLS moment sums are exact BIGINTs; only the final
    slope runs in float64, as the fixed operation order
    ``floor((1e6 · cov) / var)`` over the two exact integer moments —
    bit-identical doubles everywhere.

    Output per group: (group, n_terms, sx, sy, sxy, sxx, slope_e6) — the
    exact moments ride along so downstream can refit or pool; slope_e6 ≈
    −1_000_000 for Zipfian text, NULL when the pruned vocabulary is
    degenerate (all terms in one rank octave ⇒ var = 0).

    Plan shape: explode → ONE partial-agg groupBy((group, token)) —
    map-side combine crushes the shuffle to vocabulary size; the min_tf
    prune (default 2) drops the hapax mass; the rank window and the OLS
    aggregate run over the pruned VOCABULARY frame only — the corpus never
    sorts. BIGINT bound: |cov| ≤ n²·x_max·y_max ≈ n²·2¹⁰, safe through
    vocabularies of ~10⁸ terms; prune harder before that.
    """
    from pyspark.sql import Window

    grp = (
        F.col(group_col) if group_col is not None else F.lit("all")
    ).alias("grp")
    # _spread before the tokenize explode (file-layout-bound scans)
    toks = _spread(
        df.select(grp, F.col(text_col).alias("_t"))
    ).select(
        "grp", F.explode_outer(tokens(F.col("_t"))).alias("token")
    ).filter(F.col("token").isNotNull())
    tf = (
        toks.groupBy("grp", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .filter(F.col("tf") >= min_tf)
    )
    w = Window.partitionBy("grp").orderBy(F.col("tf").desc(), F.col("token"))
    ranked = tf.select(
        "grp",
        (F.length(F.bin(F.row_number().over(w).cast("bigint"))) - 1)
        .cast("bigint")
        .alias("x"),
        (F.length(F.bin(F.col("tf"))) - 1).cast("bigint").alias("y"),
    )
    ag = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    cov = F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")
    var = F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.floor(
        (F.lit(1_000_000.0) * cov.cast("double")) / var.cast("double")
    ).cast("bigint")
    return ag.select(
        F.col("grp").alias(group_col if group_col is not None else "grp"),
        "n_terms",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.when(var > 0, slope).alias("slope_e6"),
    )


# classic double-encode markers: UTF-8 bytes re-read as Latin-1/cp1252
# surface as 'Ã'+suffix (é→Ã©), 'â€'+punct (’→â€™), or 'Â'+nbsp/symbol
# (°→Â°). Counting the marker PREFIXES catches the family without
# enumerating every suffix.
MOJIBAKE_MARKERS: tuple[str, ...] = ("Ã", "â€", "Â")

# C0 controls except \t \n \r — binary junk that survived text extraction.
# \xNN hex escapes parse identically in Java regex and RE2 (DuckDB).
_CTRL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"


def encoding_report(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document text-encoding QA (the web-corpus mojibake pass):

    (id, n_replacement, n_mojibake, n_ctrl, encoding_ok) where
    n_replacement counts U+FFFD (a decoder already gave up there),
    n_mojibake counts double-encode marker occurrences (MOJIBAKE_MARKERS
    — 'Ã', 'â€', 'Â', the UTF-8-read-as-Latin-1 signatures), n_ctrl
    counts C0 controls other than tab/newline/CR, and encoding_ok is
    true iff all three are zero. NULL text → NULL counts, ok = false
    (same convention as the validator: absent text can't be certified).

    Marker counts are pure length arithmetic — (len(t) −
    len(replace(t, m, ''))) / len(m), exact integers, no regex for the
    literal markers — so any engine replays them bit-identically; the
    control-chars count is one RE2/Java-portable character-class
    regexp_replace. One codegen projection: no shuffle, no Python, and
    only (id, text) is read, so the scan prunes every other column.
    """
    t = F.col(text_col)

    def n_occ(marker: str) -> Column:
        return (
            (F.length(t) - F.length(F.replace(t, F.lit(marker))))
            / F.lit(len(marker))
        ).cast("bigint")

    from functools import reduce
    from operator import add

    n_repl = n_occ("�")
    n_moji = reduce(add, (n_occ(m) for m in MOJIBAKE_MARKERS))
    n_ctrl = (
        F.length(t) - F.length(F.regexp_replace(t, _CTRL_CLASS, ""))
    ).cast("bigint")
    return df.select(
        F.col(id_col),
        n_repl.alias("n_replacement"),
        n_moji.alias("n_mojibake"),
        n_ctrl.alias("n_ctrl"),
        F.coalesce(
            (n_repl == 0) & (n_moji == 0) & (n_ctrl == 0), F.lit(False)
        ).alias("encoding_ok"),
    )
