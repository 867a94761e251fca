"""Driver-gate query pack: Spark queries + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 (or a
training-pipeline op) over the driver-generated testdata tables. The Spark
side and the oracle SQL are written to be value-identical:

- violation descriptions are compile-time constants (same literal both sides)
- float-valued outputs are quantized with floor(x * 10^k) AS BIGINT
- order-sensitive float reductions are forced into a deterministic order
  (bucket-sorted lists) in BOTH engines
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ann, dedup, table_rules, temporal
from .compiler import bind
from . import fixtures as _FX
from .functions import text as textfn

# ---------------------------------------------------------------------------
# rule sets (shared by queries and the flagship entry)

DOCUMENT_RULES = {
    "doc_id": {"type": "integer", "minimum": 0},
    "lang": {"enum": ["en", "es", "de", "fr"]},
    "n_chars": {"type": "integer", "minimum": 50, "maximum": 500},
    "text": {
        "type": "string",
        "min_length": 50,
        "max_length": 540,
        "pattern": "the",
    },
}

EVENT_RULES = {
    "event_type": {"enum": ["click", "view", "purchase", "signup"]},
    "value": {
        "type": "float",
        "minimum": 0,
        "exclusive_minimum": True,
        "maximum": 400,
    },
    "user_id": {"type": "integer", "minimum": 0, "multiple_of": 7},
}

LINEITEM_RULES = {
    "l_quantity": {
        "one_of": [
            {"type": "float", "maximum": 30},
            {"type": "float", "minimum": 20},
        ]
    },
    "l_extendedprice": {
        "all_of": [
            {"type": "float", "minimum": 1000},
            {"type": "float", "maximum": 80000},
        ]
    },
    "l_returnflag": {"not": {"enum": ["R"]}},
}


def _violations(df: DataFrame, rules: dict, key: str) -> DataFrame:
    from .runner import validate

    # round-robin ahead of the compiled rule projection: validators are
    # pure per-row expressions, so their cost rides the scan's
    # file-layout-bound task count (a single-row-group table runs every
    # regex/JSON rule on ONE core). Column pruning pushes the needed-cols
    # projection below the exchange, and partition_id is dropped from this
    # helper's output, so results are unchanged.
    return _gate_rows(validate(dedup._spread(df), rules, key=key).violations, key)


def _gate_rows(violations: DataFrame, key: str) -> DataFrame:
    """A violations frame as the validate_* gate rows: (key, column_name,
    schema_path, keyword, description)."""
    return violations.select(
        F.col(key),
        F.col("column").alias("column_name"),
        "schema_path",
        "keyword",
        "description",
    )


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# validation queries


def q_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _violations(_read(spark, sf_dir, "documents"), DOCUMENT_RULES, "doc_id")


def q_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _violations(_read(spark, sf_dir, "events"), EVENT_RULES, "event_id")


def q_validate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem").withColumn(
        "row_key", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    return _violations(li, LINEITEM_RULES, "row_key")


# ---------------------------------------------------------------------------
# table rules


def q_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_rules.column_stats(
        _read(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def q_uniqueness_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_rules.uniqueness(_read(spark, sf_dir, "lineitem"), "l_orderkey")


def q_ref_integrity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    customer = _read(spark, sf_dir, "customer")
    return table_rules.referential_integrity(
        events, "user_id", customer, "c_custkey"
    ).select("event_id", "user_id")


def q_drift_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS + PSI of l_extendedprice between even- and odd-orderkey halves.

    Deterministic float path: per-bucket terms are summed in bucket order in
    both engines; outputs quantized to 1e-6.
    """
    li = _read(spark, sf_dir, "lineitem")
    lo, hi, nbins, eps = 0.0, 120000.0, 20, 1e-6
    b = table_rules.bucketize(F.col("l_extendedprice"), lo, hi, nbins)
    g = (F.col("l_orderkey") % 2 == 0).alias("is_even")
    hist = (
        li.select(b.alias("bucket"), g)
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_even"), 1).otherwise(0)).alias("na"),
            F.sum(F.when(~F.col("is_even"), 1).otherwise(0)).alias("nb"),
        )
    )
    bins = spark.range(nbins).select(F.col("id").cast("int").alias("bucket"))
    full = bins.join(hist, "bucket", "left").select(
        "bucket",
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    # bucket-ordered reduction: collect (bucket, na, nb) into a sorted array,
    # then fold — identical order in DuckDB via list(... ORDER BY bucket)
    arr = F.array_sort(
        F.collect_list(F.struct("bucket", "na", "nb"))
    )
    folded = full.agg(arr.alias("rows"), F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    # greatest(·, 1): empty cohort → all-zero probabilities, not an ANSI
    # divide-by-zero (identical whenever the cohort has rows)
    rows = F.col("rows")
    ta = F.greatest(F.col("ta"), F.lit(1))
    tb = F.greatest(F.col("tb"), F.lit(1))
    pa = lambda r: r["na"] / ta  # noqa: E731
    pb = lambda r: r["nb"] / tb  # noqa: E731
    ks = F.aggregate(
        rows,
        F.struct(F.lit(0.0).alias("ca"), F.lit(0.0).alias("cb"), F.lit(0.0).alias("ks")),
        lambda acc, r: F.struct(
            (acc["ca"] + pa(r)).alias("ca"),
            (acc["cb"] + pb(r)).alias("cb"),
            F.greatest(acc["ks"], F.abs(acc["ca"] + pa(r) - acc["cb"] - pb(r))).alias(
                "ks"
            ),
        ),
        lambda acc: acc["ks"],
    )
    psi = F.aggregate(
        rows,
        F.lit(0.0),
        lambda acc, r: acc
        + (pa(r) - pb(r)) * F.log((pa(r) + F.lit(eps)) / (pb(r) + F.lit(eps))),
    )
    out = folded.select(ks.alias("ks"), psi.alias("psi"))
    return out.select(
        F.explode(
            F.map_from_arrays(
                F.array(F.lit("ks"), F.lit("psi")),
                F.array(
                    F.floor(F.col("ks") * 1e6).cast("bigint").cast("double"),
                    F.floor(F.col("psi") * 1e6).cast("bigint").cast("double"),
                ),
            )
        ).alias("metric", "value_e6")
    )


# ---------------------------------------------------------------------------
# Deequ-style rule families: predicate compliance, histogram profiles,
# information metrics, exact-moment correlation, robust outliers


def q_compliance_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column / cross-row predicate compliance (the Deequ 'satisfies'
    analog): all rules in ONE wide aggregate — one scan, single-row reduced
    state, adding a rule adds a column not a pass."""
    li = _read(spark, sf_dir, "lineitem")
    return table_rules.compliance(
        li,
        {
            "price_bounded": F.col("l_extendedprice") <= 50000,
            "qty_low_half": F.col("l_quantity") <= 25,
            "pre96_ship": F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"),
            "tax_low": F.col("l_tax") <= 0.05,
            "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


def q_histogram_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column equi-width histogram profile in one pass (wide
    conditional-count aggregate — no shuffle of row data)."""
    return table_rules.histogram_profile(
        _read(spark, sf_dir, "lineitem"),
        [("l_quantity", 0.0, 50.0, 10), ("l_extendedprice", 0.0, 120000.0, 12)],
    )


def q_entropy_mi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropies + mutual information between event_type and the
    value's 50-wide bucket. One groupBy over the table; all four metrics
    fold over the same reduced joint frame in key order (deterministic
    float sums, DuckDB-replayable)."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        table_rules.bucketize(F.col("value"), 0.0, 500.0, 10).alias("value_bucket"),
    )
    return table_rules.entropy_mi(ev, "event_type", "value_bucket")


def q_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT decimal(38,0) integer moments —
    order-independent sums, so the float epilogue is bit-identical in any
    engine (DuckDB replays with HUGEINT sums)."""
    return table_rules.correlation_exact(
        _read(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice", scale=100
    )


def q_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outliers over events.value (exact percentile twin —
    DuckDB quantile_cont parity; approx_percentile is the scale path,
    pinned by tests)."""
    return table_rules.mad_outliers(
        _read(spark, sf_dir, "events"), "event_id", "value", k=3.5, exact=True
    )


# ---------------------------------------------------------------------------
# dedup / similarity / text ops


def q_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column quantiles (linear interpolation — DuckDB
    quantile_cont parity); the approx_percentile variant is the scale path
    (column_quantiles(exact=False)), pinned by tests instead."""
    out = table_rules.column_quantiles(
        _read(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice"],
        qs=(0.25, 0.5, 0.75),
        exact=True,
    )
    return out.select(
        "column_name",
        F.floor(F.col("q") * 100).cast("bigint").alias("q_pct"),
        F.floor(F.col("value") * 1e4).cast("bigint").alias("value_e4"),
    )


def q_dedup_apply_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup 'apply' step: documents surviving exact dedup (one keeper
    row per content hash)."""
    docs = _read(spark, sf_dir, "documents")
    groups = dedup.exact_dedup_groups(docs, "doc_id", "text")
    return dedup.apply_dedup(docs, groups, "doc_id").select("doc_id", "lang")


def q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_read(spark, sf_dir, "documents"), "doc_id", "text")


def q_ngram_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=5,
        threshold=0.1,
        max_shingle_df=100,
    )


def q_minhash_lsh_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=5,
        num_hashes=32,
        bands=16,
        verify_threshold=0.1,
    )


def q_near_dup_groups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper assignment over the MinHash-LSH near-dup graph: every doc →
    min doc_id of its connected component (singletons keep themselves)."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=5, num_hashes=32, bands=16,
        verify_threshold=0.1,
    )
    return dedup.near_dup_groups(docs, pairs, "doc_id")


def q_simhash_apply_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup APPLY via simhash: keep the min-id doc per identical
    simhash (the groups-then-apply composition the exact path uses —
    simhash_keepers + apply_dedup)."""
    docs = _read(spark, sf_dir, "documents")
    groups = dedup.simhash_keepers(docs, "doc_id", "text", bits=16)
    return dedup.apply_dedup(docs, groups, "doc_id").select("doc_id", "lang")


def q_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash collision groups with the BOUNDED example collection in the
    gate: exact n_docs + the 5 smallest member ids per group, comma-joined
    so both engines compare one string column."""
    out = dedup.simhash_dup_candidates(
        _read(spark, sf_dir, "documents"), "doc_id", "text", bits=16,
        max_examples=5,
    )
    return out.select(
        "simhash",
        "n_docs",
        F.concat_ws(
            ",", F.transform("example_ids", lambda x: x.cast("string"))
        ).alias("example_ids"),
    )


def q_ann_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    topk = ann.brute_force_topk(emb, queries, "vec_id", "embedding", k=3)
    return topk.select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4"),
    )


def q_ann_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return ann.lsh_topk(emb, queries, dim=64, k=3, num_planes=6, num_tables=4).select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4"),
    )


def q_ann_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return ann.ivf_topk(emb, queries, k=3, n_lists=16, n_probe=4).select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4"),
    )


def q_ann_ivf_trained_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over a TRAINED k-means codebook (ann.kmeans_centroids →
    ann.ivf_topk). The whole Lloyd's loop is deterministic — md5-ordered
    init, fixed n_iter, centroid coordinates truncated to 1e-6 after each
    update (burying partial-aggregation float-merge noise) — so the DuckDB
    oracle replays training exactly, with the iterations unrolled as CTEs."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = ann.kmeans_centroids(
        emb, dim=64, id_col="vec_id", vec_col="embedding", k=8, n_iter=2,
        quantize=1e6,
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return ann.ivf_topk(
        emb, queries, k=3, n_lists=8, n_probe=3, centroids=cents
    ).select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4"),
    )


def q_drift_per_partition_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition KS/PSI vs the even-orderkey half as reference profile.

    The partition key is a deterministic pmod(l_orderkey, 8) — reproducible
    in any engine (physical spark_partition_id() would be layout-dependent);
    ks/psi come out of bucket-ordered folds and are quantized to 1e-6.
    """
    li = _read(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    profile = table_rules.reference_profile(ref, "l_extendedprice", 0.0, 120000.0, 20)
    out = table_rules.drift_per_partition(
        li,
        "l_extendedprice",
        profile,
        0.0,
        120000.0,
        20,
        partition_col=F.pmod(F.col("l_orderkey"), F.lit(8)),
    )
    return out.select(
        F.col("partition_id").cast("bigint").alias("partition_id"),
        F.floor(F.col("ks") * 1e6).cast("bigint").alias("ks_e6"),
        F.floor(F.col("psi") * 1e6).cast("bigint").alias("psi_e6"),
    )


def q_text_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textfn.quality_metrics(_read(spark, sf_dir, "documents"), "doc_id", "text")


def q_lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textfn.lang_id(_read(spark, sf_dir, "documents"), "doc_id", "text")


def q_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textfn.fingerprint(_read(spark, sf_dir, "documents"), "doc_id", "text", k=8)


def q_hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable first-principles HLL (md5 hashing) — fully oracle-checkable.

    table_rules.approx_distinct_hll (Datasketches) stays the production
    variant; this one proves the estimator itself against DuckDB.
    """
    return table_rules.approx_distinct_hll_portable(
        _read(spark, sf_dir, "events"), "user_id", p=10
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact mode (the oracle-checkable
    baseline; the LSH candidate path is q_embedding_near_dup_lsh)."""
    # bounded to vec_id < 1000: covers ALL vectors at the sf0.01 gate (500)
    # while keeping the O(n²) oracle query affordable at larger sf
    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    pairs = dedup.embedding_near_dups(emb, "vec_id", "embedding", threshold=0.5, exact=True)
    return pairs.select(
        "id_a", "id_b", F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4")
    )


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic column profiler over a mixed-type column set (bigint, int,
    double, string, timestamp_ntz) — exact-distinct oracle twin; the
    approx_count_distinct path is the 100 TB default, pinned by tests."""
    return table_rules.profile_table(
        _read(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"],
        exact_distinct=True,
    )


def q_group_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles (DuckDB quantile_cont parity); the
    approx_percentile variant is the scale path, pinned by tests."""
    out = table_rules.group_quantiles(
        _read(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        qs=(0.25, 0.5, 0.75),
        exact=True,
    )
    return out.select(
        "l_returnflag",
        F.floor(F.col("q") * 100).cast("bigint").alias("q_pct"),
        F.floor(F.col("value") * 1e4).cast("bigint").alias("value_e4"),
    )


def _corrupted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with deterministically seeded violation classes (the
    closed-form-fixture convention — DuckDB replays the corruption):
    vec_id % 89 == 0 truncated to 63 dims, % 83 == 1 all-NaN, % 97 == 2
    zeroed, % 101 == 3 scaled x3 (norm leaves [0.5, 2.0])."""
    emb = _read(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    vid = F.col("vec_id")
    nan_f = F.lit(float("nan")).cast("float")
    corrupted = (
        F.when(vid % 89 == 0, F.slice(v, 1, 63))
        .when(vid % 83 == 1, F.transform(v, lambda x: nan_f))
        .when(vid % 97 == 2, F.transform(v, lambda x: F.lit(0.0).cast("float")))
        .when(
            vid % 101 == 3,
            F.transform(v, lambda x: (x * F.lit(3.0)).cast("float")),
        )
        .otherwise(v)
    )
    return emb.select("vec_id", corrupted.alias("embedding"))


def q_validate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding sanity validation (dim / NaN / zero / norm-range) over a
    seeded-corruption fixture; pure per-row expressions, zero shuffle."""
    return table_rules.validate_embeddings(
        _corrupted_embeddings(spark, sf_dir),
        "vec_id",
        "embedding",
        expected_dim=64,
        norm_lo=0.5,
        norm_hi=2.0,
    )


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    pairs = dedup.embedding_near_dups(
        emb, "vec_id", "embedding", threshold=0.5, exact=False,
        num_planes=6, num_tables=8,
    )
    return pairs.select(
        "id_a", "id_b", F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4")
    )


def q_token_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textfn.token_counts(_read(spark, sf_dir, "documents"), "doc_id", "text")


# denormalized-Unicode planting for the normalize gate: decomposed e+acute,
# I+diaeresis, the NFC singleton U+212B (ANGSTROM → Å), A+ring, tab/newline
# whitespace — concat_ws(' ', prefix, text, suffix) in BOTH engines
_NORM_PREFIX = "Cafe\u0301\tNAI\u0308VE"  # decomposed on purpose
_NORM_SUFFIX = "\u212B\nA\u030A"
_NORM_PREFIX_SQL = "'Cafe' || chr(769) || chr(9) || 'NAI' || chr(776) || 'VE'"
_NORM_SUFFIX_SQL = "chr(8491) || chr(10) || 'A' || chr(778)"


def q_normalize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC + whitespace canonicalization over the corpus, with
    denormalized Unicode planted around each document (decomposed accents,
    the U+212B→Å NFC singleton, tab/newline runs). The Spark side
    normalizes with CPython's unicodedata tables (Arrow-batched pandas
    ``str.normalize``); the oracle normalizes the SAME construction with
    DuckDB's utf8proc ``nfc_normalize`` — two independent NFC
    implementations that must agree byte-for-byte (hash-checked via
    md5-low32 of the result), not an algorithm replay."""
    from .functions.text import normalize_text

    messy = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ", F.lit(_NORM_PREFIX), F.col("text"), F.lit(_NORM_SUFFIX)
        ).alias("messy"),
    )
    out = normalize_text(messy, "doc_id", "messy", form="NFC")
    return out.select(
        "doc_id",
        dedup.md5_low32(F.col("norm_text")).alias("norm_h"),
        F.length("norm_text").cast("bigint").alias("norm_len"),
    )


def q_strip_html_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML text extraction in the gate: each document wrapped in a
    deterministic HTML template (script with a '<' inside, style, entities,
    double-escaped &amp;lt;) built expression-side in BOTH engines; the
    stripped text hash-compares via md5-low32. Both sides run the same
    RE2/Java-portable regex chain."""
    from .functions.text import strip_html

    doc = _read(spark, sf_dir, "documents")
    html = F.format_string(
        "<html><head><script>var x=%d<2;</script><style>p{}</style></head>"
        "<body><h1>T&amp;C</h1><p>%s</p><br/>&nbsp;&lt;end&gt;</body></html>",
        F.col("doc_id"),
        F.col("text"),
    )
    out = doc.select("doc_id", strip_html(html).alias("clean"))
    return out.select(
        "doc_id",
        dedup.md5_low32(F.col("clean")).alias("clean_h"),
        F.length("clean").cast("bigint").alias("clean_len"),
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG chunker in the gate: 12-token windows every 8
    tokens (4-token overlap), tail chunk short but end-reaching. The
    oracle replays the same closed-form window arithmetic over DuckDB's
    independent tokenization/slicing (string_split_regex + list_slice);
    chunk text is hash-compared via md5-low32."""
    from .functions.packing import sliding_chunks

    out = sliding_chunks(
        _read(spark, sf_dir, "documents"), "doc_id", "text", size=12, stride=8
    )
    return out.select(
        "doc_id",
        "chunk_id",
        "begin",
        "n_chunk_tokens",
        dedup.md5_low32(F.col("chunk_text")).alias("chunk_h"),
    )


def _multiline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-line corpus for the line-removal gate (the
    closed-form-fixture convention: documents are single-line, so both
    engines REPLAY this construction — 8-token lines plus seeded
    boilerplate: a cookie banner in every 3rd doc, a newsletter footer in
    every 5th, and a rare footer (doc_id % 251) that stays BELOW min_df
    at sf0.01 and must survive removal)."""
    d = _read(spark, sf_dir, "documents")
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")

    def _chunk(t):
        n_lines = F.ceil(F.size(t) / F.lit(8)).cast("int")

        def _line(i):
            return F.array_join(F.slice(t, i * 8 + 1, 8), " ")

        return F.array_join(
            F.transform(F.sequence(F.lit(0), n_lines - 1), _line), "\n"
        )

    body = bind(toks, _chunk)
    text2 = F.concat_ws(
        "\n",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("COOKIE NOTICE accept all cookies to continue"),
        ),
        body,
        F.when(
            F.col("doc_id") % 5 == 1,
            F.lit("subscribe to our newsletter for updates"),
        ),
        F.when(
            F.col("doc_id") % 251 == 0,
            F.lit("rare footer line kept below threshold"),
        ),
    )
    return d.select("doc_id", text2.alias("text"))


def q_remove_lines_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style repeated-line (boilerplate) removal over a
    deterministically constructed multi-line corpus: lines with corpus
    document-frequency >= 3 are deleted; the bounded broadcast common set
    keeps document text from ever shuffling."""
    return textfn.remove_common_lines(
        _multiline_documents(spark, sf_dir),
        "doc_id",
        "text",
        min_df=3,
        max_common=10000,
    )


def q_vocab_oov_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus vocabulary + per-doc out-of-vocabulary rate (the
    cheap gibberish / wrong-domain signal). One shared token exchange
    feeds both the vocab count and the broadcast-join scoring pass."""
    return textfn.vocab_oov(
        _read(spark, sf_dir, "documents"), "doc_id", "text", vocab_size=20
    )


def q_pack_chunks_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing over documents: whitespace token
    counts, 8 streams (doc_id % 8), 512-token chunks. One row per
    (doc, chunk) overlap with the doc's token span inside the chunk."""
    from .functions.packing import pack_chunks
    from .dedup import tokens as _tokens

    d = _read(spark, sf_dir, "documents")
    return pack_chunks(
        d,
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("long"),
        cap=512,
        stream_col=(F.col("doc_id") % 8),
    )


def q_aspect_batches_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing + batch packing (the image analog of
    sequence packing) over DERIVED integer dims from the events table
    (w = 1 + id%37, h = 1 + id%23 covers the whole ladder): integer
    argmin ladder assignment, md5-low32 sharding, windowed batch ids —
    all engine-exact, so the oracle replays every step."""
    from .functions.packing import aspect_bucket_batches

    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        (F.lit(1) + F.col("event_id") % 37).alias("w"),
        (F.lit(1) + F.col("event_id") % 23).alias("h"),
    )
    return aspect_bucket_batches(
        ev, "event_id", "w", "h", batch_size=16, n_shards=4
    )


def q_top_fraction_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering: keep the top 40% of documents by n_chars within
    each language (md5(doc_id) tiebreak), exact windowed mode — the
    oracle twin of the approx-percentile scale path."""
    from .functions.sampling import filter_top_fraction

    d = _read(spark, sf_dir, "documents")
    kept = filter_top_fraction(
        d, F.col("n_chars"), 0.4, "doc_id", stratum_col=F.col("lang")
    )
    return kept.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def q_violation_summary_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reporting rollup: per-rule violation counts + the 3 smallest
    offender keys (deterministic example sample), via the bounded-state
    two-phase collection in runner.violation_summary."""
    from .runner import validate, violation_summary

    d = _read(spark, sf_dir, "documents")
    res = validate(d, DOCUMENT_RULES, key="doc_id")
    return violation_summary(res.violations, "doc_id", max_examples=3)


def _staged_source(tag: str, sf_dir: str, build) -> str:
    """Build a staged streaming-source dir ONCE per /tmp lifetime.

    The staged content is a pure function of the (immutable) testdata dir,
    so gate reps and bench reps share it: build(tmp_dir) writes the files,
    then an atomic rename claims the cache slot (same discipline as
    fixtures._cached_parquet; concurrent losers read the winner's dir).
    Checkpoint dirs are NOT cached — every replay starts fresh.
    """
    import hashlib
    import os
    import shutil
    import uuid

    from . import fixtures

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/ndto_gate_stage_{tag}_{fixtures.FIXTURES_VERSION}_{key}"
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        # rename-aside, never rmtree-in-place (TOCTOU vs a winner's rename)
        fixtures._clear_stale_dir(path, "_STAGED")
    if not os.path.exists(marker):
        tmp = f"{path}.claim-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        build(tmp)
        open(marker_tmp := os.path.join(tmp, "_STAGED"), "w").close()
        os.utime(marker_tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def _events_source(sf_dir: str) -> str:
    """The events table as a streaming source. FileStreamSource requires a
    DIRECTORY source and the testdata table is a single parquet file, so
    the staged dir holds one symlink to it."""
    import os

    path = os.path.abspath(f"{sf_dir}/events.parquet")

    def build(tmp: str) -> None:
        os.symlink(path, os.path.join(tmp, "events.parquet"))

    return _staged_source("verdicts", sf_dir, build)


def _stage_file(df: DataFrame, dst: str, mtime: int) -> None:
    """Write ``df`` as the single parquet file ``dst`` with modification
    time ``mtime``. FileStreamSource takes the oldest mtime first, so the
    mtimes pin the micro-batch order of a multi-file staged source."""
    import os
    import shutil

    out = os.path.join(os.path.dirname(dst), "_build")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    part = next(
        f for f in os.listdir(out)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    shutil.move(os.path.join(out, part), dst)
    shutil.rmtree(out, ignore_errors=True)
    os.utime(dst, (mtime, mtime))


def _run_stream(out: DataFrame, mode: str, tag: str, sink_schema) -> DataFrame:
    """Drive a gate replay of the streaming frame ``out`` to completion
    (availableNow, at most 300 s) and return what its sink holds.

    The output mode picks the sink:
    - append: parquet file sink — an executor-side write, no driver
      round-trip;
    - complete: foreachBatch overwrite of a parquet dir — complete mode
      re-emits the WHOLE aggregate per batch and the file sink takes
      append only, so the dir holds the latest full state;
    - update: memory sink, collected back through the driver.
    An empty stream writes no files, so ``sink_schema`` types the empty
    result. The per-run checkpoint is removed before returning; a parquet
    sink dir backs the returned frame and is removed at interpreter exit
    (at once when the run fails).

    The number of state-store partitions is pinned by
    spark.sql.shuffle.partitions when a streaming checkpoint is created;
    each micro-batch then commits one state/delta file per partition. The
    gate replays are tiny (one to three micro-batches over one table), so
    32 partitions are pure per-batch commit overhead — 4 keeps the same
    semantics at a fraction of the state I/O. The override is scoped to
    ``.start()`` (the gate replays run sequentially, never concurrently);
    production streams keep the session default.
    """
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    spark = out.sparkSession
    ck_dir = tempfile.mkdtemp(prefix=f"ndto_{tag}_ck_")
    w = (
        out.writeStream.outputMode(mode)
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
    )
    if mode == "update":
        sink = f"ndto_gate_{tag}_{uuid.uuid4().hex[:8]}"
        w = w.format("memory").queryName(sink)
    else:
        sink = tempfile.mkdtemp(prefix=f"ndto_{tag}_out_")
        if mode == "append":
            w = w.format("parquet").option("path", sink)
        else:
            w = w.foreachBatch(
                lambda batch, _id: batch.coalesce(1)
                .write.mode("overwrite")
                .parquet(sink)
            )
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    q = None
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = w.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        if not q.awaitTermination(300):
            raise TimeoutError(
                f"{tag} stream did not finish within 300s — refusing to "
                "read a partially-filled sink"
            )
        if mode == "update":
            return spark.createDataFrame(spark.table(sink).collect(), sink_schema)
    except BaseException:
        if mode != "update":
            shutil.rmtree(sink, ignore_errors=True)
        raise
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(ck_dir, ignore_errors=True)
        if mode == "update":
            spark.catalog.dropTempView(sink)
    atexit.register(shutil.rmtree, sink, ignore_errors=True)
    if any(f.endswith(".parquet") for f in os.listdir(sink)):
        return spark.read.parquet(sink)
    return spark.createDataFrame([], sink_schema)


def q_dedup_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup in the gate: the events table duplicated 2x
    into ONE staged file (single micro-batch, so watermark state covers
    every copy), replayed availableNow through dedup_stream — each
    event_id must come out exactly once. Timestamps are rendered with
    date_format so both engines compare wall-clock strings."""
    import os

    from .streaming import dedup_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def build(tmp: str) -> None:
        _stage_file(
            ev.union(ev), os.path.join(tmp, "events_x2.parquet"), 1_600_000_000
        )

    src_dir = _staged_source("dedup", sf_dir, build)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    out = dedup_stream(stream, "event_id", "ts", watermark="1 hour")
    # parquet sink, NOT the memory sink: the deduped table is 100k rows at
    # sf0.1 and a memory sink would round-trip it through the driver twice
    sink = _run_stream(out, "append", "dedup", ev.schema)
    return sink.select(
        "event_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1e4).cast("bigint").alias("value_e4"),
    )


def q_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: strata doc_id % 4 kept at
    fractions 1.0 / 0.5 / 0.25 / 0 (default), decided by the portable
    md5-low32 key hash — reproducible across engines and cluster sizes."""
    from .functions.sampling import sample_bucket, stratified_sample

    d = _read(spark, sf_dir, "documents")
    kept = stratified_sample(
        d, "doc_id", F.col("doc_id") % 4, {0: 1.0, 1: 0.5, 2: 0.25}, seed=42
    )
    return kept.select(
        "doc_id",
        (F.col("doc_id") % 4).alias("stratum"),
        sample_bucket(F.col("doc_id"), seed=42).alias("bucket"),
    )


def q_validate_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the iso8601 / base64 format validators in the oracle gate.

    Derives deterministic string columns from events (so both engines build
    identical inputs): a strict ISO timestamp (every 3rd row corrupted to a
    bad month) and a base64 payload (every 5th row length-corrupted).
    """
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit("2024-13-01T"), F.date_format("ts", "HH:mm:ss")),
        )
        .otherwise(F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
        .alias("ts_str"),
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(F.base64(F.encode(F.col("event_type"), "utf-8")), F.lit("x")),
        )
        .otherwise(F.base64(F.encode(F.col("event_type"), "utf-8")))
        .alias("b64"),
    )
    rules = {
        "ts_str": {"type": "string", "format": "iso8601"},
        "b64": {"type": "string", "format": "base64"},
    }
    return _violations(ev, rules, "event_id")


def q_streaming_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming in the gate: events replayed as a file stream
    through streaming.windowed_verdicts (1-hour event-time windows +
    watermark), driven to completion with availableNow. Window starts are
    rendered with date_format so the string equals the wall-clock hour
    truncation for any whole-hour session timezone — the DuckDB oracle
    recomputes the same windowed counters from the batch table.

    Complete-mode aggregates can't use the parquet sink directly, so
    _run_stream overwrites a parquet dir with each (single, availableNow)
    batch's full aggregate — an executor-side distributed write; the
    round-4 memory-sink harness round-tripped the verdicts through a
    driver collect + createDataFrame."""
    from .streaming import windowed_verdicts

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(_events_source(sf_dir))
    out = windowed_verdicts(
        stream, EVENT_RULES, ts_col="ts", window_duration="1 hour"
    ).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "win_start"
        ),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_violations").cast("bigint").alias("n_violations"),
        F.col("pass").alias("pass"),
    )
    return _run_stream(
        out, "complete", "stream",
        "win_start string, n_rows bigint, n_violations bigint, pass boolean",
    )


def q_validate_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATELESS streaming surface in the gate: validate_stream binds
    the same compiled EVENT_RULES to a readStream and emits per-record
    violation rows in append mode — zero state, zero shuffle, so its
    oracle is exactly the batch validate_events oracle (identical rules,
    identical rows). Parquet sink: no driver round-trip."""
    from .streaming import validate_stream

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(_events_source(sf_dir))
    out = validate_stream(stream, EVENT_RULES, key="event_id")
    sink = _run_stream(
        out, "append", "vstream",
        "event_id bigint, column string, schema_path string, "
        "keyword string, description string",
    )
    return _gate_rows(sink, "event_id")


def q_validate_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array keywords in the gate: items / min_items / unique_items over the
    first-12-token array of each document. Priority (reverse declaration
    order, ndto parity): unique_items > max_items > min_items > items."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.slice(
            F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""), 1, 12
        ).alias("toks"),
    )
    rules = {
        "toks": {
            "type": "array",
            "items": {"type": "string", "max_length": 9},
            "min_items": 12,
            "unique_items": True,
        }
    }
    return _violations(docs, rules, "doc_id")


def q_validate_row_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-row object validation in the gate: the row packs into a struct
    and the object keywords apply to it (properties / required /
    min_properties). Nulls are injected deterministically (event_id
    residues) since the synthetic tables are null-free; priority (reverse
    declaration order): min_properties > required > properties."""
    from .runner import validate_row_object

    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        F.when(F.col("event_id") % 11 == 0, None)
        .otherwise(F.col("value"))
        .alias("value"),
        "event_type",
    )
    schema = {
        "type": "object",
        "properties": {"value": {"type": "float", "maximum": 300}},
        "required": ["user_id"],
        "min_properties": 3,
    }
    res = validate_row_object(ev, schema, key="event_id")
    return _gate_rows(res.violations, "event_id")


def q_validate_map_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-object (MAP column) keywords in the gate: pattern_properties +
    additional_properties: false over a deterministically derived map.
    Every 13th event carries an unsupported 'xx' key (additional_properties,
    higher priority — reverse declaration order); every 9th of the rest has
    k1 = 3 violating the pattern-matched value schema (minimum 10)."""
    ev = _read(spark, sf_dir, "events")
    m = F.map_from_arrays(
        F.when(
            F.col("event_id") % 13 == 0,
            F.array(F.lit("k1"), F.lit("k2"), F.lit("xx")),
        ).otherwise(F.array(F.lit("k1"), F.lit("k2"))),
        F.when(
            F.col("event_id") % 13 == 0,
            F.array(
                F.col("user_id") % 100 + 10, F.col("event_id") % 50 + 10, F.lit(1)
            ),
        ).otherwise(
            F.array(
                F.when(F.col("event_id") % 9 == 0, F.lit(3)).otherwise(
                    F.col("user_id") % 100 + 10
                ),
                F.col("event_id") % 50 + 10,
            )
        ),
    )
    df = ev.select("event_id", m.alias("m"))
    rules = {
        "m": {
            "type": "object",
            "pattern_properties": {"^k[0-9]$": {"type": "integer", "minimum": 10}},
            "additional_properties": False,
        }
    }
    return _violations(df, rules, "event_id")


def q_validate_tuple_anyof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tuple-typed arrays + any_of in the gate: per-position item schemas
    with additional_items: false over a derived 2/3-element array (every
    13th event grows an unexpected third element), plus an any_of rule on
    value whose branches are disjoint ranges. Positional items win over the
    additional-item check (probed ndto priority)."""
    ev = _read(spark, sf_dir, "events")
    arr = F.when(
        F.col("event_id") % 13 == 0,
        F.array(
            F.col("event_type"),
            (F.col("user_id") % 100).cast("string"),
            F.lit("extra"),
        ),
    ).otherwise(
        F.array(F.col("event_type"), (F.col("user_id") % 100).cast("string"))
    )
    df = ev.select("event_id", arr.alias("tup"), "value")
    rules = {
        "tup": {
            "type": "array",
            "items": [
                {"enum": ["click", "view"]},
                {"type": "string", "min_length": 1},
            ],
            "additional_items": False,
        },
        "value": {
            "any_of": [
                {"type": "float", "maximum": 10},
                {"type": "float", "minimum": 350},
            ]
        },
    }
    return _violations(df, rules, "event_id")


def q_validate_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-document validation: events.props is a JSON string column."""
    from .json_rules import validate_json_column

    schema = {
        "type": "object",
        "properties": {"k": {"type": "integer", "minimum": 10, "maximum": 89}},
        "required": ["k"],
    }
    ev = _read(spark, sf_dir, "events")
    res = validate_json_column(ev, "props", schema, key="event_id")
    return _gate_rows(res.violations, "event_id")


def q_count_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day row-count anomaly detection over events with one
    deterministically seeded half-loaded day (day % 30 == 7 keeps only
    event_id % 4 == 0) — the ingest monitor catching a partial load.
    Day = integer epoch-µs // 86400e6 (timezone-proof, exact)."""
    from . import temporal

    ev = _read(spark, sf_dir, "events")
    us = temporal.ts_to_us(ev, "ts")
    day_us = F.lit(86_400_000_000)
    day = ((us - us % day_us) / day_us).cast("long")
    seeded = ev.select(day.alias("day"), "event_id").filter(
        (F.col("day") % 30 != 7) | (F.col("event_id") % 4 == 0)
    )
    return table_rules.count_anomalies(seeded, "day", k=3.5, exact=True)


def q_c4_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed C4/Gopher quality filter: keep/drop + first failing rule,
    all-integer cross-multiplied thresholds (exact in any engine)."""
    return textfn.c4_filter(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        min_tokens=40,
        max_tokens=100_000,
        mean_len_lo=3,
        mean_len_hi=10,
        min_stopwords=1,
        punct_max_pct=10,
        distinct_min_pct=30,
    )


def q_infer_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema inference over an enriched deterministic JSON fixture
    (mixed-type tag, optional nested object / array / null keys, seeded
    invalid rows) — keys and types are DISCOVERED, not declared."""
    from .json_rules import infer_json_schema

    # spread the raw columns first: the fixture build itself parses props
    # (get_json_object) per row, which otherwise runs on the scan's single
    # task; infer_json_schema's own barrier would only parallelize the
    # stages above it
    ev = dedup._spread(
        _read(spark, sf_dir, "events").select(
            "event_id", "props", "user_id", "event_type"
        )
    )
    eid = F.col("event_id")
    js = F.when(eid % 101 == 99, F.lit("not json{")).otherwise(
        F.concat(
            F.lit('{"k": '),
            F.get_json_object("props", "$.k"),
            F.lit(', "tag": '),
            F.when(eid % 2 == 0, (F.col("user_id") % 20).cast("string")).otherwise(
                F.concat(F.lit('"'), F.col("event_type"), F.lit('"'))
            ),
            F.when(eid % 3 == 0, F.lit(', "meta": {"lang": "en"}')).otherwise(
                F.lit("")
            ),
            F.when(eid % 5 == 0, F.lit(', "arr": [1, 2]')).otherwise(F.lit("")),
            F.when(eid % 7 == 0, F.lit(', "opt": null')).otherwise(F.lit("")),
            F.lit("}"),
        )
    )
    # the frame above is already round-robined, so infer_json_schema's
    # own _spread leaves it as is
    return infer_json_schema(ev.select(js.alias("js")), "js")


def q_validate_json_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-type any_of over a JSON column: 'tag' is an integer on even
    event_ids and a string otherwise. spec_to_spark_type types the branch
    union as VARIANT and the compiler dispatches on schema_of_variant
    (Compiler._variant_typed) — the round-2 behavior (typing by the FIRST
    branch, silently nulling the others) is gone."""
    from .json_rules import validate_json_column

    ev = _read(spark, sf_dir, "events")
    js = F.concat(
        F.lit('{"tag": '),
        F.when(
            F.col("event_id") % 2 == 0, (F.col("user_id") % 20).cast("string")
        ).otherwise(F.concat(F.lit('"'), F.col("event_type"), F.lit('"'))),
        F.lit("}"),
    )
    df = ev.select("event_id", js.alias("props"))
    schema = {
        "type": "object",
        "properties": {
            "tag": {
                "any_of": [
                    {"type": "integer", "minimum": 5},
                    {"type": "string", "min_length": 5},
                ]
            }
        },
        "required": ["tag"],
    }
    res = validate_json_column(df, "props", schema, key="event_id")
    return _gate_rows(res.violations, "event_id")


def q_validate_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full image pipeline (metadata + Arrow batch + uniqueness) on the
    deterministic synthetic images table, sized by the scale factor.
    No SQL oracle (binary decode is not SQL-expressible) → rows-only check;
    content correctness is pinned by tests/test_images_pipeline.py."""
    from . import fixtures
    from .images import validate_images

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n = max(1000, int(sf * 200_000))
    # 16 files = 16 decode-stage tasks (one row group per ~1 KB-row file;
    # splits without a row-group midpoint do no work) — must match
    # bench.materialize_images' key so both share one cache
    df = fixtures.synth_images_cached(spark, n, n_partitions=16, seed=42)
    res = validate_images(df, seed=42, phash_partitions=8)
    return _gate_rows(res.violations, "image_id")


def q_stateful_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator in the gate: events replayed
    as THREE deterministic micro-batches (file source, one file per
    trigger, batch b = event_id % 3, ordered by staged mtime) through
    streaming.stateful_verdicts (applyInPandasWithState). The memory sink
    in update mode keeps one snapshot row per (key, batch the key appeared
    in), so the gate checks the full cumulative-counter history — n_rows /
    n_violations / failing_batches / failing_streak — against a DuckDB
    oracle that recomputes the same per-batch cumulative state with window
    functions over the batch table."""
    import os

    from .streaming import stateful_verdicts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def build(tmp: str) -> None:
        for b in range(3):
            _stage_file(
                ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == b),
                os.path.join(tmp, f"batch_{b}.parquet"),
                1_600_000_000 + b * 3600,
            )

    src_dir = _staged_source("stateful", sf_dir, build)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = stateful_verdicts(
        stream, EVENT_RULES, key_col="event_type", timeout_ms=None
    )
    return _run_stream(
        out, "update", "stateful",
        "k string, n_rows bigint, n_violations bigint, "
        "failing_batches bigint, failing_streak bigint",
    )


_IMAGES_META_N = 5000  # fixed size: the oracle SQL is static, so the gate
# input must not depend on sf (bench scale comes from validate_images)


def q_validate_images_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata half of the image pipeline, ORACLE-CHECKED: the compiled
    pattern/enum/bounds/length rules over (image_id, fmt, w, h, caption)
    plus key uniqueness, on the deterministic synthetic images table. The
    DuckDB oracle reproduces every violation from the seeded residue
    classes (fixtures.make_row: row_id % 100 decides the violation), so the
    rule engine — not the fixture — is what's cross-checked. The Arrow
    decode half stays rows-only in q_validate_images."""
    from . import fixtures
    from .images import validate_images_metadata

    df = fixtures.synth_images_cached(
        spark, _IMAGES_META_N, n_partitions=8, seed=42
    )
    # metadata-only: bytes never read (column pruning drops it at the source)
    out = validate_images_metadata(
        df.select("image_id", "w", "h", "fmt", "caption")
    )
    return _gate_rows(out, "image_id")


def q_pair_filter_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed image+caption pair quality filter (LAION-style first pass)
    over the seeded images table: keep/drop + first-fail reason from
    metadata only. The oracle replays the residue classes — unseeded rows
    are constructed to sit inside every threshold (dims 8..24, captions
    3..11 vocab words), so only the seeded classes trip, and the priority
    chain — not the fixture — is what the hash compares."""
    from . import fixtures
    from .images import pair_quality_filter

    df = fixtures.synth_images_cached(
        spark, _IMAGES_META_N, n_partitions=8, seed=42
    )
    return pair_quality_filter(
        df.select("image_id", "w", "h", "fmt", "caption")
    )


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric vector quantization over the embeddings table, with
    the %101 vectors zeroed to exercise the NULL-scale path. Every
    arithmetic step is a single IEEE op replayed by DuckDB list functions;
    codes compare via md5-low32 of the comma-joined ints."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(
            F.col("vec_id") % 101 == 0,
            F.expr("transform(embedding, x -> double(0))"),
        )
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("v"),
    )
    out = ann.quantize_embeddings(emb, "vec_id", "v")
    codes_str = F.concat_ws(
        ",", F.transform(F.col("codes"), lambda c: c.cast("string"))
    )
    return out.select(
        "vec_id",
        "dim",
        "absmax_e9",
        F.when(
            F.col("codes").isNotNull(), dedup.md5_low32(codes_str)
        ).alias("codes_h"),
        "max_err_ratio_e6",
    )


def q_quantized_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over the int8-quantized embeddings (the search half of
    quantize_embeddings): exact integer dot × two stored scales in a fixed
    multiply order, so scores are bit-identical across engines. The oracle
    re-quantizes and re-ranks with DuckDB's own list functions + window."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qz = ann.quantize_embeddings(emb, "vec_id", "v").select(
        "vec_id", "codes", "absmax_e9"
    )
    topk = ann.quantized_topk(qz, qz.filter(F.col("vec_id") < 5), k=3)
    return topk.select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("score") * F.lit(1e6)).cast("bigint").alias("score_e6"),
    )


def q_weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row Bernoulli resampling with a varying probability column
    (prob = (doc_id % 14) / 10 — exercises the [0,1] clamp on both ends):
    the importance-weight consumer. Oracle replays the md5 bucket and the
    floor threshold."""
    from .functions.sampling import weighted_sample

    doc = _read(spark, sf_dir, "documents")
    return weighted_sample(
        doc, "doc_id", (F.col("doc_id") % 14) / F.lit(10.0), seed=7
    )


def q_budget_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source budgeted curation: best-scored docs (score = n_chars)
    fill a 2000-token budget per source; greedy prefix, best row always
    kept. Oracle = DuckDB's OWN running-sum + row_number windows."""
    from .functions.sampling import select_until_budget
    from .functions.text import token_count

    doc = _read(spark, sf_dir, "documents")
    return select_until_budget(
        doc,
        "doc_id",
        F.col("source"),
        F.col("n_chars").cast("bigint"),
        token_count(F.col("text")),
        budget=2000,
    )


def q_domain_filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL provenance gate: derive a deterministic URL per event (scheme +
    userinfo + subdomain + port + path so the host regex earns its keep),
    extract host/registered-domain, mark domains on a 3-entry blocklist
    via the broadcast join. Both engines run the same RE2-portable
    regexes; the blocklist membership is each engine's own join."""
    from .functions.text import domain_filter

    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.format_string(
            "https://user:pw@cdn%d.Shard-%d.example%d.com:8443/p/%d?q=1#f",
            F.col("event_id") % 3,
            F.col("event_id") % 4,
            F.col("event_id") % 13,
            F.col("event_id"),
        ).alias("url"),
    )
    bl = ev.sparkSession.createDataFrame(
        [("example3.com",), ("EXAMPLE7.com",), ("other.org",)], "domain string"
    )
    return domain_filter(ev, "event_id", "url", bl)


def q_join_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew probe: events vs its click subset on user_id — per-key
    side counts and exact join fan-out, thresholded (the salting/AQE
    decision input). Oracle = DuckDB's own aggregates + full outer join."""
    ev = _read(spark, sf_dir, "events")
    return table_rules.join_skew_report(
        ev,
        ev.filter(F.col("event_type") == "click"),
        ["user_id"],
        min_fanout=900,
    )


def q_collocations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation lift (exp-PMI, logarithm-free so it is engine-exact)
    over adjacent token pairs, tf floor 3."""
    from .functions.text import collocations

    return collocations(
        _read(spark, sf_dir, "documents"), "doc_id", "text", min_pair_tf=3
    )


def q_lang_agreement_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-vs-content QA: confusion counts between the declared lang
    column and the lang_id prediction — the mislabeled-corpus probe
    (a stale/derived label column drifting from the content is the thing
    this catches). One join + one partial-agg groupBy over the tiny
    (lang, lang_pred) matrix."""
    from .functions.text import lang_id

    doc = _read(spark, sf_dir, "documents")
    # spread the prediction side: lang_id is a pure projection whose
    # stopword scoring otherwise rides the single-task scan
    pred = lang_id(
        dedup._spread(doc.select("doc_id", "text")), "doc_id", "text"
    )
    j = doc.select("doc_id", "lang").join(pred, "doc_id")
    g = j.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return g.select(
        "lang",
        "lang_pred",
        "n_docs",
        (F.col("lang") == F.col("lang_pred")).alias("agree"),
    )


def q_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram Shannon entropy + type-token ratio — the token
    diversity / degenerate-repetition signal. Both engines left-fold the
    c·ln(c) terms in token lexical order over exact-integer inputs, so
    the float sums agree bit-exactly (the dsir_weights precedent)."""
    from .functions.text import token_entropy

    return token_entropy(_read(spark, sf_dir, "documents"), "doc_id", "text")


def q_corpus_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card breakdown per (source, lang): counts, mean/max doc
    length, corpus shares — one scan, share windows over the group table."""
    from .functions.text import corpus_report

    return corpus_report(
        _read(spark, sf_dir, "documents"), "doc_id", "text", ["source", "lang"]
    )


def q_k_anonymity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy risk surface: (user_id, event_type, epoch-hour) combos with
    fewer than 3 rows — integer hour buckets (timezone-proof), one
    partially-aggregated groupBy; oracle = DuckDB's own GROUP BY/HAVING."""
    ev = _read(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        "event_type",
        (temporal.ts_to_us(ev, "ts") / F.lit(3_600_000_000))
        .cast("bigint")
        .alias("hour_bucket"),
    )
    return table_rules.k_anonymity(
        q, ["user_id", "event_type", "hour_bucket"], k=3
    )


def q_fd_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency check source → lang: sources serving more
    than one language (or a NULL/value split), with bounded min/max
    example pair — never a per-group list."""
    return table_rules.fd_violations(
        _read(spark, sf_dir, "documents"), ["source"], "lang"
    )


def q_monotonicity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sequence regression check: monitored value = event_id with
    a planted 10^6 dip every 37th event, ordered by (ts, event_id) —
    unique per user. Oracle = DuckDB's own lag window."""
    ev = _read(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_id",
        temporal.ts_to_us(ev, "ts").alias("t_us"),
        F.when(
            F.col("event_id") % 37 == 0, F.col("event_id") - F.lit(1_000_000)
        )
        .otherwise(F.col("event_id"))
        .alias("seq"),
    )
    return table_rules.monotonicity_violations(
        seq, "user_id", ["t_us", "event_id"], "seq"
    )


def q_snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation in the gate: old = events minus the %7
    residue, new = events minus the %5 residue with the %11 values
    perturbed (+1.0, IEEE-identical in both engines). Spark diffs via the
    md5 row fingerprint; the oracle diffs the VALUES directly with its own
    FULL OUTER JOIN + IS DISTINCT FROM — independent change detection, so
    a fingerprint bug (e.g. a collision-prone separator) would hash-fail."""
    ev = _read(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 7 != 0).select(
        "event_id", "event_type", "value"
    )
    new = ev.filter(F.col("event_id") % 5 != 0).select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.col("value") + F.lit(1.0))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return table_rules.snapshot_diff(
        old, new, ["event_id"], ["event_type", "value"]
    )


def q_meta_consistency_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-DECODED cross-check over the seeded images table: the
    Spark side really decodes every payload; the oracle replays the
    verdicts from the residue classes (v=0 truncated → decode fails; v=1
    w+5 and v=7 w=0 → dims mismatch; v=2 swapped and v=6 gif → fmt
    mismatch; v=8 ≥12 is the clean row i-12; v=9 has a NULL id; all other
    rows decode to exactly their declared metadata by construction)."""
    from . import fixtures
    from .images import metadata_consistency

    df = fixtures.synth_images_cached(
        spark, _IMAGES_META_N, n_partitions=8, seed=42
    )
    out = metadata_consistency(df)
    # nullable BOOLEANS round-trip as NaN through the hash compare — ship
    # the tri-state matches as nullable bigints (0/1/NULL) in the gate
    return out.select(
        "image_id",
        "decode_ok",
        F.col("dims_match").cast("bigint").alias("dims_match_i"),
        F.col("fmt_match").cast("bigint").alias("fmt_match_i"),
    )


def q_completeness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-completeness gate: the testdata has no nulls, so the fixture
    plants them EXPRESSION-SIDE (user_id nulled on id%7, value on id%3,
    props on id%211 — two failing columns, one passing, one untouched), a
    derivation both engines replay exactly. fill_e6 is exact bigint
    arithmetic; the 99% threshold splits the planted classes."""
    from .table_rules import completeness_report

    e = _read(spark, sf_dir, "events")
    d = e.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_type",
        F.when(F.col("event_id") % 3 == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
        F.when(F.col("event_id") % 211 == 0, F.lit(None))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    return completeness_report(
        d,
        ["event_id", "user_id", "event_type", "value", "props"],
        min_fill_e6=990_000,
    )


def q_freshness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ingestion freshness: lag of each type's newest row
    behind the table's global newest, exact integer seconds (per-timestamp
    epoch floor on both sides), stale verdict at 1500 s — the silent-feed
    probe. max_ts ships as a rendered string (engine-portable)."""
    from .table_rules import freshness_report

    e = _read(spark, sf_dir, "events")
    r = freshness_report(e, "ts", ["event_type"], max_lag_seconds=1500)
    return r.select(
        "event_type",
        "n_rows",
        F.date_format("max_ts", "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        "lag_seconds",
        "stale",
    )


def q_grouped_shards_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified shard manifest: per-language 40-doc shard sequences over
    documents (the multilingual WebDataset layout). Oracle replays a
    per-group row_number — the semantics the grouped two-phase rank must
    reproduce."""
    from .functions.sharding import grouped_shard_manifest

    return grouped_shard_manifest(
        _read(spark, sf_dir, "documents"),
        "lang",
        "doc_id",
        shard_size=40,
        n_partitions=8,
    )


def q_cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix over events: first-seen day per user
    → distinct-user counts per (cohort, day offset). Exact bigint day
    buckets on both engines."""
    from .temporal import cohort_retention

    return cohort_retention(
        _read(spark, sf_dir, "events"), "ts", "user_id",
        granularity_seconds=86400,
    )


def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view → click → purchase funnel: stage k counts users whose
    first step-k event falls STRICTLY after their stage-(k-1) time —
    exact integer epoch compares, replayed by the oracle's staged CTE
    chain."""
    from .temporal import funnel_stages

    return funnel_stages(
        _read(spark, sf_dir, "events"),
        "ts",
        "user_id",
        "event_type",
        ["view", "click", "purchase"],
    )


def q_phash_incremental_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index lookup over REAL decoded images: the INDEX is the
    decoded phash of every group-base image (row_id % 3 == 0), the BATCH
    is the planted hamming-1/2 variants — the daily-crawl-vs-stored-index
    shape, end to end through the PNG decode. The oracle regenerates both
    populations from the closed-form cell masks and replays the
    batch×index banding."""
    from . import fixtures
    from .multimodal import decode_image_features

    df = fixtures.synth_phash_images_cached(spark, _PHASH_IMG_N)
    feats = (
        decode_image_features(df)
        .filter(F.col("ok"))
        .select(
            "image_id",
            "phash",
            (F.substring("image_id", 4, 8).cast("bigint") % 3).alias("_r"),
        )
    )
    index = feats.filter(F.col("_r") == 0).drop("_r")
    batch = feats.filter(F.col("_r") != 0).drop("_r")
    return dedup.phash_near_dups_against(
        batch, index, "image_id", "phash", bits=16, bands=4, max_hamming=2
    )


def q_unit_norm_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 unit normalization over the embeddings table (%101 vectors
    zeroed for the NULL-norm path). Squared-sum folds left in index
    order, sqrt and each division are single IEEE ops — the normalized
    vector is bit-identical in any engine, compared via md5-low32 of the
    e9-quantized components."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(
            F.col("vec_id") % 101 == 0,
            F.expr("transform(embedding, x -> double(0))"),
        )
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("v"),
    )
    out = ann.unit_norm_embeddings(emb, "vec_id", "v")
    unit_ints = F.transform(
        F.col("unit"),
        lambda x: F.floor(x * F.lit(1e9)).cast("bigint").cast("string"),
    )
    return out.select(
        "vec_id",
        "dim",
        "norm_e9",
        F.when(
            F.col("unit").isNotNull(),
            dedup.md5_low32(F.concat_ws(",", unit_ints)),
        ).alias("unit_md5"),
    )


def q_phash_incremental_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup-index lookup in the gate: the INDEX is the
    derived md5-low60 phash population minus every 50th event; the BATCH
    is those 50th events carrying their predecessor's phash with bit 3
    flipped. Each batch row must find its source at hamming 1 through the
    batch×index band join — never an index self-join."""
    # spread before the md5 derivation + band explode (single-task scan)
    ev = dedup._spread(_read(spark, sf_dir, "events").select("event_id"))

    def md5_low60(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    index = ev.filter(F.col("event_id") % 50 != 0).select(
        F.col("event_id").alias("img_id"),
        md5_low60(F.col("event_id").cast("string")).alias("phash60"),
    )
    batch = ev.filter(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("img_id"),
        md5_low60((F.col("event_id") - 1).cast("string"))
        .bitwiseXOR(F.lit(8))
        .alias("phash60"),
    )
    return dedup.phash_near_dups_against(
        batch, index, "img_id", "phash60", bits=60, bands=4, max_hamming=2
    )


def q_split_leakage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene audit: near-duplicate pairs (exact prefix-filter
    Jaccard, t=0.7, 5-gram shingles) whose members landed in DIFFERENT
    train/val/test splits — each such pair leaks training signal into
    evaluation. Composition of two gate-green operators; the oracle
    composes their two oracle derivations the same way."""
    from .functions.sampling import assign_splits

    doc = _read(spark, sf_dir, "documents")
    pairs = dedup.prefix_filter_jaccard_pairs(
        doc, "doc_id", "text", threshold=0.7, shingle_k=5
    )
    splits = assign_splits(
        doc, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b", "jaccard_e6")
    )


def q_benford_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit check over l_extendedprice: leading digit taken
    string-wise (no float log on data); only the nine CONSTANT
    expectations use ln, on exact-rational inputs (the dsir precedent:
    Python math.log == DuckDB ln bit-exactly on these)."""
    from .table_rules import benford_report

    return benford_report(
        _read(spark, sf_dir, "lineitem"), "l_extendedprice"
    )


def q_prefix_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard self-join via prefix filtering (PPJoin-core) over
    5-gram shingle sets at t=0.7 — recall is exactly 1 by pigeonhole on
    the rarest-first prefix, so the all-pairs DuckDB oracle must agree
    row-for-row."""
    return dedup.prefix_filter_jaccard_pairs(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.7,
        shingle_k=5,
    )


def q_audio_quality_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speech-corpus quality gate over REAL WAV decode: the square-wave
    fixture's duration (n/sr) and rms == peak (amp/2^15, bit-exact) make
    every threshold verdict closed-form — 44.1 kHz clips all fall under
    the 0.1 s minimum, amp residues split quiet/clipped/ok."""
    from . import fixtures
    from .multimodal import audio_quality_verdicts, extract_audio_features

    df = fixtures.synth_audio_clips_cached(spark, _AUDIO_N)
    return audio_quality_verdicts(extract_audio_features(df))


def q_canonical_urls_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization in the gate: six spelling variants per page
    (host case, :443, utm params, fragment, trailing slash) are derived
    expression-side and must COLLAPSE to one canonical key per (domain,
    page) — the Spark side really runs the regex pipeline; the oracle
    derives the expected canonical form directly from the residues."""
    from .functions.text import canonical_url

    i = F.col("event_id")
    url = F.concat(
        F.lit("https://"),
        F.when(i % 2 == 0, F.lit("Example")).otherwise(F.lit("example")),
        ((i / 6).cast("bigint") % 13).cast("string"),
        F.lit(".com"),
        F.when(i % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        (i / 6).cast("bigint").cast("string"),
        F.when(i % 11 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    # spread BEFORE the regex chain: the canonicalization is ~10 regex
    # ops/row and otherwise rides the scan's file-layout-bound task count
    # (single-row-group input = one core); the shuffled payload is one
    # short string per row
    ev = dedup._spread(
        _read(spark, sf_dir, "events").select(url.alias("url"))
    )
    return (
        ev.select(canonical_url(F.col("url")).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


def q_l_diversity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity risk surface: (event_type, hour) cells whose distinct
    user set is smaller than l=3 — the groups where the quasi-identifier
    pins the user down even if the cell is k-anonymous by volume."""
    from .table_rules import l_diversity

    e = _read(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("bigint")
        .alias("hour"),
        "user_id",
    )
    return l_diversity(e, ["event_type", "hour"], "user_id", l=3)


def q_mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier report per event_type over exact integer
    cents (value has 2 decimals → round(value·100) is engine-exact, and
    integer medians are k or k+0.5 — every engine's 0.5-quantile
    interpolation agrees bit-exactly, shipped doubled as bigints)."""
    from .table_rules import robust_outlier_report

    e = _read(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return robust_outlier_report(e, "cents", ["event_type"], k=5)


def q_coverage_gaps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly coverage holes between the table's global first and
    last hour — the mid-stream ingestion-gap probe freshness_report's
    tail-lag can't see. Bucket arithmetic is exact bigint floor on both
    engines."""
    from .temporal import coverage_gaps

    e = _read(spark, sf_dir, "events")
    return coverage_gaps(e, "ts", ["event_type"], granularity_seconds=3600)


def q_fuzzy_match_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage in the gate: dirty keys derived by mutating
    the LAST char of an md5-based name (so the 4-char prefix block always
    holds the true pair), matched back at Levenshtein ≤ 1. Both engines
    derive names with the same md5, block with the same prefix equi-join,
    and verify with the same edit distance."""
    from .functions.linkage import fuzzy_join, prefix_block

    doc = _read(spark, sf_dir, "documents")
    name = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    clean = doc.select(
        F.col("doc_id").alias("match_id"), name.alias("name")
    )
    dirty = doc.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("dirty_id"),
        F.concat(F.substring(name, 1, 7), F.lit("z")).alias("dname"),
    )
    m = fuzzy_join(dirty, clean, "dname", "name", max_dist=1,
                   block=prefix_block(4))
    return m.select("dirty_id", "match_id", "dname", "name", "dist")


def q_salted_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salted join in the gate: a derived key funnels ~a third of
    events onto key 7 (the skew join_skew_report would flag), the dim side
    is a 50-row weight table, and salted_join spreads key 7 over 8 salts.
    The oracle is the PLAIN join + rollup — salting must not change one
    row of the result."""
    from .functions.joins import salted_join

    e = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(7))
        .otherwise(F.col("user_id") % 50)
        .cast("bigint")
        .alias("k"),
    )
    dim = spark.range(50).select(
        F.col("id").cast("bigint").alias("k"),
        ((F.col("id") * 13) % 101).cast("bigint").alias("w"),
    )
    j = salted_join(
        e, dim, "k", hot_keys=[7], n_salts=8, salt_src=F.crc32(
            F.col("event_id").cast("string")
        ),
    )
    return j.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("w").cast("bigint").alias("sum_w"),
    )


def q_hll_groups_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL distinct users per event_type — the grouped sketch
    variant; the oracle replays the register math per group."""
    return table_rules.approx_distinct_hll_portable_grouped(
        _read(spark, sf_dir, "events"), "user_id", "event_type", p=10
    )


def q_phash_near_dup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup banding in the gate, over a DERIVED
    deterministic 60-bit phash (md5-low60 of the event id — 15 hex chars
    keep the value under 2^63 for ANSI bigint; engine-portable like
    md5_low32). Every 50th event carries the previous event's phash with
    bit 3 flipped — a planted hamming-1 neighbor the 4×15-bit band join
    must recover exactly (pigeonhole: hamming ≤ 3 < bands guarantees an
    agreeing band, so recall is exact, and the oracle replays the same
    banding)."""
    # spread the id column before the md5 derivation + band explode: both
    # otherwise run on the scan's single file-layout-bound task
    ev = dedup._spread(_read(spark, sf_dir, "events").select("event_id"))

    def md5_low60(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    src = F.when(
        F.col("event_id") % 50 == 0, F.col("event_id") - 1
    ).otherwise(F.col("event_id"))
    ph = md5_low60(src.cast("string"))
    ph = F.when(
        F.col("event_id") % 50 == 0, ph.bitwiseXOR(F.lit(8))
    ).otherwise(ph)
    imgs = ev.select(F.col("event_id").alias("img_id"), ph.alias("phash60"))
    # band-bucket cap ON in the gate (like ngram's shingle-DF cap): 128 is
    # far above any md5-uniform 15-bit bucket DF at gate scale (mean ~3 at
    # sf0.1), so the oracle — which doesn't model the cap — stays exact
    return dedup.phash_near_dups(
        imgs, "img_id", "phash60", bits=60, bands=4, max_hamming=2,
        max_band_df=128,
    )


def q_phash_band_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket occupancy histogram over the SAME derived 60-bit phash
    population phash_near_dup_events joins — the cap-sizing diagnosis you
    run before a 100 TB phash dedup. Exact power-of-two occupancy classes
    plus the candidate-pair volume each class would feed the self-join, so
    the oracle replays banding + integer floor-log2 bucketing verbatim."""
    # same spread-before-md5 as q_phash_near_dup_events
    ev = dedup._spread(_read(spark, sf_dir, "events").select("event_id"))

    def md5_low60(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    src = F.when(
        F.col("event_id") % 50 == 0, F.col("event_id") - 1
    ).otherwise(F.col("event_id"))
    ph = md5_low60(src.cast("string"))
    ph = F.when(
        F.col("event_id") % 50 == 0, ph.bitwiseXOR(F.lit(8))
    ).otherwise(ph)
    imgs = ev.select(ph.alias("phash60"))
    return dedup.phash_band_stats(imgs, "phash60", bits=60, bands=4)


_PHASH_IMG_N = 600


def q_phash_near_dup_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image near-dup pipeline in the gate: PNG decode →
    phash_of → band-LSH join, end to end. The cell-mask fixture
    (fixtures.synth_phash_images) makes every decoded phash equal a
    closed-form 16-bit mask of the row id — planted (base, hamming-1,
    hamming-2) triples per 3-image group — so the DuckDB oracle
    regenerates the phash population from id arithmetic alone and replays
    the same banding + popcount verify the Spark side runs on pixels it
    actually decoded. Truncated payloads drop at the ok filter, matching
    the oracle's exclusion. No band cap: 16-bit/4-band keys are only 4
    bits wide, so every bucket is hot by construction at fixture scale
    (the cap path is gated separately by phash_near_dup_events)."""
    from . import fixtures
    from .multimodal import decode_image_features

    df = fixtures.synth_phash_images_cached(spark, _PHASH_IMG_N)
    feats = (
        decode_image_features(df)
        .filter(F.col("ok"))
        .select("image_id", "phash")
    )
    return dedup.phash_near_dups(
        feats, "image_id", "phash", bits=16, bands=4, max_hamming=2
    )


def q_image_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full image-dedup WORKFLOW end to end: PNG decode → phash →
    band-LSH candidate pairs → popcount verify → connected components →
    keeper per image (min id of each near-dup group; singletons keep
    themselves). Composes the three gated operators a 100 TB image dedup
    actually chains — decode_image_features, phash_near_dups,
    near_dup_groups — over the closed-form cell-mask fixture, so the
    DuckDB oracle replays the pair generation from id arithmetic and
    closes it transitively with a recursive CTE."""
    import os

    from . import fixtures
    from .multimodal import decode_image_features

    # The decode stage is MATERIALIZED once to a staged features table —
    # the production shape: nobody re-decodes 10^12 images per downstream
    # consumer (the CC final join and the pair pipeline would each re-run
    # the Python decode otherwise). The decode itself stays independently
    # driver-gated (phash_near_dup_images, image_features_*).
    def build(tmp: str) -> None:
        df = fixtures.synth_phash_images_cached(spark, _PHASH_IMG_N)
        (
            decode_image_features(df)
            .filter(F.col("ok"))
            .select("image_id", "phash")
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "feats"))
        )

    staged = _staged_source("imgfeats", sf_dir, build)
    feats = spark.read.parquet(os.path.join(staged, "feats"))
    pairs = dedup.phash_near_dups(
        feats, "image_id", "phash", bits=16, bands=4, max_hamming=2
    )
    return dedup.near_dup_groups(feats, pairs, "image_id")


_DUP_IMG_N = 600


def q_image_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level EXACT image dedup: md5(bytes) partial-agg groupBy over a
    fixture whose PNG payloads are byte-identical iff id % G matches
    (fixtures.synth_dup_images — pixels derive from the residue only, and
    the param map is injective below 128). The md5 itself can't appear in
    the output (DuckDB can't encode a PNG to hash it); instead the oracle
    replays the closed-form residue partition: keeper = the residue id
    itself (min id in each class), n_copies = ceil((N - r) / G). This is
    the image-payload analog of dedup_exact_documents — the first pass any
    100 TB image corpus runs (identical re-crawls collapse before any
    decode or near-dup work), hashing binary columns straight on the JVM
    with zero Python."""
    from . import fixtures

    df = fixtures.synth_dup_images_cached(spark, _DUP_IMG_N)
    out = dedup.exact_dedup_groups(df, "image_id", "bytes")
    return out.select(
        "keeper_id", F.col("n_copies").cast("long").alias("n_copies")
    )


def q_image_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-level drift over REAL decoded image features: decode the
    two-tone fixture → mean_r (closed-form: the integer c1+50) → per-shard
    KS/PSI vs the even-row reference profile — the corrupted-shard /
    ingest-regression probe of a 100 TB image pipeline, composing the
    multimodal decode with the drift machinery. The repartition inserts
    ONE shared Exchange so ReuseExchange decodes once across the
    reference-profile and per-shard branches (CLAUDE.md pattern)."""
    from . import fixtures
    from .multimodal import decode_image_features

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    feats = (
        decode_image_features(df)
        .filter(F.col("ok"))
        .select(
            "mean_r",
            F.substring("image_id", 4, 8).cast("bigint").alias("rid"),
        )
        .repartition(8)
    )
    ref = feats.filter(F.col("rid") % 2 == 0)
    profile = table_rules.reference_profile(ref, "mean_r", 50.0, 178.0, 16)
    out = table_rules.drift_per_partition(
        feats,
        "mean_r",
        profile,
        50.0,
        178.0,
        16,
        partition_col=F.pmod(F.col("rid"), F.lit(4)),
    )
    return out.select(
        F.col("partition_id").cast("bigint").alias("partition_id"),
        F.floor(F.col("ks") * 1e6).cast("bigint").alias("ks_e6"),
        F.floor(F.col("psi") * 1e6).cast("bigint").alias("psi_e6"),
    )


def q_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition metrics over the documents
    table: duplicate-bigram fraction + top-bigram share, the standard
    boilerplate/looping-generation filters."""
    from .functions.text import repetition_metrics

    return repetition_metrics(
        _read(spark, sf_dir, "documents"), "doc_id", "text", n=2
    )


def q_decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination in the gate: docs with doc_id % 97 == 0
    play the evaluation set; every corpus doc sharing a 5-token shingle
    with it is flagged with its distinct-overlap count. The eval shingle
    set is broadcast — the corpus side never shuffles its text."""
    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return dedup.decontaminate(d, bench, "doc_id", "text", k=5)


def q_top_fraction_approx_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gates the APPROXIMATE top-fraction path (the 100 TB one) via
    engine-independent invariants: per stratum, the approx keep-set must
    (a) contain every row strictly above the exact boundary score
    (percentile_approx's rank error at accuracy 10^4 is < 1 row at gate
    scale, and boundary ties only ADD rows) and (b) have a size within
    max(2% of the stratum, 25) of the exact count (tie-group + sketch
    slack). The booleans are computed by actually running the operator;
    the oracle recomputes the deterministic counts and asserts TRUE."""
    from pyspark.sql import Window

    from .functions.sampling import filter_top_fraction

    frac = 0.4
    d = _read(spark, sf_dir, "documents")
    kept = filter_top_fraction(
        d, F.col("n_chars"), frac, "doc_id",
        stratum_col=F.col("lang"), approximate=True,
    ).select("doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.md5(F.col("doc_id").cast("string"))
    )
    ranked = d.select("doc_id", "lang", "n_chars").withColumn(
        "_rn", F.row_number().over(w)
    ).withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("lang")))
    exact = ranked.filter(
        F.col("_rn") <= F.ceil(F.lit(frac) * F.col("_n")).cast("bigint")
    )
    thr = exact.groupBy("lang").agg(
        F.min("n_chars").alias("_thr"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.max("_n").cast("bigint").alias("_sz"),
    )
    above = (
        d.select("doc_id", "lang", "n_chars")
        .join(F.broadcast(thr.select("lang", "_thr")), "lang")
        .filter(F.col("n_chars") > F.col("_thr"))
    )
    n_above = above.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_above")
    )
    n_missing = (
        above.join(kept, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_missing"))
    )
    n_approx = (
        d.select("doc_id", "lang").join(kept, "doc_id", "left_semi")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n_approx"))
    )
    tol = F.greatest(F.ceil(F.lit(0.02) * F.col("_sz")), F.lit(25))
    return (
        thr.join(n_above, "lang", "left")
        .join(n_missing, "lang", "left")
        .join(n_approx, "lang", "left")
        .select(
            F.col("lang").alias("stratum"),
            "n_exact",
            F.coalesce("n_above", F.lit(0)).cast("bigint").alias("n_above"),
            (F.coalesce("n_missing", F.lit(0)) == 0).alias("ok_superset"),
            (
                F.abs(F.coalesce("n_approx", F.lit(0)) - F.col("n_exact"))
                <= tol
            ).alias("ok_bounded"),
        )
    )


def q_quantiles_approx_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gates column_quantiles' SKETCH path: approx_percentile at
    accuracy a guarantees a returned element whose rank interval
    [count(<v)+1, count(<=v)] intersects [q·n − n/a, q·n + n/a]. The gate
    recomputes the interval against the actual data and asserts it; the
    oracle regenerates the deterministic (column, q, n) frame with TRUE."""
    cols, qs = ["l_quantity", "l_extendedprice"], (0.25, 0.5, 0.9)
    li = _read(spark, sf_dir, "lineitem")
    approx = table_rules.column_quantiles(li, cols, qs, exact=False)
    m = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("double").alias("x"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    stats = m.join(F.broadcast(approx), "column_name").groupBy(
        "column_name", "q", "value"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("x") < F.col("value")).cast("long")).alias("n_below"),
        F.sum((F.col("x") <= F.col("value")).cast("long")).alias("n_atmost"),
    )
    tol = F.ceil(F.col("n") / F.lit(10000)) + F.lit(1)
    ok = (
        F.col("n_below") <= F.col("q") * F.col("n") + tol
    ) & (F.col("n_atmost") >= F.col("q") * F.col("n") - tol)
    return stats.select(
        "column_name",
        F.floor(F.col("q") * 100 + F.lit(0.5)).cast("bigint").alias("q_e2"),
        F.col("n").cast("bigint").alias("n"),
        ok.alias("ok_rank"),
    )


# draft-04 spec in the petstore Pet shape
# (/root/reference/priv/oas/3.0/examples/petstore.json components.schemas.Pet:
# integer id + string name required, optional string tag), written with
# draft-04 spellings (minLength/maxLength, boolean exclusiveMinimum, a $ref
# into definitions) so the gate exercises the WHOLE parser layer: draft
# selection, $ref resolution + naming, clean_optionals, and draft-04 keyword
# translation — then the registry-aware Column compiler.
_PETSTORE_SPEC = {
    "$schema": "http://json-schema.org/draft-04/schema#",
    "type": "object",
    "properties": {
        "id": {"type": "integer", "minimum": 0, "exclusiveMinimum": True},
        "name": {"$ref": "#/definitions/PetName"},
        "tag": {"type": "string", "maxLength": 8},
    },
    "required": ["id", "name"],
    "definitions": {
        "PetName": {"type": "string", "minLength": 1, "maxLength": 12}
    },
}


def q_validate_oas_petstore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parser layer end-to-end in the gate: parse a draft-04 petstore-Pet
    spec from a file (ndto_parser:parse/2 analog), compile the parsed
    registry, and row-object-validate deterministic Pet rows derived from
    events with seeded mutations. The oracle replays the residue classes
    with the compiled priority: required ≻ properties in declaration order
    (id, name, tag), and the $ref'd name validator reporting at its own
    '$' root (module-per-ref parity)."""
    import json
    import os
    import tempfile

    from .parser import parse
    from .runner import validate_row_object

    fd, p = tempfile.mkstemp(suffix=".json", prefix="ndto_petstore_")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(_PETSTORE_SPEC, f)
        schemas = dict(parse(p, name="petstore_pet"))
    finally:
        os.unlink(p)
    ev = _read(spark, sf_dir, "events").select("event_id")
    pets = ev.select(
        "event_id",
        F.when(F.col("event_id") % 11 == 0, F.lit(0))
        .otherwise(F.col("event_id"))
        .cast("long")
        .alias("id"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("string"))
        .when(F.col("event_id") % 5 == 0, F.lit("abcdefghijklmn"))
        .when(F.col("event_id") % 3 == 0, F.lit(""))
        .otherwise(F.lit("rex"))
        .alias("name"),
        F.when(F.col("event_id") % 13 == 0, F.lit("overlong_tag"))
        .otherwise(F.lit("cat"))
        .alias("tag"),
    )
    res = validate_row_object(
        pets, schemas["petstore_pet"], key="event_id", registry=schemas
    )
    return _gate_rows(res.violations, "event_id")


# fixed fixture sizes: the oracle SQL regenerates features from the row id,
# so the gate input must not depend on sf (multimodal bench scale comes from
# validate_images / bench.py)
_FEAT_IMG_N = 600
_AUDIO_N = 600
_VIDEO_N = 96


def _quantized_image_features(f: DataFrame, id_alias: str = "image_id") -> DataFrame:
    """Contract projection for the image-feature gate queries: dims as
    bigint, mean quantized to e4 (exact for the two-tone fixtures: the mean
    is the integer c1+50), phash as-is."""
    return f.select(
        F.col("image_id").alias(id_alias),
        "ok",
        F.col("w").cast("bigint").alias("w"),
        F.col("h").cast("bigint").alias("h"),
        F.floor(F.col("mean_r") * F.lit(1e4)).cast("bigint").alias("mean_e4"),
        "phash",
    )


def q_image_features_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow image-feature operator itself in the gate: REAL PNG decode
    over the closed-form two-tone fixture (fixtures.synth_feature_images),
    where dims / mean RGB / phash are exact SQL expressions of the row id —
    including the ok=False path for the seeded truncated payloads. This is
    the decode-path analog of validate_images_meta's residue oracle."""
    from . import fixtures
    from .multimodal import decode_image_features

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    return _quantized_image_features(decode_image_features(df))


def q_image_features_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize_images → decode_image_features chained in the gate: the 8x8
    nearest-neighbor resample of a two-tone image keeps exact 4/4 column
    halves for every fixture width (all multiples of 4), so mean and phash
    survive resizing unchanged and the oracle only switches dims to 8x8.
    Corrupt payloads are dropped by resize (no row), matching the oracle's
    exclusion."""
    from . import fixtures
    from .multimodal import decode_image_features, resize_images

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    return _quantized_image_features(decode_image_features(resize_images(df, 8, 8)))


def q_audio_features_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE decode + vectorized feature math in the gate: the
    square-wave fixture (fixtures.audio_clip_samples) makes every emitted
    feature bit-exact in float64 — rms = amp/2^15 (all |sample| equal; the
    square/mean/sqrt round-trip is exact for n·v with ≤53 significand
    bits), zero-crossings = floor((n-1)/2), duration = n/sr — so the
    DuckDB oracle recomputes them from the id arithmetic alone. Truncated
    payloads (RIFF magic intact, so no raw-PCM fallback) gate ok=False."""
    from . import fixtures
    from .multimodal import extract_audio_features

    df = fixtures.synth_audio_clips_cached(spark, _AUDIO_N)
    f = extract_audio_features(df)
    return f.select(
        "clip_id",
        "ok",
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.floor(F.col("duration_sec") * F.lit(1e6)).cast("bigint").alias("dur_e6"),
        F.floor(F.col("rms") * F.lit(1e6)).cast("bigint").alias("rms_e6"),
        F.floor(F.col("zero_cross_rate") * F.lit(1e6)).cast("bigint").alias("zcr_e6"),
    )


def q_video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full video path in the gate: RIFF/AVI demux (sample_video_frames,
    every 5th frame) chained into the image-feature decode, over MPNG clips
    of two-tone frames. Sampled frame indices AND each sampled frame's
    pixels are closed-form in (clip_id, frame_idx), so the oracle reproduces
    the whole (demux → sample → decode → featurize) pipeline; truncated
    clips are skipped (no rows), matching the oracle's exclusion."""
    from . import fixtures
    from .multimodal import decode_image_features, sample_video_frames

    df = fixtures.synth_video_clips_cached(spark, _VIDEO_N)
    frames = sample_video_frames(df, every_n=5)
    as_images = frames.select(
        F.concat_ws(
            ":", F.col("clip_id"), F.col("frame_idx").cast("string")
        ).alias("image_id"),
        F.col("frame_png").alias("bytes"),
    )
    return _quantized_image_features(
        decode_image_features(as_images), id_alias="frame_id"
    )


def q_exposure_filter_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brightness outlier filter over REAL decoded pixels: the two-tone
    fixture's channel means are exactly c1+50 (integer), so the luminance
    and the under/over/ok verdict are closed-form SQL of the row id —
    while the Spark side actually decodes every PNG. Thresholds 80/150
    split the c1 range [0,128) into all three verdict classes."""
    from . import fixtures
    from .images import exposure_verdicts
    from .multimodal import decode_image_features

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    return exposure_verdicts(decode_image_features(df), lo=80.0, hi=150.0)


def q_aspect_bucket_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDXL-style aspect bucketing over REAL decoded dims: fixture dims
    w = 8+4*(i%5), h = 6+i%7 are closed-form, so the nearest-ratio bucket
    is replayable SQL (including 20x12, whose rational ratio 5/3 is the
    midpoint of 4:3 and 2:1 but resolves to 2:1 in IEEE doubles — the
    engine-exactness this gate pins); the Spark side decodes for real."""
    from . import fixtures
    from .images import aspect_buckets
    from .multimodal import decode_image_features

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    return aspect_buckets(decode_image_features(df))


def q_shard_manifest_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard manifest over the image corpus: two-phase
    distributed rank (range partition → per-partition window + offset map
    — no global single-task sort), cut into 64-image shards. The oracle
    replays the manifest with a plain row_number() — shard aggregates
    depend only on the key order, not on how the rank was parallelized."""
    from . import fixtures
    from .functions.sharding import shard_manifest

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    return shard_manifest(df, "image_id", shard_size=64, n_partitions=8)


def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the REAL demux→decode chain: every
    frame's mean is (37i+53f+11)%128 + 50, so consecutive deltas are
    exactly +53 or −75 — threshold 60 marks only the wrap-around jumps,
    exercising both branches. Frame 0 is never a cut (NULL delta)."""
    from . import fixtures
    from .multimodal import (
        decode_image_features,
        sample_video_frames,
        scene_cuts,
    )

    df = fixtures.synth_video_clips_cached(spark, _VIDEO_N)
    frames = sample_video_frames(df, every_n=1)
    as_images = frames.select(
        F.concat_ws(
            ":", F.col("clip_id"), F.col("frame_idx").cast("string")
        ).alias("image_id"),
        F.col("frame_png").alias("bytes"),
    )
    feats = decode_image_features(as_images).select(
        F.substring_index("image_id", ":", 1).alias("clip_id"),
        F.substring_index("image_id", ":", -1).cast("int").alias("frame_idx"),
        F.col("mean_r").alias("mean"),
    )
    return scene_cuts(feats, threshold=60)


def q_stream_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multimodal ingest: the same Arrow decode operator
    (decode_image_features — the payload kernel is stateless, so it binds
    to a readStream unchanged) run as a Structured Streaming file source →
    append parquet sink, driven to completion with availableNow. The
    oracle is byte-identical to the batch image_features_clips oracle:
    a stateless streaming operator must emit exactly the batch rows."""
    from . import fixtures
    from .multimodal import decode_image_features

    # materialize the cache, then stream FROM the cache dir itself
    fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    stream = spark.readStream.schema("image_id string, bytes binary").parquet(
        fixtures.featimg_cache_path(_FEAT_IMG_N)
    )
    out = _quantized_image_features(decode_image_features(stream))
    return _run_stream(
        out, "append", "imgstream",
        "image_id string, ok boolean, w bigint, h bigint, "
        "mean_e4 bigint, phash bigint",
    )


_LINE_CHUNK = 3  # tokens per derived "line" (see q_line_dedup_documents)


def q_line_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style duplicated-line removal. The documents corpus has no
    newlines, so the gate derives a multi-line fixture EXPRESSION-SIDE —
    each doc's text re-chunked into 3-token lines joined by \\n — a
    derivation both engines replay exactly (Spark sequence/slice vs DuckDB
    generate_series/list-slice). With the ~30-word vocabulary, ~19% of
    3-token lines recur across documents (max df 10 at sf0.01), so both
    the drop and keep branches carry weight. Output keeps the cleaned
    text's md5 + length rather than the text (compact at sf0.1)."""
    d = _read(spark, sf_dir, "documents")

    def _chunks(toks):  # let-bound: the split runs once, not once per chunk
        nch = F.ceil(F.size(toks) / F.lit(float(_LINE_CHUNK))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), nch - F.lit(1)),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * _LINE_CHUNK + 1, _LINE_CHUNK)
            ),
        )

    chunks = bind(F.split(F.col("text"), " "), _chunks)
    ml = d.select("doc_id", F.array_join(chunks, "\n").alias("text"))
    out = dedup.line_dedup(ml, "doc_id", "text", sep="\n", min_df=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        F.md5(F.col("clean_text")).alias("clean_md5"),
        F.length("clean_text").cast("bigint").alias("clean_chars"),
    )


def q_bloom_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus Bloom dedup: the even md5-residue half of
    documents plays the previous crawl; every doc is probed against its
    broadcast Bloom filter (m=2^14 bits, k=4 — sized so the sf0.1 fill
    ratio leaves a visible false-positive band) and bloom hits are
    exact-verified. The prev-half rows themselves must all come back
    (bloom_hit, exact_dup) = (true, true) — no false negatives."""
    d = _read(spark, sf_dir, "documents")
    prev = d.filter(dedup.md5_low32(F.col("text")) % 2 == 0)
    return dedup.bloom_dedup_flags(
        d, prev, "doc_id", "text", m_bits=1 << 14, k=4
    )


def q_semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: deterministic k-means (the
    ann_ivf_trained training loop — md5-ordered init, quantized centroids)
    then within-cluster cosine >= 0.5 against smaller ids. The oracle
    replays training via the shared k-means CTE block and self-joins
    within clusters."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return dedup.semantic_dedup(
        emb, dim=64, k=8, n_iter=2, threshold=0.5, quantize=1e6
    )


def q_pair_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token-pair frequency table (one BPE merge iteration's
    candidate counts), tf floor 3 — the window ranks the pruned PAIR
    vocabulary, never the corpus."""
    from .functions.text import pair_stats

    return pair_stats(
        _read(spark, sf_dir, "documents"), "doc_id", "text", min_tf=3
    )


def q_score_percentiles_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile normalization of an integer quality score
    (token count — plenty of ties, which is the hard part): percent_rank /
    cume_dist / unique-ordered ntile, each recomputed by DuckDB's OWN
    window implementations — an independent second engine, not a replay."""
    from .functions.sampling import score_percentiles
    from .functions.text import token_count

    doc = _read(spark, sf_dir, "documents")
    return score_percentiles(
        doc,
        "doc_id",
        token_count(F.col("text")).cast("bigint"),
        F.col("source"),
        n_tiles=10,
    )


def q_token_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency table (tokenizer-training prep): tf, document
    frequency, and deterministic vocabulary rank, tf floor 2."""
    from .functions.text import token_stats

    return token_stats(_read(spark, sf_dir, "documents"), "doc_id", "text",
                       min_tf=2)


def q_mixing_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token shares + uniform-target mixing weights over the
    documents table (data-mixture rebalancing)."""
    from .functions.sampling import source_mixing_weights

    return source_mixing_weights(
        _read(spark, sf_dir, "documents"), "source", "text"
    )


_ASOF_TOL_S = 48 * 3600  # null-out band: purchases older than 48 h don't count
_RANGE_WINDOW_S = 6 * 3600  # attribute clicks within 6 h of a purchase
_SESSION_GAP_S = 86400  # per-user events average one ~10 h gap; 24 h merges runs


def _events_split(spark: SparkSession, sf_dir: str):
    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    return ev, clicks, purchases


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each click joined to the user's most recent
    purchase at-or-before it, nulled beyond a 48 h tolerance. The oracle is
    DuckDB's NATIVE ``ASOF LEFT JOIN`` — a fully independent second
    implementation of the semantics (not an algorithm replay)."""
    _, clicks, purchases = _events_split(spark, sf_dir)
    pur = purchases.select(
        "user_id",
        "ts",
        F.col("event_id").alias("p_event_id"),
        F.col("value").alias("p_value"),
    )
    out = temporal.asof_join(
        clicks, pur, on="ts", by="user_id", tolerance_s=_ASOF_TOL_S
    )
    return out.select(
        "event_id",
        "user_id",
        temporal.ts_to_us(out, "ts").alias("t_us"),
        F.floor(F.col("value") * 1e4).cast("bigint").alias("value_e4"),
        "p_event_id",
        F.col("asof_ts_us").alias("p_ts_us"),
        F.floor(F.col("p_value") * 1e4).cast("bigint").alias("p_value_e4"),
    )


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment via the bucketed equi-join: clicks falling in
    [purchase, purchase + 6 h) windows of the same user. The oracle is
    DuckDB's plain inequality join (its IEJoin path) — independent of the
    bucketing scheme."""
    _, clicks, purchases = _events_split(spark, sf_dir)
    iv = purchases.select(
        F.col("event_id").alias("p_event_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr(f"INTERVAL {_RANGE_WINDOW_S} SECONDS")).alias(
            "end_ts"
        ),
    )
    probes = clicks.select(
        "event_id", "user_id", F.col("ts").alias("c_ts"), "value"
    )
    out = temporal.range_join(
        probes,
        iv,
        "user_id",
        "c_ts",
        "start_ts",
        "end_ts",
        bucket_s=_RANGE_WINDOW_S,
    )
    return out.select(
        "p_event_id",
        "event_id",
        "user_id",
        F.floor(
            (temporal.ts_to_us(out, "c_ts") - temporal.ts_to_us(out, "start_ts"))
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("offset_s"),
        F.floor(F.col("value") * 1e4).cast("bigint").alias("value_e4"),
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (24 h gap) rolled up per session: counts,
    first/last µs, integer-cent value sums (order-independent — exact in
    both engines)."""
    ev, _, _ = _events_split(spark, sf_dir)
    out = temporal.session_summary(
        ev,
        "user_id",
        "ts",
        _SESSION_GAP_S,
        sum_cols={"sum_cents": F.floor(F.col("value") * 100).cast("long")},
    )
    return out.select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        F.col("n_events").cast("bigint").alias("n_events"),
        "start_us",
        "end_us",
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
    )


def q_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical hour→day→week rollup per event_type: ONE corpus scan
    at hour granularity, coarser levels re-aggregated from the hour
    partials. The oracle computes every level directly from the raw table
    — independently checking that the cascade is exact."""
    ev = _read(spark, sf_dir, "events")
    out = temporal.time_rollup(
        ev,
        "ts",
        ["event_type"],
        ("hour", "day", "week"),
        sum_cols={"sum_cents": F.floor(F.col("value") * 100).cast("long")},
    )
    return out.select(
        "level",
        "bucket_us",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
    )


_CMS_DEPTH = 4
_CMS_WIDTH = 256  # 150-1500 users across SFs: real collisions, bounded table
_HH_THRESHOLD = 75  # per-user counts span 45-99 at every SF: nonempty, selective


def q_cms_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable count-min counter table over events.user_id: the sketch is
    deterministic md5-low32 arithmetic, so DuckDB rebuilds every counter
    bit-exact — a full value-hash gate on the frequency-sketch state
    itself (the HLL-register-precision treatment for frequencies)."""
    from . import sketches

    ev = _read(spark, sf_dir, "events")
    cms = sketches.cms_table(
        ev, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return cms.select(
        F.col("j").cast("bigint").alias("j"),
        F.col("pos").cast("bigint").alias("pos"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


def q_heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-filtered heavy hitters end to end: CMS literal-map row filter
    (one-sided error — no heavy key can be dropped) + exact count over
    survivors only. The oracle is the NAIVE exact GROUP BY ... HAVING —
    an independent implementation whose agreement proves the sketch
    filter changed nothing but the shuffle volume."""
    from . import sketches

    ev = _read(spark, sf_dir, "events")
    out = sketches.heavy_hitters(
        ev, "user_id", _HH_THRESHOLD, depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return out.select(
        "user_id", F.col("n").cast("bigint").alias("n_events")
    )


def q_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style latest-version compaction: each (user_id, event_type)'s
    newest event, event_id as the equal-timestamp tiebreak. The oracle is
    DuckDB's own row_number window — independent top-1-per-group."""
    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    out = temporal.latest_snapshot(
        ev, ["user_id", "event_type"], "ts", tiebreak="event_id"
    )
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        temporal.ts_to_us(out, "ts").alias("t_us"),
        F.floor(F.col("value") * 1e4).cast("bigint").alias("value_e4"),
    )


_BM25_TERMS = ["spark", "join", "window"]


def q_bm25_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical BM25 retrieval scores over the documents table (the
    embedding-ANN family's lexical complement). The float fold is
    token-ordered in both engines; scores quantized to 1e-6."""
    from .functions.text import bm25_scores

    out = bm25_scores(
        _read(spark, sf_dir, "documents"), "doc_id", "text", _BM25_TERMS
    )
    return out.select(
        "doc_id",
        "n_terms",
        F.floor(F.col("score") * 1e6).cast("bigint").alias("score_e6"),
    )


def q_session_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING gap sessionization: the batch sessionize_events semantics
    run as an append-mode session_window aggregate (bounded state, final
    rows on watermark eviction), replayed availableNow over two staged
    micro-batches — the events file, then a far-future sentinel row whose
    only job is to advance the watermark past every real session end so
    the final no-data batch flushes all state. Window bounds are rendered
    as wall-clock strings (tz-proof round trip, the streaming_verdicts
    treatment); the oracle recomputes the sessions from the batch table.
    """
    import datetime
    import os

    from .streaming import session_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    schema = ev.schema

    def build(tmp: str) -> None:
        _stage_file(ev, os.path.join(tmp, "batch_0.parquet"), 1_600_000_000)
        # sentinel: fixed far-future ts > any testdata ts + gap; filtered
        # from the output (user_id -1), exists only to advance the watermark
        sentinel = spark.createDataFrame(
            [(-1, datetime.datetime(2100, 1, 1), -1, "sentinel", 0.0, "{}")],
            schema,
        )
        _stage_file(
            sentinel, os.path.join(tmp, "batch_1.parquet"), 1_600_003_600
        )

    src_dir = _staged_source("session", sf_dir, build)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = session_stream(
        stream,
        "user_id",
        "ts",
        "24 hours",
        sum_cols={"sum_cents": F.floor(F.col("value") * 100).cast("long")},
    ).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "start_str"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("end_str"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
    )
    sink = _run_stream(
        out, "append", "session",
        "user_id bigint, start_str string, end_str string, "
        "n_events bigint, sum_cents bigint",
    )
    return sink.filter(F.col("user_id") >= 0)


def q_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (C4/Dolma-style cleanup) over documents with
    deterministically PLANTED identifiers — the synthetic corpus contains
    none, so the gate appends an email (doc_id % 7), an E.164-ish phone
    (% 11) and a dotted-quad IP (% 13) to the text; the oracle constructs
    the byte-identical planted string in SQL. Detection/redaction uses
    functions/text.PII_PATTERNS, deliberately restricted to Java-regex /
    RE2-portable syntax. Output: per-class counts + the md5-low32
    signature of the redacted text (byte-exact redaction parity)."""
    from .dedup import md5_low32
    from .functions.text import pii_scrub

    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" reach user"), did.cast("string"), F.lit("@example.com")
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(F.lit(" call +1-555-"), (did % 10000 + 10000).cast("string")),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (did % 256).cast("string"),
                    F.lit(".0."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = pii_scrub(planted, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        md5_low32(F.col("clean_text")).alias("clean_sig"),
    )


def q_sample_k_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic per-group sample (the reservoir analog):
    10 docs per source, ranked by (md5(doc_id ":42"), doc_id) — the
    oracle replays the identical rank in DuckDB (md5 is engine-portable,
    hex compares lexicographically the same in both engines)."""
    from .functions.sampling import sample_k_per_group

    out = sample_k_per_group(
        _read(spark, sf_dir, "documents"), "source", "doc_id", k=10
    )
    return out.select("doc_id", "source", "sample_rank")


def q_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment over documents —
    the split is a pure function of md5_low32(doc_id ":42") % 10^6, so
    the oracle replays the exact bucket arithmetic and the same doc lands
    in the same split in both engines (and on any cluster size)."""
    from .functions.sampling import assign_splits, sample_bucket

    out = assign_splits(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return out.select(
        "doc_id",
        "split",
        sample_bucket(F.col("doc_id")).cast("bigint").alias("bucket"),
    )


def q_dsir_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-bigram importance weights, target = English docs.
    The oracle recomputes the 256-bucket smoothed log-ratio model and the
    ascending-bucket float fold in DuckDB; scores quantized to 1e-6."""
    from .functions.text import dsir_weights

    out = dsir_weights(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        F.col("lang") == "en",
        n_buckets=256,
        k=2,
    )
    return out.select(
        "doc_id",
        "n_grams",
        F.floor(F.col("logw") * 1e6).cast("bigint").alias("logw_e6"),
    )


def q_scd2_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 validity intervals over the events upsert stream: per
    user_id, compacted (event_type, value_cents) versions with
    [valid_from_us, valid_to_us) and is_current. The oracle builds the
    same history with DuckDB's OWN lag/lead windows — an independent
    second implementation, not a replay."""
    from .temporal import scd2_intervals

    e = (
        _read(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("value_cents"),
        )
    )
    return scd2_intervals(
        e,
        "user_id",
        "ts",
        ["event_type", "value_cents"],
        tiebreak="event_id",
    )


def q_pagerank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized PageRank over a link graph derived from events
    (src = user_id % 50, dst = (user_id*7 + event_id) % 50, self-loops
    dropped, distinct). All arithmetic is exact BIGINT with truncating
    division, so the oracle's unrolled per-iteration CTEs match
    bit-for-bit at any parallelism."""
    from .graph import pagerank

    e = _read(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    edges = (
        e.select(
            (F.col("user_id") % 50).alias("src"),
            ((F.col("user_id") * 7 + F.col("event_id")) % 50).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return pagerank(edges, n_iter=5)


def q_ppr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank over the same derived link graph: teleport
    mass restarts only at the seed set (v % 5 == 0) — TrustRank-style
    proximity centrality. Same exact-integer recurrence; the oracle's
    unrolled CTEs carry the seed CASE and match bit-for-bit."""
    from .graph import pagerank

    e = _read(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    edges = (
        e.select(
            (F.col("user_id") % 50).alias("src"),
            ((F.col("user_id") * 7 + F.col("event_id")) % 50).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    seeds = verts.filter(F.col("v") % 5 == 0)
    return pagerank(edges, n_iter=5, personalize=seeds)


# deterministic 512-bucket demo weight vector for the linear quality
# classifier gate (MINSTD multiplier keeps products tiny); both the Spark
# side and the generated oracle SQL embed the SAME literals — the model is
# an input, the operator under test is the scoring.
_LINEAR_W_E6 = [
    (((b + 1) * 48271) % 2001 - 1000) * 1000 for b in range(512)
]


def q_linear_scores_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear classifier margins over documents (fastText-style
    quality filter, inference): integer margin + keep verdict, exact
    BIGINT arithmetic end to end — the oracle re-hashes every token and
    re-folds the same literal weight vector."""
    from .functions.text import linear_scores

    return linear_scores(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        _LINEAR_W_E6,
        threshold_e6=0,
    )


def q_semantic_decontaminate_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semantic decontamination: eval set = vec_id % 23 == 0, corpus =
    the rest; flag corpus vectors with cosine ≥ 0.35 to any eval vector.
    Oracle = DuckDB's NATIVE list_cosine_similarity (independent);
    max_sim ships floor-quantized to e4 (the embedding_near_dup
    convention)."""
    from .dedup import semantic_decontaminate

    e = _read(spark, sf_dir, "embeddings")
    out = semantic_decontaminate(
        e.filter(F.col("vec_id") % 23 != 0),
        e.filter(F.col("vec_id") % 23 == 0),
        threshold=0.35,
    )
    return out.select(
        "vec_id",
        "n_hits",
        F.floor(F.col("max_sim") * 1e4).cast("bigint").alias("max_sim_e4"),
    )


def q_dup_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated 20-char-gram span fractions over
    documents. The oracle re-enumerates every position with DuckDB's
    range() + substr and replays the corpus-wide gram counts."""
    from .dedup import dup_spans

    return dup_spans(_read(spark, sf_dir, "documents"), "doc_id", "text", k=20)


def q_rollup_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP dataset stats over events: (event_type, day)
    prefix levels + grand total in one pass, with per-dim grouping
    flags. Oracle = DuckDB's OWN ROLLUP + GROUPING() — independent."""
    from .table_rules import rollup_stats

    e = _read(spark, sf_dir, "events")
    d = e.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return rollup_stats(
        d, ["event_type", "day"], {"sum_cents": F.col("cents")}
    )


def q_spikes_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window volume spikes per event_type: rows on days where
    day % 11 == 3 are replicated 4x expression-side (both engines replay
    the planting), so those buckets exceed the 2x trailing-7-bucket mean
    once the window warms up. Oracle = DuckDB's OWN rolling window."""
    from .table_rules import rolling_count_spikes

    e = _read(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    planted = e.select(
        "ts",
        "event_type",
        F.explode(
            F.sequence(
                F.lit(1), F.when(day % 11 == 3, F.lit(4)).otherwise(F.lit(1))
            )
        ).alias("_r"),
    )
    return rolling_count_spikes(
        planted, "ts", "event_type", granularity_seconds=86400,
        window=7, mult_e6=2_000_000, min_base=3,
    )


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance embedding outliers: codebook = the deterministic
    md5-ordered 16-sample (the untrained-IVF pick), flag vectors whose
    nearest-centroid squared distance exceeds 1.75 (e6-quantized). The
    oracle replays the exact (ssv - 2*dot) + ssc fold order — not native
    distance functions — so dist2_e6 matches bit-for-bit."""
    from .ann import centroid_outliers

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = [
        list(r["cvec"])
        for r in emb.select(
            F.col("embedding").alias("cvec"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
            "vec_id",
        )
        .orderBy("h", "vec_id")
        .limit(16)
        .select("cvec")
        .collect()
    ]
    if not cents:  # empty table: nothing to profile, contract schema out
        return spark.createDataFrame(
            [], "vec_id bigint, cid bigint, dist2_e6 bigint, outlier boolean"
        )
    return centroid_outliers(emb, cents, threshold_e6=1_750_000)


def q_hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for anchors vec_id < 5, the 3 most-similar
    vectors with a DIFFERENT label (same-label positives excluded).
    Oracle = the ann_topk shape plus the label exclusion."""
    from .ann import hard_negatives

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    out = hard_negatives(
        emb, emb.filter(F.col("vec_id") < 5), k=3
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4"),
    )


def q_color_hist_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel 4-bin color histograms over REALLY decoded two-tone
    fixtures: each decodable image is exactly two pixel values (c1,
    c1+100) in equal halves, and 100 > 64 puts them in distinct bins —
    so the sparse histogram is a closed-form SQL expression of the row
    id (two cells per channel, w·h/2 pixels each)."""
    from . import fixtures
    from .multimodal import color_histograms

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    return color_histograms(df, n_bins=4)


def q_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event_type
    sequences (tiebreak = event_id for equal timestamps). Oracle =
    DuckDB's OWN lead window + GROUP BY; p_e6 is exact integer div."""
    from .temporal import transition_matrix

    e = _read(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return transition_matrix(
        e, "user_id", "ts", "event_type", tiebreak="event_id"
    )


def q_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join per event_type: left spans =
    [ts, ts + (1 + event_id % 5) min), right spans (every 17th event) =
    [ts, ts + (1 + user_id % 3) min). Exactly-once pair emission via the
    max-start bucket filter; oracle = DuckDB's own inequality join."""
    from .temporal import interval_overlap_join

    e = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    left = e.select(
        "event_type",
        F.col("event_id").alias("l_id"),
        F.col("ts").alias("l_start"),
        F.timestamp_add(
            "MINUTE", (F.lit(1) + F.col("event_id") % 5).cast("int"), F.col("ts")
        ).alias("l_end"),
    )
    right = e.filter(F.col("event_id") % 17 == 0).select(
        "event_type",
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_start"),
        F.timestamp_add(
            "MINUTE", (F.lit(1) + F.col("user_id") % 3).cast("int"), F.col("ts")
        ).alias("r_end"),
    )
    out = interval_overlap_join(
        left, right, "event_type", "l_start", "l_end", "r_start", "r_end",
        bucket_s=120.0,
    )
    return out.select("event_type", "l_id", "r_id")


def q_dim_profile_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile: exact integer aggregates over
    e9-quantized components (order-independent, engine-exact). Oracle
    re-quantizes with DuckDB's generate_series indexing."""
    from .ann import dimension_profile

    return dimension_profile(_read(spark, sf_dir, "embeddings"))


def q_image_embed_topk_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image → embedding → ANN composition: pooled-pixel embeddings
    over REALLY decoded two-tone fixtures (cell means are exact integer
    doubles by construction) fed into brute_force_topk. The oracle
    rebuilds the closed-form 16-dim vectors from the row ids and replays
    the exact cosine fold order."""
    from . import ann, fixtures
    from .multimodal import embed_images

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    emb = embed_images(df, grid=4)
    anchors = emb.filter(F.col("image_id") < "fi_00000005")
    out = ann.brute_force_topk(emb, anchors, "image_id", "embedding", k=3)
    return out.select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4"),
    )


def q_tfidf_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by the log-free integer tf-idf
    (score = tf * ((N*1e6) div df)) — rank order is bit-reproducible.
    Oracle = DuckDB's own windows over the same integer scores."""
    from .functions.text import tfidf_top_terms

    return tfidf_top_terms(
        _read(spark, sf_dir, "documents"), "doc_id", "text", k=3
    )


def q_vad_segments_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold VAD segmentation over REALLY decoded square-wave
    WAVs: every 256-sample frame of a square wave has rms = amp/2^15
    EXACTLY (power-of-two frame mean + dyadic samples), so frame verdicts
    and rms_max_e6 = (amp*15625)//512 are closed-form in the row id —
    whole clip one segment when loud, zero when quiet."""
    from . import fixtures
    from .multimodal import energy_segments

    df = fixtures.synth_audio_clips_cached(spark, _AUDIO_N)
    return energy_segments(df, window=256, thr_e6=200_000)


def q_winsorize_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized [p01, p99] clamp of extendedprice cents. Oracle =
    DuckDB's OWN quantile_cont + clamp (the quantiles_lineitem-proven
    interpolation parity); clamped ships floor-quantized e4."""
    from .table_rules import winsorize

    li = _read(spark, sf_dir, "lineitem")
    out = winsorize(
        li,
        F.floor(F.col("l_extendedprice") * 100),
        ["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "v",
        F.floor(F.col("clamped") * 1e4).cast("bigint").alias("clamped_e4"),
        "clipped_lo",
        "clipped_hi",
    )


def q_snm_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood linkage candidates over documents keyed by the
    lowercased 16-char text prefix, window 3. The (key, padded-id) sort
    key is unique, so the candidate set is deterministic; oracle =
    DuckDB's OWN row_number + its own levenshtein."""
    from .functions.linkage import sorted_neighborhood_pairs

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.substring(F.col("text"), 1, 16)).alias("k")
    )
    return sorted_neighborhood_pairs(d, "doc_id", "k", window=3)


def q_image_embed_near_dup_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup BY EMBEDDING: decode → pooled-pixel embed →
    embedding-cosine pairs ≥ 0.95 (exact small-scale twin). Same-class
    images (equal (c1, swap)) are exact cosine-1 pairs; cross-class pairs
    reduce to 2-d cosines of (lo, hi) ratios — the oracle rebuilds the
    vectors from row ids and uses DuckDB's native cosine."""
    from . import fixtures
    from .dedup import embedding_near_dups
    from .multimodal import embed_images

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    emb = embed_images(df, grid=4)
    pairs = embedding_near_dups(
        emb, id_col="image_id", vec_col="embedding",
        threshold=0.95, exact=True,
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4"),
    )


def q_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA volume monitor per event_type over daily buckets, with the
    same expression-side 4x planting as spikes_events (day % 11 == 3) so
    the long-memory baseline gets real bursts to flag. alpha = 1/4 is
    dyadic — every EWMA step is three single IEEE ops, so the oracle's
    recursive CTE replays the sequence bit-exactly."""
    from .table_rules import ewma_monitor

    e = _read(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    planted = e.select(
        "ts",
        "event_type",
        F.explode(
            F.sequence(
                F.lit(1), F.when(day % 11 == 3, F.lit(4)).otherwise(F.lit(1))
            )
        ).alias("_r"),
    )
    return ewma_monitor(
        planted, "ts", "event_type", granularity_seconds=86400,
        alpha_num=1, alpha_den=4, mult_e6=2_000_000, warmup=3,
    )


def q_prototypes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding prototypes: exact integer (label, dim)
    aggregates over e9-quantized components; mean_q truncates toward
    zero (the oracle reconstructs Spark's div from DuckDB's floor-%)."""
    from .ann import class_prototypes

    return class_prototypes(_read(spark, sf_dir, "embeddings"))


def q_blur_scores_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplacian-variance sharpness over REALLY decoded two-tone PNGs.
    Closed form: the 4-neighbor Laplacian of a vertical two-tone image is
    ±3·(c2−c1) = ±300 in the two boundary-adjacent interior columns and 0
    elsewhere, so lap_sum = 0 and lap_sumsq = 2·(h−2)·300² exactly — the
    oracle replays the integer moments from the residue-class dims."""
    from . import fixtures
    from .multimodal import image_sharpness

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    return image_sharpness(df)


def q_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type OLS trend of daily volumes — exact integer sums,
    slope via truncating integer division (both engines subtract the
    remainder first)."""
    from .table_rules import group_trend

    return group_trend(_read(spark, sf_dir, "events"), "ts", "event_type")


def q_distinctness_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ Distinctness / UniqueValueRatio / Uniqueness analyzers over
    three lineitem columns; ratios are exact integer floor divisions."""
    from .table_rules import distinctness_profile

    return distinctness_profile(
        _read(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_partkey", "l_quantity"],
    )


def q_gini_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts via the grouped
    (value, frequency) closed form — tie-order-free, exact integers."""
    from .table_rules import gini_concentration

    return gini_concentration(_read(spark, sf_dir, "events"), "user_id")


def q_lm_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM fluency scores — log-free (per-position e6-floored
    exact integer probabilities); oracle rebuilds the same counts with
    DuckDB's own list machinery."""
    from .functions.text import lm_score

    return lm_score(_read(spark, sf_dir, "documents"), "doc_id", "text")


def q_hopping_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-day hopping windows with a 1-day hop per event_type: every event
    lands in exactly 3 windows; counts + integer-cent sums are exact."""
    from .temporal import hopping_windows

    e = _read(spark, sf_dir, "events")
    return hopping_windows(
        e, "ts", "event_type",
        window_seconds=259200, hop_seconds=86400,
        value=F.floor(F.col("value") * 100),
    )


def q_group_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupShuffleSplit audit over events grouped by user_id — split
    assignment is a pure function of the user key, so leaked_groups is 0
    and the oracle recomputes the same md5 buckets per user."""
    from .functions.sampling import grouped_split_summary

    return grouped_split_summary(
        _read(spark, sf_dir, "events"), "user_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


def q_best_keeper_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor per simhash group: the member with the
    greatest text length wins, ties → min doc_id (the keep-the-longest-
    duplicate policy layered over group assignment). Oracle = the proven
    simhash bit-vote CTE + DuckDB's own max/argmax replay."""
    docs = _read(spark, sf_dir, "documents")
    members = dedup.simhash_members(docs, "doc_id", "text", bits=16)
    scores = docs.select("doc_id", F.length("text").alias("score"))
    return dedup.best_per_group(members, scores, "doc_id", "simhash", "score")


def q_zipf_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit per lang (min_tf=2): x/y are exact integer
    floor-log2s via length(bin(v))-1 in BOTH engines; the OLS moments are
    exact BIGINTs and only the final slope is float, in a fixed
    (1e6·cov)/var operation order."""
    from .functions.text import zipf_fit

    return zipf_fit(
        _read(spark, sf_dir, "documents"), "doc_id", "text",
        group_col="lang", min_tf=2,
    )


_ALIGN_VOCAB = [
    "alpine", "lake", "sunset", "forest", "river", "meadow", "harbor",
    "night", "winter", "desert", "canyon", "island", "bridge", "garden",
    "storm", "valley",
]


def q_caption_alignment_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-score-shaped image-caption agreement over REALLY decoded
    two-tone fixtures: captions are synthesized deterministically from the
    image id (md5-picked words from a 16-word literal vocab), so the
    oracle rebuilds BOTH towers closed-form — the pooled-pixel embedding
    from the row id and the hashed bag-of-words caption vector from the
    same md5s — and replays the fixed cosine fold."""
    from . import fixtures
    from .multimodal import caption_alignment

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    vocab = F.array(*[F.lit(w) for w in _ALIGN_VOCAB])
    nw = dedup.md5_low32(F.col("image_id")) % 6 + 3
    words = F.transform(
        F.sequence(F.lit(1), nw),
        lambda i: F.get(
            vocab,
            (
                dedup.md5_low32(
                    F.concat(F.col("image_id"), F.lit(":"), i.cast("string"))
                )
                % 16
            ).cast("int"),
        ),
    )
    df2 = df.withColumn("caption", F.array_join(words, " "))
    return caption_alignment(df2, id_col="image_id", grid=4)


def q_minhash_estimate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only MinHash Jaccard ESTIMATE over the LSH candidates
    (the verify-free scale path — text is never touched after the
    signature stage). Same (k, h, bands) as the verified gate; the oracle
    rebuilds the same signatures and counts agreeing components with
    null-safe equality."""
    return dedup.minhash_estimate_pairs(
        _read(spark, sf_dir, "documents"), "doc_id", "text",
        k=5, num_hashes=32, bands=16, est_threshold=0.1,
    )


def q_dhash_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference hash over REALLY decoded two-tone fixtures: pooled-cell
    gradients are closed-form in the row id (unswapped rows carry the
    lo→hi step at each row's center, swapped rows are monotone
    non-increasing → dhash 0), so DuckDB rebuilds the exact bit pattern."""
    from . import fixtures
    from .multimodal import image_dhash

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    return image_dhash(df, grid=4)


def _view_click_join(
    spark: SparkSession, sf_dir: str, src_dir: str, how: str, tag: str
) -> DataFrame:
    """Replay views ⋈ clicks per user, view_ts <= click_ts <= view_ts + 4
    hours (both bounds inclusive), from the staged events source
    ``src_dir`` through stream_interval_join, one staged file per
    micro-batch. Watermarks (needed for the
    state-cleanup contract at scale) are far wider than the data span, so
    eviction can't race the replay. delay_us is an epoch-micros
    DIFFERENCE and the bounds compare as differences too, so the output
    is invariant to any constant timezone shift in the parquet read
    path."""
    from .streaming import stream_interval_join

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def side(event_type: str, id_alias: str, ts_alias: str) -> DataFrame:
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        if dict(s.dtypes).get("ts") == "timestamp_ntz":
            s = s.withColumn("ts", F.col("ts").cast("timestamp"))
        return s.filter(
            (F.col("event_type") == event_type)
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
        ).select(
            F.col("event_id").alias(id_alias),
            "user_id",
            F.col("ts").alias(ts_alias),
        )

    views = side("view", "view_id", "v_ts")
    clicks = side("click", "click_id", "c_ts")
    joined = stream_interval_join(
        views, clicks, "user_id", "v_ts", "c_ts", "4 hours",
        left_watermark="3650 days", right_watermark="3650 days", how=how,
    )
    out = joined.select(
        views["user_id"].alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("delay_us"),
    )
    return _run_stream(
        out, "append", tag,
        "user_id bigint, view_id bigint, click_id bigint, delay_us bigint",
    )


def q_stream_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join in the gate — the
    attribution shape: views ⋈ clicks per user where
    view_ts <= click_ts <= view_ts + 4 hours (both bounds inclusive).
    Both sides read the SAME symlinked single-file source, replayed
    availableNow — one micro-batch, so every pair co-resides in join
    state and the output is the complete interval join. The oracle is
    DuckDB's OWN inequality join — an independent second implementation
    of the semantics, not a replay."""
    return _view_click_join(
        spark, sf_dir, _events_source(sf_dir), "inner", "ivjoin"
    )


def q_stream_left_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream interval join: every view
    emits exactly once — matched views with their clicks (the inner
    rows), unmatched views with NULL click columns ON STATE EVICTION,
    which only the watermark can prove safe. The gate stages two
    micro-batches: the events file, then a far-future sentinel pair (one
    'view' + one 'click' row, user_id −1) whose only job is to advance
    BOTH sides' watermarks past every real row so the trailing no-data
    batch flushes all unmatched state (session_stream's sentinel
    contract). Oracle = DuckDB's OWN LEFT JOIN with the same interval
    condition — independent semantics."""
    import datetime
    import os

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def build(tmp: str) -> None:
        _stage_file(ev, os.path.join(tmp, "batch_0.parquet"), 1_600_000_000)
        far = datetime.datetime(2100, 1, 1)
        sentinel = spark.createDataFrame(
            [
                (-1, far, -1, "view", 0.0, "{}"),
                (-2, far, -1, "click", 0.0, "{}"),
            ],
            ev.schema,
        )
        _stage_file(
            sentinel, os.path.join(tmp, "batch_1.parquet"), 1_600_003_600
        )

    src_dir = _staged_source("ivjleft", sf_dir, build)
    sink = _view_click_join(
        spark, sf_dir, src_dir, "left_outer", "ivjleft"
    )
    return sink.filter(F.col("user_id") >= 0)


def q_dhash_near_dup_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash-banded near-dup over REALLY decoded cell-mask images: decode
    → grid-pooled gradients → 12-bit dHash → band LSH + popcount verify
    (bits=12, bands=4 → exact recall for hamming < 4). A mask bit flip
    perturbs ≤ 2 adjacent gradients, so the planted hamming-1/2 phash
    triples surface here at dHash hamming ≤ 3; the oracle regenerates the
    dHash population from the mask arithmetic and replays the banding."""
    from . import fixtures
    from .multimodal import image_dhash

    df = fixtures.synth_phash_images_cached(spark, _PHASH_IMG_N)
    dh = image_dhash(df, grid=4)
    return dedup.phash_near_dups(
        dh, "image_id", "dhash", bits=12, bands=4, max_hamming=3
    )


def q_kcenter_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (k=6) over the embeddings table: the
    diversity subset a labeling budget buys. Oracle = unrolled
    farthest-first rounds where every distance replays the engine-exact
    ascending fold (the caption/outlier contract), so the argmax
    decisions are bit-for-bit."""
    from .ann import kcenter_coreset

    return kcenter_coreset(
        _read(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=6
    )


def q_label_prop_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the LSH kNN graph: 20% of
    the embeddings (vec_id % 5 == 0) keep their label as clamped seeds,
    2 synchronous rounds spread modal neighbor labels (ties → smallest)
    across the rest. The oracle chains the proven kg CTE block into two
    unrolled vote/merge rounds with DuckDB's own windows."""
    from .ann import knn_edges_from_topk, lsh_topk
    from .graph import label_propagation

    emb = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 800)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            "label",
        )
    )
    edges = knn_edges_from_topk(
        lsh_topk(
            emb.select("vec_id", "embedding"),
            emb.select("vec_id", "embedding"),
            dim=64, k=3, num_planes=6, num_tables=4,
        )
    )
    seeds = emb.filter(
        (F.col("vec_id") % 5 == 0) & F.col("label").isNotNull()
    ).select(F.col("vec_id"), F.col("label"))
    verts = emb.select("vec_id")
    out = label_propagation(
        edges, seeds, verts, n_iter=2,
        vertex_col="vec_id", label_col="label",
    )
    return out


def q_audio_fingerprint_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-fingerprint audio dedup over REAL WAV decode: the fixture's
    (sr, n, amp) classes are collision-free by CRT (97 and 37 are coprime
    to their moduli), so the gate PLANTS duplicates — every 10th clip is
    unioned again under a cloned id (same bytes, new id: the re-wrapped
    master). Fingerprint groups then have exactly n_copies=2 for planted
    ids and 1 elsewhere; the oracle rebuilds the fingerprint string from
    the closed-form feature expressions and replays the same md5."""
    from . import fixtures
    from .multimodal import audio_fingerprint, extract_audio_features

    df = fixtures.synth_audio_clips_cached(spark, _AUDIO_N)
    i = F.substring("clip_id", 4, 8).cast("int")
    dup = df.filter(i % 10 == 0).withColumn(
        "clip_id", F.concat(F.col("clip_id"), F.lit("_dup"))
    )
    fp = audio_fingerprint(extract_audio_features(df.unionByName(dup)))
    return (
        fp.filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(
            F.min("clip_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )


def q_knn_graph_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN graph's SCALE path, gated: hyperplane-LSH bucketed top-k
    (ann.lsh_topk — bucket equi-join candidates, exact re-rank) fed into
    knn_edges_from_topk. Same (planes, tables, seed) as ann_lsh_embeddings
    so the oracle reuses the proven bucket-replay CTEs; candidates differ
    from the exact graph only by LSH recall, and the oracle replays the
    SAME buckets, so the comparison is exact."""
    emb = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 800)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    from .ann import knn_edges_from_topk, lsh_topk

    nn = lsh_topk(emb, emb, dim=64, k=3, num_planes=6, num_tables=4)
    return knn_edges_from_topk(nn).select(
        "id_a",
        "id_b",
        F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4"),
        "mutual",
    )


def q_dup_matrix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: the verified MinHash near-dup
    pairs (same params as minhash_lsh_documents) rolled up per unordered
    source pair — which sources copy which. The oracle extends the
    proven mh_pairs CTE chain with DuckDB's own joins + group-by."""
    return dedup.cross_group_dup_matrix(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        "source",
        k=5,
        num_hashes=32,
        bands=16,
        verify_threshold=0.1,
    )


def q_encoding_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-encoding QA (mojibake pass) over documents with PLANTED
    artifacts — the synthetic corpus is clean, so the gate appends
    double-encode markers (doc_id % 5 / % 7), U+FFFD (% 11) and a BEL
    control (% 13); the oracle plants the byte-identical strings with
    NULL-propagating || and replays the same length arithmetic."""
    from .functions.text import encoding_report

    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 5 == 0, F.lit(" cafÃ©")).otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit(" â€™")).otherwise(
                F.lit("")
            ),
            F.when(did % 11 == 0, F.lit(" x�y")).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit("\x07")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return encoding_report(planted, "doc_id", "text")


def q_aug_dhash_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmentation round-trip over REAL codec work: decode → hflip
    (exact pixel permutation) → PNG re-encode → decode → dHash. The
    two-tone fixtures make the whole chain closed-form — mirroring swaps
    the tone halves, so the dhash pattern is exactly the UNFLIPPED
    fixture's opposite class (1170 ↔ 0) — and any defect anywhere in the
    decode/transform/encode/feature chain breaks the bit pattern."""
    from . import fixtures
    from .multimodal import image_dhash, transform_images

    df = fixtures.synth_feature_images_cached(spark, _FEAT_IMG_N)
    return image_dhash(transform_images(df, "hflip"), grid=4)


def q_epoch_shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle (epoch 3): global position
    = two-phase distributed rank of md5(doc_id ':3:42'). The oracle is
    DuckDB's OWN row_number over the same salted bucket — independently
    proving the range-partition + offset-map rank equals a true global
    sort's."""
    from . import spill
    from .functions.sharding import epoch_shuffle, unpersist_positions

    out = epoch_shuffle(
        _read(spark, sf_dir, "documents"), "doc_id", epoch=3, n_partitions=8
    )
    # spill so the rank's persisted parent can be released before the
    # gate's collect
    try:
        return spill.materialize(out, "epoch")
    finally:
        unpersist_positions(out)


def q_knn_graph_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph construction (k=3 cosine) over the embeddings
    table: canonical undirected edges + the mutual flag. The oracle ranks
    with DuckDB's NATIVE list_cosine_similarity window and re-derives the
    direction count — independent scoring AND independent ranking."""
    emb = (
        _read(spark, sf_dir, "embeddings")
        # bounded node set: the exact all-pairs scorer is the small-scale
        # oracle twin (O(n²·d) interpreted-HOF cosines — 5000 nodes
        # measured 80 s at sf0.1); at scale the graph comes from
        # lsh/ivf_topk via knn_edges_from_topk. 800 nodes covers every
        # sf0.01 vec_id, so the oracle result is unchanged at gate scale.
        .filter(F.col("vec_id") < 800)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    from .ann import knn_graph

    return knn_graph(emb, "vec_id", "embedding", k=3).select(
        "id_a",
        "id_b",
        F.floor(F.col("cosine_sim") * 1e4).cast("bigint").alias("sim_e4"),
        "mutual",
    )


QUERIES = {
    "validate_documents": q_validate_documents,
    "validate_events": q_validate_events,
    "validate_lineitem": q_validate_lineitem,
    "stats_lineitem": q_stats_lineitem,
    "uniqueness_lineitem": q_uniqueness_lineitem,
    "ref_integrity_events": q_ref_integrity_events,
    "drift_lineitem": q_drift_lineitem,
    "compliance_lineitem": q_compliance_lineitem,
    "histogram_lineitem": q_histogram_lineitem,
    "entropy_mi_events": q_entropy_mi_events,
    "corr_lineitem": q_corr_lineitem,
    "outliers_events": q_outliers_events,
    "dedup_exact_documents": q_dedup_exact_documents,
    "dedup_apply_documents": q_dedup_apply_documents,
    "quantiles_lineitem": q_quantiles_lineitem,
    "ngram_jaccard_documents": q_ngram_jaccard_documents,
    "minhash_lsh_documents": q_minhash_lsh_documents,
    "near_dup_groups_documents": q_near_dup_groups_documents,
    "simhash_documents": q_simhash_documents,
    "simhash_apply_documents": q_simhash_apply_documents,
    "ann_topk_embeddings": q_ann_topk_embeddings,
    "ann_lsh_embeddings": q_ann_lsh_embeddings,
    "ann_ivf_embeddings": q_ann_ivf_embeddings,
    "ann_ivf_trained_embeddings": q_ann_ivf_trained_embeddings,
    "drift_per_partition_lineitem": q_drift_per_partition_lineitem,
    "text_quality_documents": q_text_quality_documents,
    "lang_id_documents": q_lang_id_documents,
    "fingerprint_documents": q_fingerprint_documents,
    "hll_distinct_events": q_hll_distinct_events,
    "validate_images": q_validate_images,
    "validate_images_meta": q_validate_images_meta,
    "validate_formats": q_validate_formats,
    "validate_arrays": q_validate_arrays,
    "validate_row_object": q_validate_row_object,
    "streaming_verdicts": q_streaming_verdicts,
    "stateful_verdicts_events": q_stateful_verdicts,
    "validate_map_object": q_validate_map_object,
    "validate_tuple_anyof": q_validate_tuple_anyof,
    "validate_json_props": q_validate_json_props,
    "validate_json_mixed": q_validate_json_mixed,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "token_counts_documents": q_token_counts_documents,
    "normalize_documents": q_normalize_documents,
    "chunk_documents": q_chunk_documents,
    "strip_html_documents": q_strip_html_documents,
    "remove_lines_documents": q_remove_lines_documents,
    "vocab_oov_documents": q_vocab_oov_documents,
    "group_quantiles_lineitem": q_group_quantiles_lineitem,
    "validate_embeddings": q_validate_embeddings,
    "profile_lineitem": q_profile_lineitem,
    "infer_json_events": q_infer_json_events,
    "c4_filter_documents": q_c4_filter_documents,
    "count_anomalies_events": q_count_anomalies_events,
    "pack_chunks_documents": q_pack_chunks_documents,
    "sample_documents": q_sample_documents,
    "top_fraction_documents": q_top_fraction_documents,
    "violation_summary_documents": q_violation_summary_documents,
    "dedup_stream_events": q_dedup_stream_events,
    "image_features_clips": q_image_features_clips,
    "image_features_resized": q_image_features_resized,
    "exposure_filter_images": q_exposure_filter_images,
    "aspect_bucket_images": q_aspect_bucket_images,
    "shard_manifest_images": q_shard_manifest_images,
    "stream_image_features": q_stream_image_features,
    "video_scene_cuts": q_video_scene_cuts,
    "audio_features_clips": q_audio_features_clips,
    "video_frame_features": q_video_frame_features,
    "validate_oas_petstore": q_validate_oas_petstore,
    "top_fraction_approx_invariants": q_top_fraction_approx_invariants,
    "quantiles_approx_invariants": q_quantiles_approx_invariants,
    "validate_stream_events": q_validate_stream_events,
    "repetition_documents": q_repetition_documents,
    "decontaminate_documents": q_decontaminate_documents,
    "phash_near_dup_events": q_phash_near_dup_events,
    "hll_groups_events": q_hll_groups_events,
    "phash_near_dup_images": q_phash_near_dup_images,
    "image_dedup_groups": q_image_dedup_groups,
    "image_exact_dedup": q_image_exact_dedup,
    "pair_filter_images": q_pair_filter_images,
    "meta_consistency_images": q_meta_consistency_images,
    "snapshot_diff_events": q_snapshot_diff_events,
    "completeness_events": q_completeness_events,
    "freshness_events": q_freshness_events,
    "salted_join_events": q_salted_join_events,
    "mad_outliers_events": q_mad_outliers_events,
    "coverage_gaps_events": q_coverage_gaps_events,
    "fuzzy_match_documents": q_fuzzy_match_documents,
    "audio_quality_clips": q_audio_quality_clips,
    "canonical_urls_events": q_canonical_urls_events,
    "l_diversity_events": q_l_diversity_events,
    "prefix_jaccard_documents": q_prefix_jaccard_documents,
    "benford_lineitem": q_benford_lineitem,
    "split_leakage_documents": q_split_leakage_documents,
    "phash_incremental_events": q_phash_incremental_events,
    "unit_norm_embeddings": q_unit_norm_embeddings,
    "phash_incremental_images": q_phash_incremental_images,
    "grouped_shards_documents": q_grouped_shards_documents,
    "cohort_retention_events": q_cohort_retention_events,
    "funnel_events": q_funnel_events,
    "domain_filter_events": q_domain_filter_events,
    "join_skew_events": q_join_skew_events,
    "collocations_documents": q_collocations_documents,
    "corpus_report_documents": q_corpus_report_documents,
    "lang_agreement_documents": q_lang_agreement_documents,
    "entropy_documents": q_entropy_documents,
    "k_anonymity_events": q_k_anonymity_events,
    "fd_documents": q_fd_documents,
    "monotonicity_events": q_monotonicity_events,
    "quantize_embeddings": q_quantize_embeddings,
    "quantized_topk_embeddings": q_quantized_topk_embeddings,
    "weighted_sample_documents": q_weighted_sample_documents,
    "budget_documents": q_budget_documents,
    "phash_band_stats_events": q_phash_band_stats_events,
    "aspect_batches_events": q_aspect_batches_events,
    "image_feature_drift": q_image_feature_drift,
    "line_dedup_documents": q_line_dedup_documents,
    "bloom_dedup_documents": q_bloom_dedup_documents,
    "semantic_dedup_embeddings": q_semantic_dedup_embeddings,
    "token_stats_documents": q_token_stats_documents,
    "pair_stats_documents": q_pair_stats_documents,
    "score_percentiles_documents": q_score_percentiles_documents,
    "mixing_weights_documents": q_mixing_weights_documents,
    "asof_join_events": q_asof_join_events,
    "range_join_events": q_range_join_events,
    "sessionize_events": q_sessionize_events,
    "rollup_events": q_rollup_events,
    "cms_counts_events": q_cms_counts_events,
    "heavy_hitters_events": q_heavy_hitters_events,
    "latest_events": q_latest_events,
    "session_stream_events": q_session_stream_events,
    "bm25_documents": q_bm25_documents,
    "pii_documents": q_pii_documents,
    "sample_k_documents": q_sample_k_documents,
    "split_documents": q_split_documents,
    "dsir_documents": q_dsir_documents,
    "scd2_events": q_scd2_events,
    "pagerank_events": q_pagerank_events,
    "ppr_events": q_ppr_events,
    "linear_scores_documents": q_linear_scores_documents,
    "semantic_decontaminate_embeddings": q_semantic_decontaminate_embeddings,
    "dup_spans_documents": q_dup_spans_documents,
    "rollup_stats_events": q_rollup_stats_events,
    "spikes_events": q_spikes_events,
    "embedding_outliers": q_embedding_outliers,
    "hard_negatives_embeddings": q_hard_negatives_embeddings,
    "color_hist_images": q_color_hist_images,
    "transitions_events": q_transitions_events,
    "interval_join_events": q_interval_join_events,
    "dim_profile_embeddings": q_dim_profile_embeddings,
    "image_embed_topk_images": q_image_embed_topk_images,
    "tfidf_documents": q_tfidf_documents,
    "vad_segments_clips": q_vad_segments_clips,
    "winsorize_lineitem": q_winsorize_lineitem,
    "snm_documents": q_snm_documents,
    "image_embed_near_dup_images": q_image_embed_near_dup_images,
    "ewma_events": q_ewma_events,
    "prototypes_embeddings": q_prototypes_embeddings,
    "blur_scores_images": q_blur_scores_images,
    "trend_events": q_trend_events,
    "distinctness_lineitem": q_distinctness_lineitem,
    "gini_events": q_gini_events,
    "lm_score_documents": q_lm_score_documents,
    "hopping_events": q_hopping_events,
    "group_split_events": q_group_split_events,
    "best_keeper_documents": q_best_keeper_documents,
    "zipf_documents": q_zipf_documents,
    "caption_alignment_images": q_caption_alignment_images,
    "minhash_estimate_documents": q_minhash_estimate_documents,
    "dhash_images": q_dhash_images,
    "stream_join_events": q_stream_join_events,
    "stream_left_join_events": q_stream_left_join_events,
    "label_prop_embeddings": q_label_prop_embeddings,
    "kcenter_embeddings": q_kcenter_embeddings,
    "dhash_near_dup_images": q_dhash_near_dup_images,
    "audio_fingerprint_clips": q_audio_fingerprint_clips,
    "knn_graph_lsh_embeddings": q_knn_graph_lsh_embeddings,
    "dup_matrix_documents": q_dup_matrix_documents,
    "encoding_documents": q_encoding_documents,
    "aug_dhash_images": q_aug_dhash_images,
    "epoch_shuffle_documents": q_epoch_shuffle_documents,
    "knn_graph_embeddings": q_knn_graph_embeddings,
}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (ANSI-ish; runs on pre-registered parquet views)
#
# The approximate operators (MinHash LSH, SimHash, hyperplane LSH, IVF) get
# oracles that REPLICATE the algorithm, not its exact twin: the same plane /
# centroid / universal-hash constants the Spark side derives are embedded
# into generated SQL, so the oracle checks the bucketing + verification
# pipeline bit-for-bit instead of assuming recall == 1.

_DOC_TOKS = (
    "list_filter(string_split_regex(text, '\\s+'), x -> x != '')"
)

# Spark md5_low32 == DuckDB ('0x' || substr(md5(x),1,8))::BIGINT
def _md5_low32_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def _hyperplane_bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB expression for one table's signature as the vector kernel
    computes it in ann.lsh_buckets_arrow: bit j = plane j's projection > 0."""
    terms = []
    for j, p in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {arr}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")::BIGINT"


def _lsh_tables_cte(
    src: str, vec: str, dim: int, num_planes: int, num_tables: int, seed: int
) -> str:
    """UNION ALL of (id, v, t, bucket) per LSH table over ``src``."""
    selects = []
    for t in range(num_tables):
        planes = ann._planes(dim, num_planes, seed + t * 1000)
        selects.append(
            f"SELECT vec_id, v, {t} AS t,"
            f" {_hyperplane_bucket_sql(vec, planes)} AS bucket FROM {src}"
        )
    return "\n  UNION ALL ".join(selects)


def _minhash_lsh_ctes(
    k: int, num_hashes: int, bands: int, seed: int, threshold: float
) -> str:
    """CTE chain ending in ``mh_pairs`` (id_a, id_b, jaccard_num/den) —
    embeddable into larger queries (the near-dup-groups oracle reuses it)."""
    params = dedup._hash_params(num_hashes, seed)
    r = num_hashes // bands
    sig_terms = ",\n    ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {dedup.HASH_PRIME}))"
        for a, b in params
    )
    band_selects = []
    for i in range(bands):
        parts = " || ',' || ".join(
            f"sg[{i * r + j + 1}]::VARCHAR" for j in range(r)
        )
        band_selects.append(
            f"SELECT doc_id, {i} AS band, md5({parts}) AS bucket FROM sig"
        )
    banded = "\n  UNION ALL ".join(band_selects)
    return f"""{_shingle_cte(k)},
hv AS (SELECT doc_id, list_transform(shingles, s -> {_md5_low32_sql('s')}) AS hs FROM sh),
sig AS (SELECT doc_id, [
    {sig_terms}
  ] AS sg FROM hv),
banded AS (
  {banded}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
),
ex AS (SELECT doc_id, len(hs) AS n_sh, unnest(hs) AS shingle FROM hv),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM ex a JOIN ex b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
mh_pairs AS (
  SELECT c.id_a, c.id_b, inter AS jaccard_num, na + nb - inter AS jaccard_den
  FROM cands c JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
  WHERE inter >= {threshold} * (na + nb - inter)
)"""


def _minhash_lsh_sql(
    k: int, num_hashes: int, bands: int, seed: int, threshold: float
) -> str:
    return (
        "WITH "
        + _minhash_lsh_ctes(k, num_hashes, bands, seed, threshold)
        + "\nSELECT id_a, id_b, jaccard_num, jaccard_den FROM mh_pairs"
    )


def _near_dup_groups_sql(
    k: int, num_hashes: int, bands: int, seed: int, threshold: float
) -> str:
    """Connected components (min-id) over the MinHash-LSH near-dup graph,
    via a recursive transitive closure — keeper_id = min reachable doc_id.
    Singleton docs keep themselves."""
    return f"""
WITH RECURSIVE {_minhash_lsh_ctes(k, num_hashes, bands, seed, threshold)},
edges AS (
  SELECT id_a AS a, id_b AS b FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, min(dst) AS keeper_id FROM reach GROUP BY 1
"""


def _simhash_cte(bits: int) -> str:
    """Shared per-doc simhash CTEs (t: token-hash arrays, s: doc simhash)
    — used by the groups oracle and the apply oracle."""
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {j}) & 1 = 1)) > len(hs)"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""t AS (
  SELECT doc_id,
         list_transform({_DOC_TOKS}, x -> {_md5_low32_sql('x')}) AS hs
  FROM documents
),
s AS (SELECT doc_id, ({bit_terms})::BIGINT AS simhash FROM t)"""


def _simhash_sql(bits: int) -> str:
    return f"""
WITH {_simhash_cte(bits)}
SELECT simhash, count(*)::BIGINT AS n_docs,
       array_to_string(
         list_transform(list_sort(list(doc_id))[1:5], x -> CAST(x AS VARCHAR)),
         ','
       ) AS example_ids
FROM s GROUP BY 1 HAVING count(*) > 1
"""


def _ann_lsh_sql(dim: int, k: int, num_planes: int, num_tables: int, seed: int) -> str:
    tables = _lsh_tables_cte("e", "v", dim, num_planes, num_tables, seed)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  {tables}
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM b qb JOIN b cb USING (t, bucket)
  WHERE qb.vec_id < 5 AND cb.vec_id != qb.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(eq.v, en.v) AS sim
  FROM cand c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e en ON en.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(floor(sim * 1e4) AS BIGINT) AS sim_e4
FROM ranked WHERE rk <= {k}
"""


def _ann_ivf_sql(k: int, n_lists: int, n_probe: int) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cid, v AS cvec FROM e
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {n_lists}
),
ca AS (
  SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cvec) AS s
  FROM e CROSS JOIN cents c
),
ranked_assign AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
  FROM ca
),
corpus_assign AS (SELECT vec_id, cid FROM ranked_assign WHERE rk = 1),
query_assign AS (
  SELECT vec_id AS query_id, cid FROM ranked_assign
  WHERE rk <= {n_probe} AND vec_id < 5
),
cand AS (
  SELECT q.query_id, a.vec_id AS neighbor_id
  FROM query_assign q JOIN corpus_assign a USING (cid)
  WHERE a.vec_id != q.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id, list_cosine_similarity(eq.v, en.v) AS sim
  FROM cand c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e en ON en.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(floor(sim * 1e4) AS BIGINT) AS sim_e4
FROM ranked WHERE rk <= {k}
"""


def _kmeans_ctes(n_lists: int, dim: int, n_iter: int) -> list[str]:
    """CTE block replaying ann.kmeans_centroids exactly — md5-ordered
    init, cosine-argmax assignment (ties → lower cid), per-dimension avg
    means truncated to floor(x*1e6)/1e6, empty clusters keeping the
    previous centroid. Yields ``e`` (the corpus) and ``c{n_iter}`` (the
    trained codebook); shared by the trained-IVF and SemDeDup oracles."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cid, v AS cvec
  FROM e QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= {n_lists}
)""",
    ]
    mean_terms = ",\n    ".join(
        f"floor(avg(v[{i + 1}]) * 1e6) / 1e6" for i in range(dim)
    )
    for it in range(1, n_iter + 1):
        prev = f"c{it - 1}"
        ctes.append(
            f"""a{it} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cid) AS rk
    FROM e CROSS JOIN {prev} c
  ) WHERE rk = 1
)"""
        )
        ctes.append(
            f"""m{it} AS (
  SELECT cid, [
    {mean_terms}
  ] AS cvec FROM a{it} GROUP BY cid
)"""
        )
        ctes.append(
            f"""c{it} AS (
  SELECT p.cid, coalesce(m.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN m{it} m USING (cid)
)"""
        )
    return ctes


def _ann_ivf_trained_sql(
    k: int, n_lists: int, n_probe: int, dim: int, n_iter: int
) -> str:
    """IVF over a trained codebook: Lloyd's iterations unrolled as CTEs
    (_kmeans_ctes), then the same IVF probe/rank as _ann_ivf_sql over the
    trained centroids."""
    ctes = _kmeans_ctes(n_lists, dim, n_iter)
    trained = f"c{n_iter}"
    ctes.append(
        f"""assign_all AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cid) AS rk
  FROM e CROSS JOIN {trained} c
)"""
    )
    ctes.append("corpus_assign AS (SELECT vec_id, cid FROM assign_all WHERE rk = 1)")
    ctes.append(
        f"""query_assign AS (
  SELECT vec_id AS query_id, cid FROM assign_all
  WHERE rk <= {n_probe} AND vec_id < 5
)"""
    )
    ctes.append(
        """cand AS (
  SELECT q.query_id, a.vec_id AS neighbor_id
  FROM query_assign q JOIN corpus_assign a USING (cid)
  WHERE a.vec_id != q.query_id
)"""
    )
    ctes.append(
        """scored AS (
  SELECT c.query_id, c.neighbor_id, list_cosine_similarity(eq.v, en.v) AS sim
  FROM cand c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e en ON en.vec_id = c.neighbor_id
)"""
    )
    ctes.append(
        """ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM scored
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT query_id, neighbor_id, CAST(floor(sim * 1e4) AS BIGINT) AS sim_e4"
        f"\nFROM ranked WHERE rk <= {k}"
    )


def _hll_portable_sql(table: str, col: str, p: int) -> str:
    m = 1 << p
    w_bits = 32 - p
    mask = (1 << w_bits) - 1
    alpha = table_rules.hll_alpha(m)
    return f"""
WITH h AS (
  SELECT {_md5_low32_sql(f"{col}::VARCHAR")} AS x
  FROM {table} WHERE {col} IS NOT NULL
),
regs AS (
  SELECT (x >> {w_bits}) AS reg,
         max(CASE WHEN (x & {mask}) = 0 THEN {w_bits + 1}
                  ELSE {w_bits + 1} - length(bin(x & {mask})) END) AS mrho
  FROM h GROUP BY 1
),
stats AS (
  SELECT count(*) AS seen, sum(power(2.0, -mrho)) AS s FROM regs
)
SELECT '{col}' AS column_name,
  floor(CASE WHEN ({alpha!r}::DOUBLE * {m} * {m}) / ({m}.0 - seen + s) <= {2.5 * m}
              AND ({m} - seen) > 0
         THEN {m}.0 * ln({m}.0 / ({m} - seen))
         ELSE ({alpha!r}::DOUBLE * {m} * {m}) / ({m}.0 - seen + s) END)::BIGINT
    AS approx_distinct
FROM stats
"""


def _near_dup_lsh_sql(
    dim: int, num_planes: int, num_tables: int, seed: int, threshold: float
) -> str:
    tables = _lsh_tables_cte("e", "v", dim, num_planes, num_tables, seed)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 1000),
b AS (
  {tables}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c USING (t, bucket)
  WHERE a.vec_id < c.vec_id
),
scored AS (
  SELECT cand.id_a, cand.id_b, list_cosine_similarity(ea.v, eb.v) AS sim
  FROM cand
  JOIN e ea ON ea.vec_id = cand.id_a
  JOIN e eb ON eb.vec_id = cand.id_b
)
SELECT id_a, id_b, CAST(floor(sim * 1e4) AS BIGINT) AS sim_e4
FROM scored WHERE sim >= {threshold}
"""


def _shingle_cte(k: int) -> str:
    """CTE producing (doc_id, shingles list) of k-token shingles."""
    return f"""
toks AS (SELECT doc_id, {_DOC_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+{k - 1}], ' ')
                        for i in range(1, len(t) - {k - 2})]) AS shingles
  FROM toks
)
"""


ORACLE_SQL = {
    "validate_documents": """
SELECT doc_id, 'doc_id' AS column_name, v[1] AS schema_path, v[2] AS keyword, v[3] AS description
FROM (SELECT doc_id, CASE
  WHEN doc_id IS NULL THEN ['$.type', 'type', 'Value is not an integer']
  WHEN doc_id < 0 THEN ['$.minimum', 'minimum', 'Value is not a number greater or equal to 0']
  END AS v FROM documents) WHERE v IS NOT NULL
UNION ALL
SELECT doc_id, 'lang', '$', 'enum', 'Value is not one in the enum'
FROM documents WHERE lang IS NULL OR lang NOT IN ('en','es','de','fr')
UNION ALL
SELECT doc_id, 'n_chars' AS column_name, v[1], v[2], v[3]
FROM (SELECT doc_id, CASE
  WHEN n_chars IS NULL THEN ['$.type', 'type', 'Value is not an integer']
  WHEN n_chars > 500 THEN ['$.maximum', 'maximum', 'Number is not lower or equal to 500']
  WHEN n_chars < 50 THEN ['$.minimum', 'minimum', 'Value is not a number greater or equal to 50']
  END AS v FROM documents) WHERE v IS NOT NULL
UNION ALL
SELECT doc_id, 'text' AS column_name, v[1], v[2], v[3]
FROM (SELECT doc_id, CASE
  WHEN text IS NULL THEN ['$.type', 'type', 'Value is not a string']
  WHEN NOT regexp_matches(text, 'the') THEN ['$.pattern', 'pattern', 'String does not match pattern the']
  WHEN length(text) > 540 THEN ['$.max_length', 'max_length', 'String length "Length" is greater than 540']
  WHEN length(text) < 50 THEN ['$.min_length', 'min_length', 'String length "Length" is less than 50']
  END AS v FROM documents) WHERE v IS NOT NULL
""",
    "validate_events": """
SELECT event_id, 'event_type' AS column_name, '$' AS schema_path, 'enum' AS keyword,
       'Value is not one in the enum' AS description
FROM events WHERE event_type IS NULL OR event_type NOT IN ('click','view','purchase','signup')
UNION ALL
SELECT event_id, 'value', v[1], v[2], v[3]
FROM (SELECT event_id, CASE
  WHEN value IS NULL THEN ['$.type', 'type', 'Value is not a float']
  WHEN value > 400 THEN ['$.maximum', 'maximum', 'Number is not lower or equal to 400']
  WHEN value <= 0 THEN ['$.minimum', 'minimum', 'Value is not a number greater than 0']
  END AS v FROM events) WHERE v IS NOT NULL
UNION ALL
SELECT event_id, 'user_id', v[1], v[2], v[3]
FROM (SELECT event_id, CASE
  WHEN user_id IS NULL THEN ['$.type', 'type', 'Value is not an integer']
  WHEN user_id % 7 != 0 THEN ['$.multiple_of', 'multiple_of', 'Value is not multiple of 7']
  WHEN user_id < 0 THEN ['$.minimum', 'minimum', 'Value is not a number greater or equal to 0']
  END AS v FROM events) WHERE v IS NOT NULL
""",
    "validate_lineitem": """
WITH li AS (SELECT l_orderkey * 10 + l_linenumber AS row_key, * FROM lineitem)
SELECT row_key, 'l_quantity' AS column_name, '$.one_of' AS schema_path, 'one_of' AS keyword, v AS description
FROM (SELECT row_key, CASE
  WHEN l_quantity IS NULL OR (NOT l_quantity <= 30 AND NOT l_quantity >= 20)
    THEN 'Value is not matching exactly one condition. None matched.'
  WHEN l_quantity <= 30 AND l_quantity >= 20
    THEN 'Value is not matching exactly one condition. More than one (conditions 0 and 1) matched.'
  END AS v FROM li) WHERE v IS NOT NULL
UNION ALL
SELECT row_key, 'l_extendedprice', '$.all_of', 'all_of', v
FROM (SELECT row_key, CASE
  WHEN l_extendedprice IS NULL
    THEN 'Value is not matching all conditions. Condition 1 failed because of schema path ''$.all_of[1].type'' : Value is not a float'
  WHEN NOT l_extendedprice <= 80000
    THEN 'Value is not matching all conditions. Condition 1 failed because of schema path ''$.all_of[1].maximum'' : Number is not lower or equal to 80000'
  WHEN NOT l_extendedprice >= 1000
    THEN 'Value is not matching all conditions. Condition 0 failed because of schema path ''$.all_of[0].minimum'' : Value is not a number greater or equal to 1000'
  END AS v FROM li) WHERE v IS NOT NULL
UNION ALL
SELECT row_key, 'l_returnflag', '$.not', 'not', NULL
FROM li WHERE l_returnflag = 'R'
""",
    "stats_lineitem": """
SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
       count(*) FILTER (l_quantity IS NULL) AS n_nulls,
       min(l_quantity)::DOUBLE AS min_value, max(l_quantity)::DOUBLE AS max_value
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*), count(*) FILTER (l_extendedprice IS NULL),
       min(l_extendedprice)::DOUBLE, max(l_extendedprice)::DOUBLE FROM lineitem
UNION ALL
SELECT 'l_discount', count(*), count(*) FILTER (l_discount IS NULL),
       min(l_discount)::DOUBLE, max(l_discount)::DOUBLE FROM lineitem
UNION ALL
SELECT 'l_tax', count(*), count(*) FILTER (l_tax IS NULL),
       min(l_tax)::DOUBLE, max(l_tax)::DOUBLE FROM lineitem
""",
    "uniqueness_lineitem": """
SELECT l_orderkey, count(*) AS n_dups FROM lineitem GROUP BY 1 HAVING count(*) > 1
""",
    "ref_integrity_events": """
SELECT event_id, user_id FROM events
WHERE user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
""",
    "drift_lineitem": """
WITH h AS (
  SELECT least(greatest(CAST(floor(l_extendedprice / 6000.0) AS INT), 0), 19) AS bucket,
         count(*) FILTER (l_orderkey % 2 = 0) AS na,
         count(*) FILTER (l_orderkey % 2 != 0) AS nb
  FROM lineitem GROUP BY 1
),
full_h AS (
  SELECT g.bucket, coalesce(h.na, 0) AS na, coalesce(h.nb, 0) AS nb
  FROM (SELECT unnest(range(20))::INT AS bucket) g LEFT JOIN h USING (bucket)
),
tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM full_h)
SELECT 'ks' AS metric,
  floor(1e6 * (
    SELECT max(abs(ca - cb)) FROM (
      SELECT sum(na / t.ta) OVER (ORDER BY bucket) AS ca,
             sum(nb / t.tb) OVER (ORDER BY bucket) AS cb
      FROM full_h, tot t
    )
  ))::DOUBLE AS value_e6
UNION ALL
SELECT 'psi',
  floor(1e6 * (
    SELECT list_reduce(
             list_prepend(0.0::DOUBLE,
               list(term ORDER BY bucket)),
             (a, b) -> a + b)
    FROM (
      SELECT bucket,
             (na / t.ta - nb / t.tb) * ln((na / t.ta + 1e-6) / (nb / t.tb + 1e-6)) AS term
      FROM full_h, tot t
    )
  ))::DOUBLE
""",
    "drift_per_partition_lineitem": """
WITH ref AS (
  SELECT least(greatest(CAST(floor(l_extendedprice / 6000.0) AS INT), 0), 19) AS bucket,
         count(*) AS ref_n
  FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1
),
hist AS (
  SELECT l_orderkey % 8 AS partition_id,
         least(greatest(CAST(floor(l_extendedprice / 6000.0) AS INT), 0), 19) AS bucket,
         count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
grid AS (
  SELECT p.partition_id, b.bucket
  FROM (SELECT DISTINCT partition_id FROM hist) p
  CROSS JOIN (SELECT unnest(range(20))::INT AS bucket) b
),
full_h AS (
  SELECT g.partition_id, g.bucket, coalesce(h.n, 0) AS n, coalesce(r.ref_n, 0) AS ref_n
  FROM grid g
  LEFT JOIN hist h ON h.partition_id = g.partition_id AND h.bucket = g.bucket
  LEFT JOIN ref r ON r.bucket = g.bucket
),
tot AS (SELECT partition_id, sum(n) AS t, sum(ref_n) AS tr FROM full_h GROUP BY 1),
terms AS (
  SELECT f.partition_id, f.bucket, f.n / t.t AS p, f.ref_n / t.tr AS q
  FROM full_h f JOIN tot t USING (partition_id)
),
cdf AS (
  SELECT partition_id, bucket, p, q,
         sum(p) OVER (PARTITION BY partition_id ORDER BY bucket) AS cp,
         sum(q) OVER (PARTITION BY partition_id ORDER BY bucket) AS cq
  FROM terms
),
ks AS (SELECT partition_id, max(abs(cp - cq)) AS ks FROM cdf GROUP BY 1),
psi AS (
  SELECT partition_id,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list((p - q) * ln((p + 1e-6) / (q + 1e-6)) ORDER BY bucket)),
           (a, b) -> a + b) AS psi
  FROM terms GROUP BY 1
)
SELECT k.partition_id,
       floor(1e6 * k.ks)::BIGINT AS ks_e6,
       floor(1e6 * s.psi)::BIGINT AS psi_e6
FROM ks k JOIN psi s USING (partition_id)
""",
    "quantiles_lineitem": """
SELECT column_name, q_pct, value_e4 FROM (
  SELECT 'l_quantity' AS column_name, 25 AS q_pct,
         CAST(floor(quantile_cont(l_quantity, 0.25) * 1e4) AS BIGINT) AS value_e4 FROM lineitem
  UNION ALL SELECT 'l_quantity', 50, CAST(floor(quantile_cont(l_quantity, 0.5) * 1e4) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'l_quantity', 75, CAST(floor(quantile_cont(l_quantity, 0.75) * 1e4) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', 25, CAST(floor(quantile_cont(l_extendedprice, 0.25) * 1e4) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', 50, CAST(floor(quantile_cont(l_extendedprice, 0.5) * 1e4) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', 75, CAST(floor(quantile_cont(l_extendedprice, 0.75) * 1e4) AS BIGINT) FROM lineitem
)
""",
    "dedup_apply_documents": """
SELECT doc_id, lang FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
""",
    "dedup_exact_documents": """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
""",
    "ngram_jaccard_documents": f"""
WITH {_shingle_cte(5)},
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
keep AS (SELECT shingle FROM ex GROUP BY 1 HAVING count(*) <= 100),
exf AS (SELECT ex.* FROM ex JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM exf GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM exf a JOIN exf b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter AS jaccard_num,
       sa.n_sh + sb.n_sh - inter AS jaccard_den
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter >= 0.1 * (sa.n_sh + sb.n_sh - inter)
""",
    "minhash_lsh_documents": _minhash_lsh_sql(
        k=5, num_hashes=32, bands=16, seed=42, threshold=0.1
    ),
    "near_dup_groups_documents": _near_dup_groups_sql(
        k=5, num_hashes=32, bands=16, seed=42, threshold=0.1
    ),
    "simhash_documents": _simhash_sql(bits=16),
    "ann_lsh_embeddings": _ann_lsh_sql(
        dim=64, k=3, num_planes=6, num_tables=4, seed=42
    ),
    "ann_ivf_embeddings": _ann_ivf_sql(k=3, n_lists=16, n_probe=4),
    "ann_ivf_trained_embeddings": _ann_ivf_trained_sql(
        k=3, n_lists=8, n_probe=3, dim=64, n_iter=2
    ),
    "hll_distinct_events": _hll_portable_sql("events", "user_id", p=10),
    "embedding_near_dup_lsh": _near_dup_lsh_sql(
        dim=64, num_planes=6, num_tables=8, seed=7, threshold=0.5
    ),
    "ann_topk_embeddings": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, e.v) AS sim
  FROM q, e WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(floor(sim * 1e4) AS BIGINT) AS sim_e4
FROM ranked WHERE rk <= 3
""",
    "text_quality_documents": f"""
WITH t AS (SELECT doc_id, text, {_DOC_TOKS} AS toks FROM documents)
SELECT doc_id,
  length(text) AS char_count,
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_distinct_tokens,
  len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS n_stopwords,
  length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
  list_max(list_transform(toks, x -> length(x))) AS max_token_len
FROM t
""",
    "lang_id_documents": f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id,
    len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS s_en,
    len(list_filter(toks, x -> list_contains(['el','la','de','que','es'], x))) AS s_es,
    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
    len(list_filter(toks, x -> list_contains(['le','la','les','et','est'], x))) AS s_fr
  FROM t
)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
       WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
       WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
       WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_pred,
  greatest(s_en, s_es, s_de, s_fr) AS lang_score
FROM s
""",
    "validate_formats": """
-- which rows violate is determined by the deterministic event_id residues;
-- the violation tuples themselves are constants
SELECT event_id, 'ts_str' AS column_name, '$.format' AS schema_path,
       'format' AS keyword, 'String is not a valid ISO8601 date' AS description
FROM events WHERE event_id % 3 = 0
UNION ALL
SELECT event_id, 'b64', '$.format', 'format', 'String length is not a multiple of 4'
FROM events WHERE event_id % 5 = 0
""",
    "stateful_verdicts_events": """
-- replays the per-key cumulative state of the stateful operator: batch
-- b = event_id % 3, processed in order 0,1,2; one snapshot row per
-- (key, batch the key appeared in). failing_streak = consecutive failing
-- batches ending at b (gaps-and-islands via last clean row_number).
WITH pr AS (
  SELECT event_type AS k, event_id % 3 AS b,
    (CASE WHEN event_type IS NULL
           OR event_type NOT IN ('click','view','purchase','signup')
          THEN 1 ELSE 0 END)
  + (CASE WHEN value IS NULL OR value <= 0 OR value > 400 THEN 1 ELSE 0 END)
  + (CASE WHEN user_id IS NULL OR user_id % 7 != 0 OR user_id < 0
          THEN 1 ELSE 0 END) AS nv
  FROM events
),
per_batch AS (
  SELECT k, b, count(*) AS rows_b, sum(nv) AS viols_b FROM pr GROUP BY 1, 2
),
seq AS (
  SELECT k, b, rows_b, viols_b,
         row_number() OVER (PARTITION BY k ORDER BY b) AS rn
  FROM per_batch
),
snap AS (
  SELECT k, rn,
    sum(rows_b) OVER (PARTITION BY k ORDER BY b) AS n_rows,
    sum(viols_b) OVER (PARTITION BY k ORDER BY b) AS n_violations,
    sum(CASE WHEN viols_b > 0 THEN 1 ELSE 0 END)
      OVER (PARTITION BY k ORDER BY b) AS failing_batches,
    max(CASE WHEN viols_b = 0 THEN rn END)
      OVER (PARTITION BY k ORDER BY b) AS last_clean_rn
  FROM seq
)
SELECT k, n_rows::BIGINT AS n_rows, n_violations::BIGINT AS n_violations,
       failing_batches::BIGINT AS failing_batches,
       (rn - coalesce(last_clean_rn, 0))::BIGINT AS failing_streak
FROM snap
""",
    "validate_images_meta": f"""
-- the synthetic images table seeds one violation class per row_id % 100
-- (fixtures.make_row); the oracle regenerates the metadata-visible classes
-- from the residues and the invertible id scheme img_%016x
WITH cls AS (
  SELECT i, i % 100 AS v, printf('img_%016x', i) AS iid
  FROM (SELECT unnest(range({_IMAGES_META_N})) AS i)
)
SELECT CASE WHEN v = 9 THEN NULL ELSE iid END AS image_id,
       c[1] AS column_name, c[2] AS schema_path, c[3] AS keyword,
       c[4] AS description
FROM (
  SELECT v, iid, CASE
    WHEN v = 9 THEN ['image_id', '$.type', 'type', 'Value is not a string']
    WHEN v = 6 THEN ['fmt', '$', 'enum', 'Value is not one in the enum']
    WHEN v = 7 THEN ['w', '$.minimum', 'minimum',
                     'Value is not a number greater or equal to 1']
    WHEN v = 5 THEN ['caption', '$.type', 'type', 'Value is not a string']
    WHEN v = 4 THEN ['caption', '$.max_length', 'max_length',
                     'String length "Length" is greater than 256']
    WHEN v = 3 THEN ['caption', '$.min_length', 'min_length',
                     'String length "Length" is less than 1']
    END AS c
  FROM cls
) WHERE c IS NOT NULL
UNION ALL
-- row_id % 100 = 8 (row_id >= 12) duplicates the clean row at row_id-12
SELECT printf('img_%016x', i - 12), 'image_id', '$.unique', 'unique',
       'Key appears 2 times'
FROM cls WHERE v = 8 AND i >= 12
""",
    "validate_tuple_anyof": """
SELECT event_id, 'tup' AS column_name, v[1] AS schema_path, v[2] AS keyword,
       v[3] AS description
FROM (SELECT event_id, CASE
  WHEN event_type NOT IN ('click', 'view')
    THEN ['$.items[0]', 'items', 'Item 0 in $ is invalid. Value is not one in the enum']
  WHEN event_id % 13 = 0
    THEN ['$.items', 'items', 'Item 2 in $ is invalid. Unexpected value for false schema']
  END AS v FROM events) WHERE v IS NOT NULL
UNION ALL
SELECT event_id, 'value', '$.any_of', 'any_of',
       'Value is not matching at least one condition. None matched.'
FROM events WHERE value > 10 AND value < 350
""",
    "validate_map_object": """
SELECT event_id, 'm' AS column_name, v[1] AS schema_path, v[2] AS keyword,
       v[3] AS description
FROM (SELECT event_id, CASE
  WHEN event_id % 13 = 0
    THEN ['$.additional_properties', 'additional_properties',
          'Object has unsupported keys: "xx"']
  WHEN event_id % 9 = 0
    THEN ['$.pattern_properties.^k[0-9]$.minimum', 'pattern_properties',
          'Property "k1" failed validation: Value is not a number greater or equal to 10']
  END AS v FROM events) WHERE v IS NOT NULL
""",
    "streaming_verdicts": """
WITH per_row AS (
  SELECT date_trunc('hour', ts) AS win,
    (CASE WHEN event_type IS NULL
           OR event_type NOT IN ('click','view','purchase','signup')
          THEN 1 ELSE 0 END)
  + (CASE WHEN value IS NULL OR value <= 0 OR value > 400 THEN 1 ELSE 0 END)
  + (CASE WHEN user_id IS NULL OR user_id % 7 != 0 OR user_id < 0
          THEN 1 ELSE 0 END) AS nv
  FROM events
)
SELECT strftime(win, '%Y-%m-%d %H:%M:%S') AS win_start,
       count(*)::BIGINT AS n_rows,
       sum(nv)::BIGINT AS n_violations,
       (sum(nv) = 0) AS pass
FROM per_row GROUP BY 1
""",
    "validate_arrays": f"""
WITH t AS (SELECT doc_id, ({_DOC_TOKS})[1:12] AS toks FROM documents)
SELECT doc_id, 'toks' AS column_name, v[1] AS schema_path, v[2] AS keyword,
       v[3] AS description
FROM (SELECT doc_id, CASE
  WHEN toks IS NULL THEN ['$.type', 'type', 'Value is not an array']
  WHEN len(list_distinct(toks)) != len(toks)
    THEN ['$.unique_items', 'unique_items', 'Array has non unique items']
  WHEN len(toks) < 12
    THEN ['$.min_items', 'min_items', 'Array does not have at least 12 items']
  WHEN len(list_filter(toks, x -> length(x) > 9)) > 0
    THEN ['$.items[*].max_length', 'items',
          'Item ' ||
          ([i for i in range(1, len(toks) + 1) if length(toks[i]) > 9][1] - 1)::VARCHAR ||
          ' in $ is invalid. String length "Length" is greater than 9']
  END AS v FROM t) WHERE v IS NOT NULL
""",
    "validate_row_object": """
-- derived row: user_id nulled on event_id%7=0, value nulled on %11=0;
-- priority (reverse declaration order): min_properties > required > properties
SELECT event_id, '$row' AS column_name, v[1] AS schema_path, v[2] AS keyword,
       v[3] AS description
FROM (SELECT event_id, CASE
  WHEN event_id % 7 = 0 AND event_id % 11 = 0
    THEN ['$.min_properties', 'min_properties',
          'Object has less properties than required minimum (3)']
  WHEN event_id % 7 = 0
    THEN ['$.required', 'required', '$ is missing required property <<"user_id">>']
  WHEN event_id % 11 != 0 AND value > 300
    THEN ['$.properties.value.maximum', 'maximum',
          'Number is not lower or equal to 300']
  END AS v FROM events) WHERE v IS NOT NULL
""",
    "validate_json_props": """
SELECT event_id, 'props' AS column_name, v[1] AS schema_path, v[2] AS keyword, v[3] AS description
FROM (SELECT event_id, CASE
  WHEN props IS NULL OR json_extract(props, '$.k') IS NULL
    THEN ['$.required', 'required', '$ is missing required property <<"k">>']
  WHEN json_extract(props, '$.k')::BIGINT > 89
    THEN ['$.properties.k.maximum', 'maximum', 'Number is not lower or equal to 89']
  WHEN json_extract(props, '$.k')::BIGINT < 10
    THEN ['$.properties.k.minimum', 'minimum', 'Value is not a number greater or equal to 10']
  END AS v FROM events) WHERE v IS NOT NULL
""",
    "validate_json_mixed": """
-- tag is an integer (user_id % 20) on even event_ids, a string
-- (event_type) otherwise; the integer branch needs >= 5, the string branch
-- length >= 5 ('view' is the only too-short event_type)
SELECT event_id, 'props' AS column_name,
       '$.properties.tag.any_of' AS schema_path, 'any_of' AS keyword,
       'Value is not matching at least one condition. None matched.' AS description
FROM events
WHERE (event_id % 2 = 0 AND user_id % 20 < 5)
   OR (event_id % 2 != 0 AND event_type = 'view')
""",
    "embedding_near_dup": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 1000)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(floor(list_cosine_similarity(a.v, b.v) * 1e4) AS BIGINT) AS sim_e4
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.5
""",
    "token_counts_documents": """
SELECT doc_id,
  len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS n_ws_tokens,
  len(list_filter(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+|\\s+'),
                  x -> NOT regexp_matches(x, '^\\s+$'))) AS n_bpe_ish_tokens
FROM documents
""",
    # HTML strip: same RE2 regex chain; entity pass uses plain replace()
    # (Spark side regexp_replaces literal entities — same total rewrite)
    "strip_html_documents": f"""
WITH h AS (
  SELECT doc_id,
    printf('<html><head><script>var x=%d<2;</script><style>p{{}}</style>'
           || '</head><body><h1>T&amp;C</h1><p>%s</p><br/>&nbsp;'
           || '&lt;end&gt;</body></html>', doc_id, text) AS html
  FROM documents
),
s AS (
  SELECT doc_id, trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      regexp_replace(
        regexp_replace(html,
          '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'g'),
        '(?s)<[^>]+>', ' ', 'g'),
      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      '&#39;', chr(39)), '&amp;', '&'),
    '\\s+', ' ', 'g')) AS clean
  FROM h
)
SELECT doc_id, {_md5_low32_sql('clean')} AS clean_h,
       length(clean)::BIGINT AS clean_len
FROM s
""",
    # sliding-window chunker: n_chunks = 1 + ceil(max(0, n-12)/8); DuckDB
    # tokenizes and slices independently, md5-low32 compares chunk text
    "chunk_documents": f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
c AS (
  SELECT doc_id, toks, n,
         unnest(range(1 + (greatest(n - 12, 0) + 7) // 8)) AS j
  FROM n
)
SELECT doc_id, CAST(j AS BIGINT) AS chunk_id, CAST(j * 8 AS BIGINT) AS begin,
  CAST(least(j * 8 + 12, n) - j * 8 AS BIGINT) AS n_chunk_tokens,
  {_md5_low32_sql(
      "array_to_string(list_slice(toks, j * 8 + 1, least(j * 8 + 12, n)), ' ')"
  )} AS chunk_h
FROM c
""",
    # independent NFC: DuckDB's utf8proc vs Spark-side CPython unicodedata
    "normalize_documents": f"""
SELECT doc_id,
  {_md5_low32_sql('norm')} AS norm_h,
  length(norm)::BIGINT AS norm_len
FROM (
  SELECT doc_id,
    trim(regexp_replace(
      nfc_normalize({_NORM_PREFIX_SQL} || ' ' || text || ' ' || {_NORM_SUFFIX_SQL}),
      '\\s+', ' ', 'g')) AS norm
  FROM documents
)
""",
    "fingerprint_documents": f"""
WITH {_shingle_cte(8)}
SELECT doc_id,
  list_min(list_transform(shingles, s -> md5(s))) AS fingerprint,
  len(shingles) AS n_shingles
FROM sh
""",
    # concat-then-chunk sequence packing: cumulative window sums give each
    # doc's [s, e) token span within its stream; the doc overlaps chunks
    # s // 512 .. (e-1) // 512 (DuckDB SUM(BIGINT) is HUGEINT — cast back)
    "pack_chunks_documents": """
WITH toks AS (
  SELECT CAST(doc_id % 8 AS BIGINT) AS stream, doc_id,
    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
         AS BIGINT) AS tok
  FROM documents
), spans AS (
  SELECT stream, doc_id, tok,
    CAST(SUM(tok) OVER (PARTITION BY stream ORDER BY doc_id) AS BIGINT) AS e
  FROM toks WHERE tok > 0
), sp AS (
  SELECT stream, doc_id, e - tok AS s, e FROM spans
), ch AS (
  SELECT stream, doc_id, s, e,
    UNNEST(generate_series(s // 512, (e - 1) // 512)) AS chunk_id
  FROM sp
)
SELECT stream, doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(GREATEST(s - chunk_id * 512, 0) AS BIGINT) AS "begin",
  CAST(LEAST(e - chunk_id * 512, 512) AS BIGINT) AS "end",
  CAST(LEAST(e - chunk_id * 512, 512) - GREATEST(s - chunk_id * 512, 0)
       AS BIGINT) AS n_tokens
FROM ch
""",
    # deterministic stratified sampling: the keep decision is the portable
    # md5-low32 hash of (key ':' seed) mod 10^6 against per-stratum
    # thresholds — bit-identical across engines
    "sample_documents": """
WITH b AS (
  SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS stratum,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))::BIGINT
         % 1000000 AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, stratum, bucket FROM b
WHERE bucket < CASE stratum
  WHEN 0 THEN 1000000 WHEN 1 THEN 500000 WHEN 2 THEN 250000 ELSE 0 END
""",
    # exact per-stratum top-fraction: rank by (score DESC, md5 tiebreak),
    # keep rank <= ceil(0.4 * stratum size)
    "top_fraction_documents": """
WITH r AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
    ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR))
    ) AS rn,
    COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang, n_chars FROM r
WHERE rn <= CAST(CEIL(0.4::DOUBLE * n) AS BIGINT)
""",
}

# the summary oracle aggregates the validate_documents oracle itself — one
# source of truth for the per-row violation logic
ORACLE_SQL["violation_summary_documents"] = f"""
WITH v AS ({ORACLE_SQL["validate_documents"]})
SELECT column_name, schema_path, keyword,
  CAST(COUNT(*) AS BIGINT) AS n_violations,
  MIN(description) AS description,
  array_to_string(list_slice(list_sort(list(doc_id)), 1, 3), ',') AS example_keys
FROM v GROUP BY column_name, schema_path, keyword
"""

# approximate-path invariants: the oracle recomputes the DETERMINISTIC half
# (exact counts per stratum / the (column, q, n) frame) and asserts the
# invariant booleans TRUE — a Spark-side sketch wobble beyond the stated
# tolerance breaks the value hash
ORACLE_SQL["top_fraction_approx_invariants"] = """
WITH r AS (
  SELECT doc_id, lang, n_chars,
    ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR))
    ) AS rn,
    COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
), e AS (
  SELECT lang, n_chars FROM r
  WHERE rn <= CAST(CEIL(0.4::DOUBLE * n) AS BIGINT)
), thr AS (
  SELECT lang, MIN(n_chars) AS thr, COUNT(*)::BIGINT AS n_exact
  FROM e GROUP BY lang
), ab AS (
  SELECT d.lang, COUNT(*)::BIGINT AS n_above
  FROM documents d JOIN thr t ON d.lang = t.lang AND d.n_chars > t.thr
  GROUP BY d.lang
)
SELECT t.lang AS stratum, t.n_exact,
       COALESCE(ab.n_above, 0)::BIGINT AS n_above,
       TRUE AS ok_superset, TRUE AS ok_bounded
FROM thr t LEFT JOIN ab ON t.lang = ab.lang
"""

ORACLE_SQL["quantiles_approx_invariants"] = """
SELECT c AS column_name, CAST(q AS BIGINT) AS q_e2, n.n::BIGINT AS n,
       TRUE AS ok_rank
FROM (SELECT count(*) AS n FROM lineitem) n,
     (VALUES ('l_quantity'), ('l_extendedprice')) AS t(c),
     (VALUES (25), (50), (90)) AS s(q)
"""

# the stateless streaming validator emits exactly the batch violations —
# one oracle, two execution modes
ORACLE_SQL["validate_stream_events"] = ORACLE_SQL["validate_events"]

# Gopher-style repetition: the same non-distinct bigram multiset rebuilt
# with a 1-based list comprehension; float ratios quantized e6 (exact-int
# IEEE division on both engines)
ORACLE_SQL["repetition_documents"] = f"""
WITH toks AS (SELECT doc_id, {_DOC_TOKS} AS t FROM documents),
g AS (
  SELECT doc_id,
    unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS g
  FROM toks WHERE len(t) >= 2
),
per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
a AS (
  SELECT doc_id, SUM(c) AS n_grams, COUNT(*) AS nd, MAX(c) AS tc
  FROM per GROUP BY 1
)
SELECT doc_id, n_grams::BIGINT AS n_grams, nd::BIGINT AS n_distinct_grams,
  CAST(floor((1.0::DOUBLE - nd::DOUBLE / n_grams) * 1e6) AS BIGINT)
    AS dup_gram_frac_e6,
  tc::BIGINT AS top_gram_count,
  CAST(floor(tc::DOUBLE / n_grams * 1e6) AS BIGINT) AS top_gram_share_e6
FROM a
"""

# grouped HLL: the global-oracle register math, partitioned per group
_HLL_P = 10
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 32 - _HLL_P
_HLL_MASK = (1 << _HLL_WBITS) - 1
ORACLE_SQL["hll_groups_events"] = f"""
WITH h AS (
  SELECT event_type AS grp, {_md5_low32_sql("user_id::VARCHAR")} AS x
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
regs AS (
  SELECT grp, (x >> {_HLL_WBITS}) AS reg,
         max(CASE WHEN (x & {_HLL_MASK}) = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(x & {_HLL_MASK})) END)
           AS mrho
  FROM h GROUP BY 1, 2
),
stats AS (
  SELECT grp, count(*) AS seen, sum(power(2.0, -mrho)) AS s
  FROM regs GROUP BY 1
)
SELECT grp AS event_type,
  floor(CASE WHEN ({table_rules.hll_alpha(_HLL_M)!r}::DOUBLE * {_HLL_M} * {_HLL_M})
                   / ({_HLL_M}.0 - seen + s) <= {2.5 * _HLL_M}
              AND ({_HLL_M} - seen) > 0
         THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - seen))
         ELSE ({table_rules.hll_alpha(_HLL_M)!r}::DOUBLE * {_HLL_M} * {_HLL_M})
              / ({_HLL_M}.0 - seen + s) END)::BIGINT AS approx_distinct
FROM stats
"""

# phash near-dup: the oracle replays the derived 60-bit phash, the 4-band
# split, the band-key equi-join, and the exact popcount verify
ORACLE_SQL["phash_near_dup_events"] = """
WITH p AS (
  SELECT event_id,
    CASE WHEN event_id % 50 = 0
      THEN xor(('0x' || substr(md5(CAST(event_id - 1 AS VARCHAR)), 1, 15))::BIGINT, 8)
      ELSE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
    END AS ph
  FROM events
),
banded AS (
  SELECT event_id, ph, b, (ph >> (b * 15)) & 32767 AS key
  FROM p, (VALUES (0), (1), (2), (3)) AS t(b)
),
cand AS (
  SELECT DISTINCT a.event_id AS id_a, b.event_id AS id_b,
         a.ph AS pa, b.ph AS pb
  FROM banded a
  JOIN banded b ON a.b = b.b AND a.key = b.key AND a.event_id < b.event_id
)
SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= 2
"""

# band-bucket occupancy histogram: same derived phash population + banding,
# integer floor-log2 occupancy classes (length(bin(df))-1 — exact on both
# engines, no float log2), candidate volume = sum df*(df-1)/2 per class
ORACLE_SQL["phash_band_stats_events"] = """
WITH p AS (
  SELECT event_id,
    CASE WHEN event_id % 50 = 0
      THEN xor(('0x' || substr(md5(CAST(event_id - 1 AS VARCHAR)), 1, 15))::BIGINT, 8)
      ELSE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
    END AS ph
  FROM events
),
banded AS (
  SELECT ph, b, (ph >> (b * 15)) & 32767 AS key
  FROM p, (VALUES (0), (1), (2), (3)) AS t(b)
),
occ AS (
  SELECT b AS band, key, COUNT(*) AS df_ FROM banded GROUP BY 1, 2
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(1 << (length(bin(df_)) - 1) AS BIGINT) AS df_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(df_) AS BIGINT) AS n_rows,
       CAST(SUM(df_ * (df_ - 1) // 2) AS BIGINT) AS n_cand_pairs
FROM occ GROUP BY 1, 2
"""

# aspect bucketing: replay the integer ladder argmin (dist_i =
# |w*rh_i - h*rw_i| * (144/rh_i), chained-CASE first-match tie-break),
# the md5-low32 shard, and the per-(bucket, shard) window packing
ORACLE_SQL["aspect_batches_events"] = """
WITH base AS (
  SELECT event_id, 1 + event_id % 37 AS w, 1 + event_id % 23 AS h FROM events
),
d AS (
  SELECT event_id,
    abs(w * 2 - h * 1) * 72 AS d0,
    abs(w * 16 - h * 9) * 9 AS d1,
    abs(w * 4 - h * 3) * 36 AS d2,
    abs(w * 1 - h * 1) * 144 AS d3,
    abs(w * 3 - h * 4) * 48 AS d4,
    abs(w * 9 - h * 16) * 16 AS d5,
    abs(w * 1 - h * 2) * 144 AS d6
  FROM base
),
b AS (
  SELECT event_id,
    CASE WHEN d0 = m THEN 0 WHEN d1 = m THEN 1 WHEN d2 = m THEN 2
         WHEN d3 = m THEN 3 WHEN d4 = m THEN 4 WHEN d5 = m THEN 5
         ELSE 6 END AS bucket,
    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard
  FROM (SELECT *, least(d0, d1, d2, d3, d4, d5, d6) AS m FROM d)
),
rn AS (
  SELECT event_id, bucket, shard,
    row_number() OVER (PARTITION BY bucket, shard ORDER BY event_id) - 1 AS rn0
  FROM b
)
SELECT event_id, CAST(bucket AS BIGINT) AS bucket,
  CAST([1, 9, 3, 1, 4, 16, 2][bucket + 1] AS BIGINT) AS ratio_w,
  CAST([2, 16, 4, 1, 3, 9, 1][bucket + 1] AS BIGINT) AS ratio_h,
  shard,
  CAST(rn0 // 16 AS BIGINT) AS batch_id,
  CAST(rn0 % 16 AS BIGINT) AS slot,
  CAST(COUNT(*) OVER (PARTITION BY bucket, shard, rn0 // 16) AS BIGINT)
    AS batch_rows
FROM rn
"""

# phash over REAL decoded images: the cell-mask fixture makes the decoded
# phash a pure integer expression of the row id (fixtures.phash_image_mask —
# bit 15 on, bit 0 off, role 0/1/2 = base / 1-bit flip / 2-bit flip), so the
# oracle regenerates the population and replays the 4x4-bit banding
_PHASH_IMG_CTES = f"""cls AS (
  SELECT printf('pi_%08d', i) AS iid,
    xor(xor(32768 + 2 * (((i // 3) * 2654435761) % 16384),
            CASE WHEN i % 3 >= 1 THEN 1 << (1 + (i // 3) % 14) ELSE 0 END),
        CASE WHEN i % 3 = 2 THEN 1 << (1 + ((i // 3) + 5) % 14) ELSE 0 END
    ) AS ph
  FROM (SELECT unnest(range({_PHASH_IMG_N})) AS i)
  WHERE i % {_FX.FEATURE_CORRUPT_EVERY} != {_FX.FEATURE_CORRUPT_EVERY - 1}
),
banded AS (
  SELECT iid, ph, b, (ph >> (b * 4)) & 15 AS key
  FROM cls, (VALUES (0), (1), (2), (3)) AS t(b)
),
cand AS (
  SELECT DISTINCT a.iid AS id_a, b.iid AS id_b, a.ph AS pa, b.ph AS pb
  FROM banded a
  JOIN banded b ON a.b = b.b AND a.key = b.key AND a.iid < b.iid
),
ph_pairs AS (
  SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
  FROM cand WHERE bit_count(xor(pa, pb)) <= 2
)"""

ORACLE_SQL["phash_near_dup_images"] = f"""
WITH {_PHASH_IMG_CTES}
SELECT id_a, id_b, hamming FROM ph_pairs
"""

# the chained image-dedup workflow: transitive closure (min reachable id)
# over the same closed-form pair set; singleton images keep themselves
ORACLE_SQL["image_dedup_groups"] = f"""
WITH RECURSIVE {_PHASH_IMG_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM ph_pairs
  UNION
  SELECT id_b, id_a FROM ph_pairs
),
reach(src, dst) AS (
  SELECT iid, iid FROM cls
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS image_id, min(dst) AS keeper_id FROM reach GROUP BY 1
"""

# int8 quantization: every step a single IEEE op (x*127/am, +0.5, floor),
# max is order-independent — DuckDB replays with its list functions
ORACLE_SQL["quantize_embeddings"] = f"""
WITH e AS (
  SELECT vec_id,
    CASE WHEN vec_id % 101 = 0
         THEN list_transform(embedding, x -> 0.0::DOUBLE)
         ELSE list_transform(embedding, x -> x::DOUBLE) END AS v
  FROM embeddings
),
a AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS am0 FROM e
),
b AS (SELECT vec_id, v, CASE WHEN am0 > 0 THEN am0 END AS am FROM a),
c AS (
  SELECT vec_id, v, am,
    CASE WHEN am IS NOT NULL THEN list_transform(
      v, x -> floor(x * 127.0::DOUBLE / am + 0.5::DOUBLE)::INT)
    END AS codes
  FROM b
)
SELECT vec_id, len(v)::BIGINT AS dim,
  floor(am * 1000000000.0::DOUBLE)::BIGINT AS absmax_e9,
  CASE WHEN codes IS NOT NULL
       THEN {_md5_low32_sql("array_to_string(codes, ',')")} END AS codes_h,
  floor(list_max(list_transform(generate_series(1, len(v)),
          i -> abs(v[i] * 127.0::DOUBLE / am - codes[i])))
        * 1000000.0::DOUBLE)::BIGINT AS max_err_ratio_e6
FROM c
"""

# quantized top-k: integer dot exact in float64, scales multiplied in the
# same fixed order as the Spark side; DuckDB's own window does the ranking
ORACLE_SQL["quantized_topk_embeddings"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
a AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS am0 FROM e
),
b AS (SELECT vec_id, v, CASE WHEN am0 > 0 THEN am0 END AS am FROM a),
qz AS (
  SELECT vec_id,
    list_transform(v, x -> floor(x * 127.0::DOUBLE / am + 0.5::DOUBLE)::INT)
      AS codes,
    floor(am * 1000000000.0::DOUBLE)::BIGINT AS e9
  FROM b WHERE am IS NOT NULL
),
qq AS (SELECT vec_id AS query_id, codes AS qc, e9 AS qs
       FROM qz WHERE vec_id < 5),
scored AS (
  SELECT qq.query_id, z.vec_id AS neighbor_id,
    (list_dot_product(qq.qc::DOUBLE[], z.codes::DOUBLE[])
       * (qq.qs::DOUBLE * 1e-9 / 127.0::DOUBLE))
      * (z.e9::DOUBLE * 1e-9 / 127.0::DOUBLE) AS score
  FROM qq, qz z WHERE z.vec_id != qq.query_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
  FROM scored
)
SELECT query_id, neighbor_id,
       floor(score * 1000000.0::DOUBLE)::BIGINT AS score_e6
FROM r WHERE rk <= 3
"""

# weighted sample: md5 bucket replay; the clamp/floor arithmetic is single
# IEEE ops so the integer threshold is engine-exact
ORACLE_SQL["weighted_sample_documents"] = f"""
WITH b AS (
  SELECT doc_id,
    {_md5_low32_sql("doc_id::VARCHAR || ':7'")} % 1000000 AS bucket,
    floor(least(greatest((doc_id % 14)::DOUBLE / 10.0::DOUBLE,
                         0.0::DOUBLE), 1.0::DOUBLE)
          * 1000000.0::DOUBLE)::BIGINT AS thr
  FROM documents
)
SELECT doc_id, bucket, thr, bucket < thr AS keep FROM b
"""

# budgeted curation: DuckDB's own running-sum / row_number windows
ORACLE_SQL["budget_documents"] = f"""
WITH b AS (
  SELECT doc_id, source AS grp, n_chars::BIGINT AS score,
    len({_DOC_TOKS})::BIGINT AS cost
  FROM documents
),
w AS (
  SELECT doc_id, grp, score, cost,
    (sum(cost) OVER (PARTITION BY grp ORDER BY score DESC, doc_id
                     ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_cost,
    row_number() OVER (PARTITION BY grp ORDER BY score DESC, doc_id) AS rn
  FROM b
)
SELECT doc_id, grp, score, cost, cum_cost,
       (cum_cost <= 2000 OR rn = 1) AS selected
FROM w
"""

# domain filter: same RE2 regexes, DuckDB's own join for the membership
ORACLE_SQL["domain_filter_events"] = """
WITH u AS (
  SELECT event_id,
    printf('https://user:pw@cdn%d.Shard-%d.example%d.com:8443/p/%d?q=1#f',
           event_id % 3, event_id % 4, event_id % 13, event_id) AS url
  FROM events
),
d AS (
  SELECT event_id,
    lower(regexp_extract(url,
      '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host
  FROM u
),
b AS (SELECT DISTINCT lower(x) AS domain
      FROM unnest(['example3.com', 'EXAMPLE7.com', 'other.org']) AS t(x))
SELECT event_id, host,
  regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
  b.domain IS NOT NULL AS blocked
FROM d LEFT JOIN b ON regexp_extract(host, '([^.]+\\.[^.]+)$', 1) = b.domain
"""

# join skew: DuckDB's own count aggregates + full outer join
ORACLE_SQL["join_skew_events"] = """
WITH lc AS (SELECT user_id, count(*)::BIGINT AS n_left FROM events GROUP BY 1),
rc AS (SELECT user_id, count(*)::BIGINT AS n_right FROM events
       WHERE event_type = 'click' GROUP BY 1)
SELECT COALESCE(lc.user_id, rc.user_id) AS user_id,
  COALESCE(n_left, 0) AS n_left, COALESCE(n_right, 0) AS n_right,
  (COALESCE(n_left, 0) * COALESCE(n_right, 0))::BIGINT AS fanout
FROM lc FULL OUTER JOIN rc ON lc.user_id = rc.user_id
WHERE COALESCE(n_left, 0) * COALESCE(n_right, 0) >= 900
"""

# collocation lift: logarithm-free exp(PMI); the division chain is written
# in the SAME left-associative order as the Spark expression
ORACLE_SQL["collocations_documents"] = f"""
WITH toks AS (SELECT unnest({_DOC_TOKS}) AS token FROM documents),
uni AS (SELECT token, count(*)::BIGINT AS tf FROM toks GROUP BY 1),
t AS (SELECT {_DOC_TOKS} AS toks FROM documents),
p0 AS (
  SELECT toks[j] AS "left", toks[j + 1] AS "right"
  FROM (SELECT toks, unnest(range(1, len(toks))) AS j
        FROM t WHERE len(toks) >= 2)
),
pairs AS (
  SELECT "left", "right", count(*)::BIGINT AS pair_tf
  FROM p0 GROUP BY 1, 2 HAVING count(*) >= 3
),
tot AS (
  SELECT (SELECT sum(tf) FROM uni)::BIGINT AS tot_toks,
         (SELECT sum(pair_tf) FROM pairs)::BIGINT AS tot_pairs_kept
)
SELECT p."left", p."right", p.pair_tf, l.tf AS tf_l, r.tf AS tf_r,
  floor((p.pair_tf * 1000000.0::DOUBLE / tot_pairs_kept)
        * tot_toks / l.tf * tot_toks / r.tf)::BIGINT AS lift_e6
FROM pairs p
JOIN uni l ON p."left" = l.token
JOIN uni r ON p."right" = r.token, tot
"""

# token entropy: same left-fold over c·ln(c) terms in token order (the
# prepended 0.0 mirrors Spark's aggregate() init; every input an exact
# integer → bit-identical doubles); ttr via exact integer floor division
ORACLE_SQL["entropy_documents"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (SELECT doc_id, tok, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
l AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         list(c ORDER BY tok) AS cs
  FROM c GROUP BY 1
),
s AS (
  SELECT doc_id, n_tokens, n_types,
    list_reduce(
      list_prepend(0.0::DOUBLE,
        list_transform(cs, x -> x::DOUBLE * ln(x::DOUBLE))),
      (a, b) -> a + b) AS ssum
  FROM l
)
SELECT doc_id, n_tokens, n_types,
  floor((ln(n_tokens::DOUBLE) - ssum / n_tokens::DOUBLE)
        * 10000)::BIGINT AS entropy_e4,
  (n_types * 1000000 // n_tokens)::BIGINT AS ttr_e6
FROM s
"""

# lang agreement: the lang_id CTE rolled up into a confusion matrix
ORACLE_SQL["lang_agreement_documents"] = f"""
WITH t AS (SELECT doc_id, lang, {_DOC_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS s_en,
    len(list_filter(toks, x -> list_contains(['el','la','de','que','es'], x))) AS s_es,
    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
    len(list_filter(toks, x -> list_contains(['le','la','les','et','est'], x))) AS s_fr
  FROM t
),
p AS (
  SELECT lang,
    CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
         WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
         WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
         WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
         ELSE 'fr' END AS lang_pred
  FROM s
)
SELECT lang, lang_pred, count(*)::BIGINT AS n_docs,
       lang = lang_pred AS agree
FROM p GROUP BY 1, 2
"""

# dataset card: DuckDB re-aggregates and re-windows; integer/integer `/`
# is DOUBLE in both engines, multiplied in the same order
ORACLE_SQL["corpus_report_documents"] = f"""
WITH g AS (
  SELECT source, lang, count(*)::BIGINT AS n_docs,
    sum(len(toks))::BIGINT AS n_tokens,
    sum(length(text))::BIGINT AS n_chars,
    max(len(toks))::BIGINT AS max_tokens
  FROM (SELECT source, lang, text, {_DOC_TOKS} AS toks FROM documents)
  GROUP BY 1, 2
)
SELECT source, lang, n_docs, n_tokens, n_chars,
  floor(n_tokens / n_docs * 10000.0::DOUBLE)::BIGINT AS mean_tokens_e4,
  max_tokens,
  floor(n_docs / (sum(n_docs) OVER ())
        * 1000000.0::DOUBLE)::BIGINT AS share_docs_e6,
  floor(n_tokens / (sum(n_tokens) OVER ())
        * 1000000.0::DOUBLE)::BIGINT AS share_tokens_e6
FROM g
"""

# k-anonymity: DuckDB's own GROUP BY ... HAVING; hour bucket floored
# explicitly (DuckDB double->int CAST rounds, Spark's truncates)
ORACLE_SQL["k_anonymity_events"] = """
WITH q AS (
  SELECT user_id, event_type,
    floor(epoch_us(ts) / 3600000000.0::DOUBLE)::BIGINT AS hour_bucket
  FROM events
)
SELECT user_id, event_type, hour_bucket, count(*)::BIGINT AS n_rows
FROM q GROUP BY 1, 2, 3 HAVING count(*) < 3
"""

# functional dependency: DuckDB's own distinct-count aggregate
ORACLE_SQL["fd_documents"] = """
SELECT source, count(DISTINCT lang)::BIGINT AS n_rhs,
  sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
  min(lang) AS rhs_min, max(lang) AS rhs_max
FROM documents GROUP BY source
HAVING count(DISTINCT lang) > 1
   OR (count(DISTINCT lang) >= 1
       AND sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) > 0)
"""

# monotonicity: DuckDB's own lag window over the same unique ordering
ORACLE_SQL["monotonicity_events"] = """
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
    CASE WHEN event_id % 37 = 0 THEN event_id - 1000000
         ELSE event_id END AS seq
  FROM events
),
l AS (
  SELECT user_id, seq AS value,
    lag(seq) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
      AS prev_value
  FROM s
)
SELECT user_id, value, prev_value FROM l
WHERE prev_value IS NOT NULL AND value < prev_value
"""

# snapshot diff: DuckDB runs its OWN full outer join and compares the
# values with IS DISTINCT FROM (no fingerprint replay)
# grouped shards: per-group global row_number replay
ORACLE_SQL["grouped_shards_documents"] = """
WITH r AS (
  SELECT lang, doc_id,
    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
)
SELECT lang, ((rn - 1) // 40)::BIGINT AS shard_id,
       count(*)::BIGINT AS n_rows,
       min(doc_id) AS first_key, max(doc_id) AS last_key
FROM r GROUP BY 1, 2
"""

# cohort retention: DuckDB's own two-level aggregation over exact day
# buckets (per-timestamp epoch floor, then integer // 86400)
ORACLE_SQL["cohort_retention_events"] = """
WITH act AS (
  SELECT DISTINCT user_id AS u,
    (floor(epoch(ts))::BIGINT // 86400) AS p
  FROM events
),
firstp AS (SELECT u, min(p) AS cohort FROM act GROUP BY 1)
SELECT cohort, (p - cohort) AS "offset",
       count(DISTINCT u)::BIGINT AS n_users
FROM act JOIN firstp USING (u)
GROUP BY 1, 2
"""

# funnel: staged CTE chain — stage k's first event strictly after stage
# k-1's time, exact integer epochs
ORACLE_SQL["funnel_events"] = """
WITH ev AS (
  SELECT user_id AS u, floor(epoch(ts))::BIGINT AS ep, event_type AS t
  FROM events
),
s1 AS (SELECT u, min(ep) AS tk FROM ev WHERE t = 'view' GROUP BY 1),
s2 AS (
  SELECT ev.u, min(ep) AS tk
  FROM ev JOIN s1 ON ev.u = s1.u
  WHERE ev.t = 'click' AND ev.ep > s1.tk GROUP BY 1
),
s3 AS (
  SELECT ev.u, min(ep) AS tk
  FROM ev JOIN s2 ON ev.u = s2.u
  WHERE ev.t = 'purchase' AND ev.ep > s2.tk GROUP BY 1
)
SELECT 1::BIGINT AS stage, 'view' AS step, count(*)::BIGINT AS n_users FROM s1
UNION ALL
SELECT 2::BIGINT, 'click', count(*)::BIGINT FROM s2
UNION ALL
SELECT 3::BIGINT, 'purchase', count(*)::BIGINT FROM s3
"""

# incremental image lookup: same closed-form masks, banding restricted
# to variant×base pairs
ORACLE_SQL["phash_incremental_images"] = f"""
WITH {_PHASH_IMG_CTES},
r AS (
  SELECT iid, ph, (substr(iid, 4, 8)::BIGINT % 3) AS rr FROM cls
),
ba AS (
  SELECT iid, ph, b, (ph >> (b * 4)) & 15 AS key
  FROM r, (VALUES (0), (1), (2), (3)) AS t(b) WHERE rr != 0
),
bi AS (
  SELECT iid, ph, b, (ph >> (b * 4)) & 15 AS key
  FROM r, (VALUES (0), (1), (2), (3)) AS t(b) WHERE rr = 0
),
c2 AS (
  SELECT DISTINCT ba.iid AS batch_id, bi.iid AS index_id,
         ba.ph AS pa, bi.ph AS pb
  FROM ba JOIN bi ON ba.b = bi.b AND ba.key = bi.key
)
SELECT batch_id, index_id,
       CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
FROM c2 WHERE bit_count(xor(pa, pb)) <= 2
"""

# unit norm: left-fold squared sum from 0.0 (mirrors Spark aggregate's
# init), sqrt + per-component division single IEEE ops; components
# compared via md5 of e9-floored ints
ORACLE_SQL["unit_norm_embeddings"] = """
WITH e AS (
  SELECT vec_id,
    CASE WHEN vec_id % 101 = 0
      THEN list_transform(embedding, x -> 0.0::DOUBLE)
      ELSE embedding::DOUBLE[] END AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, len(v)::BIGINT AS dim,
    list_reduce(
      list_prepend(0.0::DOUBLE, list_transform(v, x -> x * x)),
      (a, b) -> a + b) AS ss,
    v
  FROM e
)
SELECT vec_id, dim,
  CASE WHEN ss > 0 THEN floor(sqrt(ss) * 1e9)::BIGINT END AS norm_e9,
  CASE WHEN ss > 0 THEN
    ('0x' || substr(md5(array_to_string(
       list_transform(v, x -> floor(x / sqrt(ss) * 1e9)::BIGINT), ',')),
       1, 8))::BIGINT
  END AS unit_md5
FROM n
"""

# incremental phash lookup: the same banding replay as the self-join
# oracle, restricted to batch×index pairs
ORACLE_SQL["phash_incremental_events"] = """
WITH idx AS (
  SELECT event_id AS img_id,
    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS ph
  FROM events WHERE event_id % 50 != 0
),
bat AS (
  SELECT event_id AS img_id,
    xor(('0x' || substr(md5(CAST(event_id - 1 AS VARCHAR)), 1, 15))::BIGINT,
        8) AS ph
  FROM events WHERE event_id % 50 = 0
),
ba AS (
  SELECT img_id, ph, b, (ph >> (b * 15)) & 32767 AS key
  FROM bat, (VALUES (0), (1), (2), (3)) AS t(b)
),
bi AS (
  SELECT img_id, ph, b, (ph >> (b * 15)) & 32767 AS key
  FROM idx, (VALUES (0), (1), (2), (3)) AS t(b)
),
cand AS (
  SELECT DISTINCT ba.img_id AS batch_id, bi.img_id AS index_id,
         ba.ph AS pa, bi.ph AS pb
  FROM ba JOIN bi ON ba.b = bi.b AND ba.key = bi.key
)
SELECT batch_id, index_id,
       CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= 2
"""

# split leakage: compose the all-pairs Jaccard oracle with the split
# bucket oracle — cross-split near-dup pairs must match row-for-row
ORACLE_SQL["split_leakage_documents"] = f"""
WITH {_shingle_cte(5)},
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_intersect(a.shingles, b.shingles))::BIGINT AS ni,
    (len(a.shingles) + len(b.shingles))::BIGINT AS st
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b,
    (ni * 1000000 // (st - ni))::BIGINT AS jaccard_e6
  FROM p
  WHERE ni > 0 AND ni::DOUBLE / (st - ni)::DOUBLE >= 0.7::DOUBLE
),
sp AS (
  SELECT doc_id,
    CASE WHEN b < 900000 THEN 'train'
         WHEN b < 950000 THEN 'val'
         ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
      ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))::BIGINT
        % 1000000 AS b
    FROM documents
  )
)
SELECT doc_a, doc_b, a.split AS split_a, b.split AS split_b, jaccard_e6
FROM pairs
JOIN sp a ON a.doc_id = doc_a
JOIN sp b ON b.doc_id = doc_b
WHERE a.split != b.split
"""

# Benford: digits string-wise, shares in exact integer floor division;
# the constant expectations recompute ln(1+1/d)/ln(10) in DuckDB and must
# floor to the same e6 integers as Python's math.log literals
ORACLE_SQL["benford_lineitem"] = """
WITH f AS (
  SELECT substr(round(abs(l_extendedprice))::BIGINT::VARCHAR, 1, 1)::INT
           AS digit
  FROM lineitem
),
b AS (SELECT digit FROM f WHERE digit >= 1),
c AS (SELECT digit, count(*)::BIGINT AS n_rows FROM b GROUP BY 1),
t AS (SELECT count(*)::BIGINT AS n FROM b)
SELECT digit, n_rows,
  (n_rows * 1000000 // n)::BIGINT AS share_e6,
  floor(ln(1 + 1::DOUBLE / digit) / ln(10::DOUBLE) * 1e6)::BIGINT
    AS expected_e6,
  abs((n_rows * 1000000 // n)
      - floor(ln(1 + 1::DOUBLE / digit) / ln(10::DOUBLE) * 1e6)) > 20000
    AS deviates
FROM c, t
"""

# prefix-filter Jaccard: the oracle is the ALL-PAIRS exact join — prefix
# filtering must lose nothing (recall exactly 1 for J >= t)
ORACLE_SQL["prefix_jaccard_documents"] = f"""
WITH {_shingle_cte(5)},
p AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
    len(list_intersect(a.shingles, b.shingles))::BIGINT AS ni,
    (len(a.shingles) + len(b.shingles))::BIGINT AS st
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
)
SELECT da AS doc_a, db AS doc_b, ni AS n_common,
  (ni * 1000000 // (st - ni))::BIGINT AS jaccard_e6
FROM p
WHERE ni > 0 AND ni::DOUBLE / (st - ni)::DOUBLE >= 0.7::DOUBLE
"""

# audio quality: duration/rms/peak are closed-form (n/sr, amp/2^15
# bit-exact) so the first-fail verdict chain replays from the residues
ORACLE_SQL["audio_quality_clips"] = f"""
WITH cls AS (
  SELECT i, printf('au_%08d', i) AS cid,
    CASE i % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
    1000 + (i * 97) % 3000 AS n,
    1000 + (i * 37) % 20000 AS amp,
    (i % {_FX.FEATURE_CORRUPT_EVERY} = {_FX.FEATURE_CORRUPT_EVERY - 1}) AS corrupt
  FROM (SELECT unnest(range({_AUDIO_N})) AS i)
)
SELECT cid AS clip_id,
  CASE WHEN corrupt THEN NULL
       ELSE floor(n::DOUBLE / sr * 1e6)::BIGINT END AS dur_e6,
  CASE WHEN corrupt THEN NULL
       ELSE floor(amp::DOUBLE / 32768 * 1e6)::BIGINT END AS rms_e6,
  CASE WHEN corrupt THEN NULL
       ELSE floor(amp::DOUBLE / 32768 * 1e6)::BIGINT END AS peak_e6,
  CASE WHEN corrupt THEN 'undecodable'
       WHEN n::DOUBLE / sr < 0.1::DOUBLE THEN 'too_short'
       WHEN amp::DOUBLE / 32768 < 0.1::DOUBLE THEN 'too_quiet'
       WHEN amp::DOUBLE / 32768 > 0.6::DOUBLE THEN 'near_clipped'
       ELSE 'ok' END AS verdict
FROM cls
"""

# canonical urls: the oracle derives the expected canonical key straight
# from the residues — the Spark side must collapse all six spelling
# variants onto it via the real regex pipeline
ORACLE_SQL["canonical_urls_events"] = """
SELECT 'https://example' || ((event_id // 6) % 13)::VARCHAR || '.com/p/'
         || (event_id // 6)::VARCHAR AS canon_url,
       count(*)::BIGINT AS n_rows
FROM events
GROUP BY 1
"""

# l-diversity: DuckDB's own GROUP BY + count(DISTINCT) + HAVING
ORACLE_SQL["l_diversity_events"] = """
SELECT event_type,
  (floor(epoch(ts))::BIGINT // 3600) AS hour,
  count(*)::BIGINT AS n_rows,
  count(DISTINCT user_id)::BIGINT AS n_sensitive
FROM events
GROUP BY 1, 2
HAVING count(DISTINCT user_id) < 3
"""

# MAD outliers: exact integer cents → medians are k or k+0.5, every
# interpolation agrees; median/MAD ship doubled as exact bigints
ORACLE_SQL["mad_outliers_events"] = """
WITH e AS (
  SELECT event_type, round(value * 100)::BIGINT AS cents FROM events
),
med AS (
  SELECT event_type, median(cents) AS m, count(*)::BIGINT AS n_rows
  FROM e GROUP BY 1
),
dev AS (
  SELECT e.event_type, abs(e.cents - med.m) AS d, med.m, med.n_rows
  FROM e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, median(d) AS md, any_value(m) AS m,
         any_value(n_rows) AS n_rows
  FROM dev GROUP BY 1
)
SELECT d.event_type,
  floor(mad.m * 2)::BIGINT AS median_x2,
  floor(mad.md * 2)::BIGINT AS mad_x2,
  mad.n_rows,
  sum(CASE WHEN d.d > 5 * mad.md THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM dev d JOIN mad USING (event_type)
GROUP BY 1, 2, 3, 4
"""

# coverage gaps: grid = global [min,max] hour range per type; both engines
# floor per-timestamp epochs before bucketing
ORACLE_SQL["coverage_gaps_events"] = """
WITH o AS (
  SELECT DISTINCT event_type,
    (floor(epoch(ts))::BIGINT // 3600) AS bucket
  FROM events
),
b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM o),
g AS (SELECT DISTINCT event_type FROM events),
grid AS (
  SELECT g.event_type, unnest(range(b.lo, b.hi + 1)) AS bucket
  FROM g, b
)
SELECT grid.event_type, grid.bucket,
  strftime(to_timestamp(grid.bucket * 3600), '%Y-%m-%d %H:%M:%S')
    AS bucket_start
FROM grid
LEFT JOIN o ON o.event_type = grid.event_type AND o.bucket = grid.bucket
WHERE o.bucket IS NULL
"""

# fuzzy linkage: same md5 name derivation, same prefix block equi-join,
# same levenshtein verify — DuckDB is the independent edit-distance engine
ORACLE_SQL["fuzzy_match_documents"] = """
WITH c AS (
  SELECT doc_id AS match_id,
         substr(md5(doc_id::VARCHAR), 1, 8) AS name
  FROM documents
),
d AS (
  SELECT doc_id AS dirty_id,
         substr(md5(doc_id::VARCHAR), 1, 7) || 'z' AS dname
  FROM documents WHERE doc_id % 5 = 0
)
SELECT dirty_id, match_id, dname, name,
       levenshtein(dname, name)::INT AS dist
FROM d JOIN c ON substr(dname, 1, 4) = substr(name, 1, 4)
WHERE levenshtein(dname, name) <= 1
"""

# salted join: the oracle is the UNSALTED join — the whole point of the
# gate is that salting changes the physical plan, never the result
ORACLE_SQL["salted_join_events"] = """
WITH e AS (
  SELECT event_id,
    CASE WHEN event_id % 3 = 0 THEN 7
         ELSE user_id % 50 END::BIGINT AS k
  FROM events
),
dim AS (
  SELECT i::BIGINT AS k, ((i * 13) % 101)::BIGINT AS w
  FROM (SELECT unnest(range(50)) AS i)
)
SELECT e.k, count(*)::BIGINT AS n_rows, sum(dim.w)::BIGINT AS sum_w
FROM e JOIN dim ON e.k = dim.k
GROUP BY 1
"""

# completeness: DuckDB replays the planted-null derivation; fill_e6 is
# exact integer floor division on both sides (no float ratio)
ORACLE_SQL["completeness_events"] = """
WITH d AS (
  SELECT event_id,
    CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS user_id,
    event_type,
    CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value,
    CASE WHEN event_id % 211 = 0 THEN NULL ELSE props END AS props
  FROM events
),
a AS (
  SELECT count(*)::BIGINT AS n,
    (count(*) - count(event_id))::BIGINT AS z_event_id,
    (count(*) - count(user_id))::BIGINT AS z_user_id,
    (count(*) - count(event_type))::BIGINT AS z_event_type,
    (count(*) - count(value))::BIGINT AS z_value,
    (count(*) - count(props))::BIGINT AS z_props
  FROM d
),
u AS (
  SELECT 'event_id' AS column_name, n, z_event_id AS n_nulls FROM a
  UNION ALL SELECT 'user_id', n, z_user_id FROM a
  UNION ALL SELECT 'event_type', n, z_event_type FROM a
  UNION ALL SELECT 'value', n, z_value FROM a
  UNION ALL SELECT 'props', n, z_props FROM a
)
SELECT column_name, n AS n_rows, n_nulls,
  ((n - n_nulls) * 1000000 // n)::BIGINT AS fill_e6,
  ((n - n_nulls) * 1000000 // n) >= 990000 AS pass
FROM u
"""

# freshness: per-timestamp epoch FLOOR on both sides (Spark unix_timestamp
# truncates; DuckDB epoch keeps the fraction — floor it before subtracting)
ORACLE_SQL["freshness_events"] = """
WITH g AS (
  SELECT event_type, count(*)::BIGINT AS n_rows, max(ts) AS mx
  FROM events GROUP BY 1
),
t AS (SELECT floor(epoch(max(ts)))::BIGINT AS gm FROM events)
SELECT event_type, n_rows,
  strftime(mx, '%Y-%m-%d %H:%M:%S') AS max_ts,
  (gm - floor(epoch(mx))::BIGINT) AS lag_seconds,
  (gm - floor(epoch(mx))::BIGINT) > 1500 AS stale
FROM g, t
"""

ORACLE_SQL["snapshot_diff_events"] = """
WITH o AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 7 != 0
),
n AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 11 = 0 THEN value + 1.0::DOUBLE
              ELSE value END AS value
  FROM events WHERE event_id % 5 != 0
)
SELECT event_id, status FROM (
  SELECT COALESCE(o.event_id, n.event_id) AS event_id,
    CASE WHEN o.event_id IS NULL THEN 'added'
         WHEN n.event_id IS NULL THEN 'removed'
         WHEN o.event_type IS DISTINCT FROM n.event_type
           OR o.value IS DISTINCT FROM n.value THEN 'changed'
    END AS status
  FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
) WHERE status IS NOT NULL
"""

# declared-vs-decoded: verdicts are a pure function of the residue class
# (unseeded rows decode to exactly their declared metadata by fixture
# construction); Spark actually decodes, the oracle replays the classes
ORACLE_SQL["meta_consistency_images"] = f"""
WITH cls AS (
  SELECT i % 100 AS v,
    CASE WHEN i % 100 = 8 AND i >= 12 THEN printf('img_%016x', i - 12)
         WHEN i % 100 = 9 THEN NULL
         ELSE printf('img_%016x', i) END AS iid
  FROM (SELECT unnest(range({_IMAGES_META_N})) AS i)
)
SELECT iid AS image_id,
  v != 0 AS decode_ok,
  CASE WHEN v = 0 THEN NULL
       ELSE (v NOT IN (1, 7))::BIGINT END AS dims_match_i,
  CASE WHEN v = 0 THEN NULL
       ELSE (v NOT IN (2, 6))::BIGINT END AS fmt_match_i
FROM cls
"""

# pair filter: unseeded rows never trip a threshold by construction, so
# keep/fail_reason is a pure function of the residue class; v=8 (i>=12)
# rows ARE the clean row i-12 (make_row substitution), v=9 has a NULL id
ORACLE_SQL["pair_filter_images"] = f"""
WITH cls AS (
  SELECT i % 100 AS v,
    CASE WHEN i % 100 = 8 AND i >= 12 THEN printf('img_%016x', i - 12)
         WHEN i % 100 = 9 THEN NULL
         ELSE printf('img_%016x', i) END AS iid
  FROM (SELECT unnest(range({_IMAGES_META_N})) AS i)
)
SELECT iid AS image_id, r IS NULL AS keep, r AS fail_reason
FROM (
  SELECT iid, CASE
    WHEN v = 9 THEN 'missing_id'
    WHEN v = 5 THEN 'missing_caption'
    WHEN v = 3 THEN 'empty_caption'
    WHEN v = 4 THEN 'caption_too_long'
    WHEN v = 6 THEN 'bad_format'
    WHEN v = 7 THEN 'too_small'
    END AS r
  FROM cls
)
"""

# exact image dedup: bytes are identical iff id % G matches (see
# fixtures.synth_dup_images), so the md5 group partition IS the residue
# partition — keeper = min id in class = the residue itself, n_copies =
# how many ids of [0, N) land in it
ORACLE_SQL["image_exact_dedup"] = f"""
SELECT printf('di_%08d', r) AS keeper_id,
       CAST(({_DUP_IMG_N} - r + {_FX.DUP_IMG_GROUP_MOD} - 1)
            // {_FX.DUP_IMG_GROUP_MOD} AS BIGINT) AS n_copies
FROM (SELECT unnest(range({_FX.DUP_IMG_GROUP_MOD})) AS r)
"""

# decontamination: distinct 5-token shingles of the doc_id%97 eval set,
# joined against each doc's distinct shingle set
ORACLE_SQL["decontaminate_documents"] = f"""
WITH {_shingle_cte(5)},
b AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 97 = 0),
d AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
SELECT d.doc_id, COUNT(*)::BIGINT AS n_hits
FROM d JOIN b ON d.s = b.s
GROUP BY 1
"""

# parser-layer E2E: the residue classes replay the compiled priority of the
# parsed draft-04 Pet spec — required beats properties; properties report
# the FIRST declared offender (id, name, tag); the $ref'd PetName validator
# reports at its own '$' root (module-per-ref parity, see
# tests/test_parser_and_pyval.py)
ORACLE_SQL["validate_oas_petstore"] = """
SELECT event_id, '$row' AS column_name, v[1] AS schema_path, v[2] AS keyword,
       v[3] AS description
FROM (SELECT event_id, CASE
  WHEN event_id % 7 = 0
    THEN ['$.required', 'required', '$ is missing required property <<"name">>']
  WHEN event_id % 11 = 0
    THEN ['$.properties.id.minimum', 'minimum',
          'Value is not a number greater than 0']
  WHEN event_id % 5 = 0
    THEN ['$.max_length', 'max_length',
          'String length "Length" is greater than 12']
  WHEN event_id % 3 = 0
    THEN ['$.min_length', 'min_length',
          'String length "Length" is less than 1']
  WHEN event_id % 13 = 0
    THEN ['$.properties.tag.max_length', 'max_length',
          'String length "Length" is greater than 8']
  END AS v FROM events) WHERE v IS NOT NULL
"""

# multimodal feature oracles: the fixtures are built so every feature is an
# exact SQL expression of the row id (fixtures.feature_image_params /
# audio_clip_params / video_frame_pixels — two-tone halves with c2 = c1+100
# make the mean the integer c1+50, and the phash one of two constants by
# half orientation). The CTE regenerates them; the Spark side actually
# decodes the PNG/WAV/AVI bytes.
_FEAT_IMG_CLS = f"""
cls AS (
  SELECT i, printf('fi_%08d', i) AS iid,
    8 + 4 * (i % 5) AS w, 6 + i % 7 AS h,
    (i * 37 + 11) % 128 AS c1,
    (i % {_FX.FEATURE_CORRUPT_EVERY} = {_FX.FEATURE_CORRUPT_EVERY - 1}) AS corrupt,
    (i % 2 = 1) AS swapped
  FROM (SELECT unnest(range({_FEAT_IMG_N})) AS i)
)"""

ORACLE_SQL["image_features_clips"] = f"""
WITH {_FEAT_IMG_CLS}
SELECT iid AS image_id, NOT corrupt AS ok,
  CASE WHEN corrupt THEN NULL ELSE CAST(w AS BIGINT) END AS w,
  CASE WHEN corrupt THEN NULL ELSE CAST(h AS BIGINT) END AS h,
  CASE WHEN corrupt THEN NULL
       ELSE CAST((c1 + 50) * 10000 AS BIGINT) END AS mean_e4,
  CASE WHEN corrupt THEN NULL
       WHEN swapped THEN CAST({_FX.PHASH_LEFT_HIGH} AS BIGINT)
       ELSE CAST({_FX.PHASH_RIGHT_HIGH} AS BIGINT) END AS phash
FROM cls
"""

ORACLE_SQL["image_features_resized"] = f"""
WITH {_FEAT_IMG_CLS}
SELECT iid AS image_id, TRUE AS ok,
  CAST(8 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
  CAST((c1 + 50) * 10000 AS BIGINT) AS mean_e4,
  CASE WHEN swapped THEN CAST({_FX.PHASH_LEFT_HIGH} AS BIGINT)
       ELSE CAST({_FX.PHASH_RIGHT_HIGH} AS BIGINT) END AS phash
FROM cls WHERE NOT corrupt
"""

# exposure filter: luminance == mean channel == c1 + 50 exactly (equal
# halves, (3x)/3.0 bit-exact), so verdicts are pure residue arithmetic
ORACLE_SQL["exposure_filter_images"] = f"""
WITH {_FEAT_IMG_CLS}
SELECT iid AS image_id,
  CASE WHEN corrupt THEN NULL
       ELSE CAST((c1 + 50) * 10000 AS BIGINT) END AS luma_e4,
  CASE WHEN corrupt THEN 'undecodable'
       WHEN c1 + 50 < 80 THEN 'under'
       WHEN c1 + 50 > 150 THEN 'over'
       ELSE 'ok' END AS exposure
FROM cls
"""

# aspect buckets: dims are closed-form; distances are single IEEE-double
# ops on integer-valued inputs (identical bits in any engine); the <=
# chain gives ties to the earliest bucket, mirroring images.aspect_buckets
ORACLE_SQL["aspect_bucket_images"] = f"""
WITH {_FEAT_IMG_CLS},
d AS (
  SELECT iid, w, h,
    abs(w::DOUBLE / h::DOUBLE - 0.75::DOUBLE) AS d1,
    abs(w::DOUBLE / h::DOUBLE - 1.0::DOUBLE) AS d2,
    abs(w::DOUBLE / h::DOUBLE - 4::DOUBLE / 3::DOUBLE) AS d3,
    abs(w::DOUBLE / h::DOUBLE - 2.0::DOUBLE) AS d4,
    abs(w::DOUBLE / h::DOUBLE - 3.0::DOUBLE) AS d5
  FROM cls WHERE NOT corrupt
)
SELECT iid AS image_id, w::BIGINT AS w, h::BIGINT AS h,
  CASE WHEN d1 <= d2 AND d1 <= d3 AND d1 <= d4 AND d1 <= d5 THEN '3:4'
       WHEN d2 <= d3 AND d2 <= d4 AND d2 <= d5 THEN '1:1'
       WHEN d3 <= d4 AND d3 <= d5 THEN '4:3'
       WHEN d4 <= d5 THEN '2:1'
       ELSE '3:1' END AS bucket
FROM d
"""

# streaming decode: a stateless streaming operator must emit exactly the
# batch rows — the oracle IS the batch image_features_clips oracle
ORACLE_SQL["stream_image_features"] = f"""
WITH {_FEAT_IMG_CLS}
SELECT iid AS image_id, NOT corrupt AS ok,
  CASE WHEN corrupt THEN NULL ELSE CAST(w AS BIGINT) END AS w,
  CASE WHEN corrupt THEN NULL ELSE CAST(h AS BIGINT) END AS h,
  CASE WHEN corrupt THEN NULL
       ELSE CAST((c1 + 50) * 10000 AS BIGINT) END AS mean_e4,
  CASE WHEN corrupt THEN NULL
       WHEN swapped THEN CAST({_FX.PHASH_LEFT_HIGH} AS BIGINT)
       ELSE CAST({_FX.PHASH_RIGHT_HIGH} AS BIGINT) END AS phash
FROM cls
"""

# shard manifest: the oracle's global row_number() is the semantics the
# two-phase distributed rank must reproduce (ids are unique → total order)
ORACLE_SQL["shard_manifest_images"] = f"""
WITH {_FEAT_IMG_CLS},
r AS (SELECT iid, row_number() OVER (ORDER BY iid) AS rn FROM cls)
SELECT ((rn - 1) // 64)::BIGINT AS shard_id,
       count(*)::BIGINT AS n_rows,
       min(iid) AS first_key, max(iid) AS last_key
FROM r GROUP BY 1
"""

# image feature drift: regenerate mean_r = c1 + 50 from the residue
# classes, then replay the drift histogram/CDF/PSI math (the
# drift_per_partition_lineitem oracle pattern) — bucket width (178-50)/16 = 8
ORACLE_SQL["image_feature_drift"] = f"""
WITH {_FEAT_IMG_CLS},
vals AS (
  SELECT i, (c1 + 50)::DOUBLE AS v, i % 4 AS partition_id
  FROM cls WHERE NOT corrupt
),
ref AS (
  SELECT least(greatest(CAST(floor((v - 50.0) / 8.0) AS INT), 0), 15) AS bucket,
         count(*) AS ref_n
  FROM vals WHERE i % 2 = 0 GROUP BY 1
),
hist AS (
  SELECT partition_id,
         least(greatest(CAST(floor((v - 50.0) / 8.0) AS INT), 0), 15) AS bucket,
         count(*) AS n
  FROM vals GROUP BY 1, 2
),
grid AS (
  SELECT p.partition_id, b.bucket
  FROM (SELECT DISTINCT partition_id FROM hist) p
  CROSS JOIN (SELECT unnest(range(16))::INT AS bucket) b
),
full_h AS (
  SELECT g.partition_id, g.bucket, coalesce(h.n, 0) AS n,
         coalesce(r.ref_n, 0) AS ref_n
  FROM grid g
  LEFT JOIN hist h ON h.partition_id = g.partition_id AND h.bucket = g.bucket
  LEFT JOIN ref r ON r.bucket = g.bucket
),
tot AS (SELECT partition_id, sum(n) AS t, sum(ref_n) AS tr FROM full_h GROUP BY 1),
terms AS (
  SELECT f.partition_id, f.bucket, f.n / t.t AS p, f.ref_n / t.tr AS q
  FROM full_h f JOIN tot t USING (partition_id)
),
cdf AS (
  SELECT partition_id, bucket, p, q,
         sum(p) OVER (PARTITION BY partition_id ORDER BY bucket) AS cp,
         sum(q) OVER (PARTITION BY partition_id ORDER BY bucket) AS cq
  FROM terms
),
ks AS (SELECT partition_id, max(abs(cp - cq)) AS ks FROM cdf GROUP BY 1),
psi AS (
  SELECT partition_id,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list((p - q) * ln((p + 1e-6) / (q + 1e-6)) ORDER BY bucket)),
           (a, b) -> a + b) AS psi
  FROM terms GROUP BY 1
)
SELECT k.partition_id,
       floor(1e6 * k.ks)::BIGINT AS ks_e6,
       floor(1e6 * s.psi)::BIGINT AS psi_e6
FROM ks k JOIN psi s USING (partition_id)
"""

ORACLE_SQL["audio_features_clips"] = f"""
WITH cls AS (
  SELECT i, printf('au_%08d', i) AS cid,
    CASE i % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
    1000 + (i * 97) % 3000 AS n,
    1000 + (i * 37) % 20000 AS amp,
    (i % {_FX.FEATURE_CORRUPT_EVERY} = {_FX.FEATURE_CORRUPT_EVERY - 1}) AS corrupt
  FROM (SELECT unnest(range({_AUDIO_N})) AS i)
)
SELECT cid AS clip_id, NOT corrupt AS ok,
  CASE WHEN corrupt THEN NULL ELSE CAST(sr AS BIGINT) END AS sample_rate,
  CASE WHEN corrupt THEN NULL ELSE CAST(1 AS BIGINT) END AS n_channels,
  CASE WHEN corrupt THEN NULL ELSE CAST(n AS BIGINT) END AS n_samples,
  CASE WHEN corrupt THEN NULL
       ELSE CAST(floor(n::DOUBLE / sr * 1e6) AS BIGINT) END AS dur_e6,
  CASE WHEN corrupt THEN NULL
       ELSE CAST(floor(amp::DOUBLE / 32768 * 1e6) AS BIGINT) END AS rms_e6,
  CASE WHEN corrupt THEN NULL
       ELSE CAST(floor(((n - 1) // 2)::DOUBLE / (n - 1) * 1e6) AS BIGINT)
       END AS zcr_e6
FROM cls
"""

ORACLE_SQL["video_frame_features"] = f"""
WITH cls AS (
  SELECT i, 6 + i % 15 AS nf, 8 + 4 * (i % 5) AS w, 6 + i % 7 AS h
  FROM (SELECT unnest(range({_VIDEO_N})) AS i)
  WHERE i % {_FX.FEATURE_CORRUPT_EVERY} != {_FX.FEATURE_CORRUPT_EVERY - 1}
), fr AS (
  SELECT i, w, h, unnest(generate_series(0, nf - 1, 5)) AS f FROM cls
)
SELECT printf('vc_%08d:%d', i, f) AS frame_id, TRUE AS ok,
  CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
  CAST((((i * 37 + f * 53 + 11) % 128) + 50) * 10000 AS BIGINT) AS mean_e4,
  CASE WHEN (i + f) % 2 = 1 THEN CAST({_FX.PHASH_LEFT_HIGH} AS BIGINT)
       ELSE CAST({_FX.PHASH_RIGHT_HIGH} AS BIGINT) END AS phash
FROM fr
"""

# scene cuts: per-frame means are closed-form integers; deltas are +53 or
# −75 (the +53 mod 128 walk), threshold 60 cuts only the wrap-arounds
ORACLE_SQL["video_scene_cuts"] = f"""
WITH cls AS (
  SELECT i, 6 + i % 15 AS nf
  FROM (SELECT unnest(range({_VIDEO_N})) AS i)
  WHERE i % {_FX.FEATURE_CORRUPT_EVERY} != {_FX.FEATURE_CORRUPT_EVERY - 1}
), fr AS (
  SELECT i, unnest(generate_series(0, nf - 1)) AS f FROM cls
), m AS (
  SELECT i, f,
    (((i * 37 + f * 53 + 11) % 128) + 50)::BIGINT AS mean_i
  FROM fr
)
SELECT printf('vc_%08d', i) AS clip_id, f::INT AS frame_idx, mean_i,
  mean_i - lag(mean_i) OVER (PARTITION BY i ORDER BY f) AS delta,
  coalesce(
    abs(mean_i - lag(mean_i) OVER (PARTITION BY i ORDER BY f)) >= 60,
    FALSE) AS is_cut
FROM m
"""

# streaming exact dedup: duplicating every row must be invisible — the
# oracle is simply the original table (events are unique by event_id)
ORACLE_SQL["dedup_stream_events"] = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, user_id,
  event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS value_e4
FROM events
"""

# CCNet-style line dedup: replay the 3-token-chunk multi-line derivation
# (generate_series is bounded — docs are <= 100 tokens — and i*3 < len(ls)
# clamps it), then the df-count / drop / reassemble pipeline. clean text is
# compared by md5 + length to keep the gate output compact at sf0.1.
ORACLE_SQL["line_dedup_documents"] = f"""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
chunks AS (
  SELECT doc_id, i AS pos,
         array_to_string(ls[(i*{_LINE_CHUNK}+1):(i*{_LINE_CHUNK}+{_LINE_CHUNK})], ' ') AS line
  FROM base, generate_series(0, 63) g(i)
  WHERE i*{_LINE_CHUNK} < len(ls)
),
dfreq AS (SELECT md5(line) AS lh, count(DISTINCT doc_id) AS linedf
          FROM chunks GROUP BY 1),
dup AS (SELECT lh FROM dfreq WHERE linedf >= 2),
flagged AS (
  SELECT doc_id, pos, line,
         (md5(line) IN (SELECT lh FROM dup)) AS isdup
  FROM chunks
)
SELECT doc_id,
  count(*)::BIGINT AS n_lines,
  sum(CASE WHEN isdup THEN 1 ELSE 0 END)::BIGINT AS n_dup_lines,
  md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
               FILTER (WHERE NOT isdup), '')) AS clean_md5,
  length(coalesce(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE NOT isdup), ''))::BIGINT AS clean_chars
FROM flagged GROUP BY doc_id
"""

# Bloom incremental dedup: replay the Kirsch-Mitzenmacher positions
# (h1 + j*(h2|1)) mod m over the two 32-bit md5 slices, build the bit set
# from the even-residue half, probe all docs, exact-verify hits.
ORACLE_SQL["bloom_dedup_documents"] = """
WITH d AS (SELECT doc_id, md5(text) AS ph FROM documents),
pp AS (SELECT DISTINCT ph FROM d
       WHERE ('0x'||substr(ph,1,8))::BIGINT % 2 = 0),
bits AS (
  SELECT DISTINCT (('0x'||substr(ph,1,8))::BIGINT
                   + j * ((('0x'||substr(ph,9,8))::BIGINT) | 1)) % 16384 AS bit
  FROM pp, range(4) t(j)
),
probe AS (
  SELECT doc_id, ph,
         (('0x'||substr(ph,1,8))::BIGINT
          + j * ((('0x'||substr(ph,9,8))::BIGINT) | 1)) % 16384 AS bit
  FROM d, range(4) t(j)
),
hits AS (
  SELECT doc_id, ph,
         (count(CASE WHEN bit IN (SELECT bit FROM bits) THEN 1 END) = 4)
           AS bloom_hit
  FROM probe GROUP BY doc_id, ph
)
SELECT doc_id, bloom_hit,
  CASE WHEN bloom_hit THEN ph IN (SELECT ph FROM pp) ELSE FALSE END AS exact_dup
FROM hits
"""


def _semantic_dedup_sql(n_lists: int, dim: int, n_iter: int, tau: float) -> str:
    """SemDeDup oracle: shared k-means training CTEs, final assignment,
    within-cluster smaller-id cosine-duplicate counts."""
    ctes = _kmeans_ctes(n_lists, dim, n_iter)
    trained = f"c{n_iter}"
    ctes.append(
        f"""assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cid) AS rk
    FROM e CROSS JOIN {trained} c
  ) WHERE rk = 1
)"""
    )
    ctes.append(
        f"""dups AS (
  SELECT b.vec_id AS vid, count(*)::BIGINT AS n_dups
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {tau!r}::DOUBLE
  GROUP BY b.vec_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
       coalesce(d.n_dups, 0)::BIGINT AS n_dups,
       coalesce(d.n_dups, 0) > 0 AS removed
FROM assign a LEFT JOIN dups d ON d.vid = a.vec_id"""
    )


ORACLE_SQL["semantic_dedup_embeddings"] = _semantic_dedup_sql(
    n_lists=8, dim=64, n_iter=2, tau=0.5
)

ORACLE_SQL["token_stats_documents"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
agg AS (
  SELECT token, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS doc_freq
  FROM toks WHERE token <> '' GROUP BY token
)
SELECT token, tf, doc_freq,
       (row_number() OVER (ORDER BY tf DESC, token))::BIGINT AS vocab_rank
FROM agg WHERE tf >= 2
"""

# percentile normalization: DuckDB's own percent_rank/cume_dist/ntile — an
# independent window implementation; the single double divide+multiply is
# IEEE-identical across engines, so the e6 floor quantization is exact
ORACLE_SQL["score_percentiles_documents"] = f"""
WITH b AS (
  SELECT doc_id, source AS grp, len({_DOC_TOKS})::BIGINT AS score
  FROM documents
)
SELECT doc_id, grp, score,
  floor(percent_rank() OVER (PARTITION BY grp ORDER BY score)
        * CAST(1000000 AS DOUBLE))::BIGINT AS pct_e6,
  floor(cume_dist() OVER (PARTITION BY grp ORDER BY score)
        * CAST(1000000 AS DOUBLE))::BIGINT AS cume_e6,
  (ntile(10) OVER (PARTITION BY grp ORDER BY score, doc_id))::BIGINT AS tile
FROM b
"""

# adjacent pairs: toks[j], toks[j+1] for j in 1..n-1 (DuckDB lists are
# 1-based); overlaps included — the BPE multiset count
ORACLE_SQL["pair_stats_documents"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
p AS (
  SELECT doc_id, toks[j] AS "left", toks[j + 1] AS "right"
  FROM (
    SELECT doc_id, toks, unnest(range(1, len(toks))) AS j
    FROM t WHERE len(toks) >= 2
  )
),
a AS (
  SELECT "left", "right", count(*)::BIGINT AS tf,
         count(DISTINCT doc_id)::BIGINT AS doc_freq
  FROM p GROUP BY 1, 2
)
SELECT "left", "right", tf, doc_freq,
  (row_number() OVER (ORDER BY tf DESC, "left", "right"))::BIGINT AS pair_rank
FROM a WHERE tf >= 3
"""

ORACLE_SQL["mixing_weights_documents"] = """
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT
           AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens)::DOUBLE AS total, count(*)::BIGINT AS nsrc FROM per)
SELECT source, n_docs, n_tokens,
  floor(n_tokens / total * 1e6)::BIGINT AS share_e6,
  CASE WHEN n_tokens > 0
       THEN floor((1.0 / nsrc) / (n_tokens / total) * 1e6)::BIGINT END
    AS weight_e6
FROM per, tot
"""

ORACLE_SQL["asof_join_events"] = """
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
),
r AS (
  SELECT event_id AS p_event_id, user_id, ts, value AS p_value FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
),
j AS (
  SELECT l.event_id, l.user_id, epoch_us(l.ts) AS t_us, l.value,
         r.p_event_id, epoch_us(r.ts) AS m_us, r.p_value
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
)
SELECT event_id, user_id, t_us,
       floor(value * 10000)::BIGINT AS value_e4,
       CASE WHEN t_us - m_us <= 172800000000 THEN p_event_id END AS p_event_id,
       CASE WHEN t_us - m_us <= 172800000000 THEN m_us END AS p_ts_us,
       CASE WHEN t_us - m_us <= 172800000000
            THEN floor(p_value * 10000)::BIGINT END AS p_value_e4
FROM j
"""

ORACLE_SQL["range_join_events"] = """
WITH p AS (
  SELECT event_id AS p_event_id, user_id, ts AS start_ts FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
),
c AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT p.p_event_id, c.event_id, p.user_id,
       floor((epoch_us(c.ts) - epoch_us(p.start_ts)) / 1000000)::BIGINT
         AS offset_s,
       floor(c.value * 10000)::BIGINT AS value_e4
FROM p JOIN c
  ON p.user_id = c.user_id
 AND c.ts >= p.start_ts
 AND epoch_us(c.ts) < epoch_us(p.start_ts) + 21600000000
"""

ORACLE_SQL["sessionize_events"] = """
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
t AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM s
)
SELECT user_id, session_id::BIGINT AS session_id,
       count(*)::BIGINT AS n_events,
       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
       sum(floor(value * 100)::BIGINT)::BIGINT AS sum_cents
FROM t GROUP BY user_id, t.session_id
"""

ORACLE_SQL["rollup_events"] = """
SELECT 'hour' AS level, epoch_us(date_trunc('hour', ts)) AS bucket_us,
       event_type, count(*)::BIGINT AS n,
       sum(floor(value * 100)::BIGINT)::BIGINT AS sum_cents
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', epoch_us(date_trunc('day', ts)), event_type,
       count(*)::BIGINT, sum(floor(value * 100)::BIGINT)::BIGINT
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'week', epoch_us(date_trunc('week', ts)), event_type,
       count(*)::BIGINT, sum(floor(value * 100)::BIGINT)::BIGINT
FROM events GROUP BY 2, 3
"""

ORACLE_SQL["cms_counts_events"] = """
WITH ex AS (
  SELECT jj.j,
         ('0x' || substr(md5(jj.j::VARCHAR || ':' || e.user_id::VARCHAR),
                         1, 8))::BIGINT % 256 AS pos
  FROM events e
  CROSS JOIN (SELECT unnest(range(4)) AS j) jj
  WHERE e.user_id IS NOT NULL
)
SELECT j::BIGINT AS j, pos::BIGINT AS pos, count(*)::BIGINT AS cnt
FROM ex GROUP BY 1, 2
"""

ORACLE_SQL["heavy_hitters_events"] = """
SELECT user_id, count(*)::BIGINT AS n_events
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id
HAVING count(*) >= 75
"""

ORACLE_SQL["latest_events"] = """
WITH r AS (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us,
       floor(value * 10000)::BIGINT AS value_e4
FROM r WHERE rn = 1
"""

ORACLE_SQL["session_stream_events"] = """
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
t AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_str,
       strftime(max(ts) + INTERVAL 24 HOUR, '%Y-%m-%d %H:%M:%S') AS end_str,
       count(*)::BIGINT AS n_events,
       sum(floor(value * 100)::BIGINT)::BIGINT AS sum_cents
FROM t GROUP BY user_id, t.sid
"""

ORACLE_SQL["bm25_documents"] = """
WITH dls AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::DOUBLE AS dl
  FROM documents WHERE text IS NOT NULL
),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dls),
tf AS (
  SELECT doc_id, token, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL)
  WHERE token IN ('spark', 'join', 'window')
  GROUP BY 1, 2
),
dfreq AS (SELECT token, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY 1),
terms AS (
  SELECT t.doc_id, t.token,
         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * t.tf * (1.2 + 1)
           / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS term_score
  FROM tf t
  JOIN dfreq d USING (token)
  JOIN dls l USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id, count(*)::BIGINT AS n_terms,
       floor(1e6 * list_reduce(
         list_prepend(0.0::DOUBLE, list(term_score ORDER BY token)),
         (a, b) -> a + b))::BIGINT AS score_e6
FROM terms GROUP BY doc_id
"""


def _pii_oracle_sql() -> str:
    """Built from functions/text.PII_PATTERNS so the SQL always redacts with
    the exact patterns the Spark operator uses (constants shared by design;
    DuckDB's RE2 engine is still the independent evaluator — any semantic
    divergence from Java regex, or any planted-string construction drift,
    fails the value hash)."""
    from .functions.text import PII_PATTERNS

    counts = ",\n  ".join(
        "CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{n}".format(
            p=pat.replace("'", "''"), n=name
        )
        for name, pat, _tok in PII_PATTERNS
    )
    red = "text"
    for _name, pat, tok in PII_PATTERNS:
        red = "regexp_replace({r}, '{p}', '{t}', 'g')".format(
            r=red, p=pat.replace("'", "''"), t=tok
        )
    return f"""
WITH planted AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 7 = 0
            THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' call +1-555-' || CAST(doc_id % 10000 + 10000 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 13 = 0
            THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.0.' || CAST(doc_id % 100 AS VARCHAR)
            ELSE '' END
    AS text
  FROM documents
)
SELECT doc_id,
  {counts},
  {_md5_low32_sql(red)} AS clean_sig
FROM planted
"""


ORACLE_SQL["pii_documents"] = _pii_oracle_sql()

ORACLE_SQL["split_documents"] = """
SELECT doc_id,
  CASE WHEN b < 900000 THEN 'train'
       WHEN b < 950000 THEN 'val'
       ELSE 'test' END AS split,
  b AS bucket
FROM (
  SELECT doc_id,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))::BIGINT
      % 1000000 AS b
  FROM documents
)
"""

# DSIR importance weights: the oracle recomputes the whole pipeline —
# hashed-bigram buckets, the 256-bucket add-1-smoothed target/raw unigram
# models, and the per-doc ascending-bucket float fold (same list_reduce
# ordered-fold treatment as bm25; ln on identical exact-rational inputs,
# so libm agrees across engines)
ORACLE_SQL["dsir_documents"] = f"""
WITH toks AS (
  SELECT doc_id, lang, {_DOC_TOKS} AS t
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
g AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(gram), 1, 8))::BIGINT % 256 AS b
  FROM (
    SELECT doc_id, lang,
           unnest([array_to_string(t[i:i+1], ' ')
                   for i in range(1, len(t))]) AS gram
    FROM toks
  )
),
pdb AS (
  SELECT doc_id, lang, b, count(*)::BIGINT AS cnt FROM g GROUP BY 1, 2, 3
),
stats AS (
  SELECT b, sum(cnt) AS raw_cnt,
         sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS tgt_cnt
  FROM pdb GROUP BY 1
),
tot AS (
  SELECT sum(raw_cnt)::BIGINT AS raw_tot, sum(tgt_cnt)::BIGINT AS tgt_tot
  FROM stats
),
lr AS (
  SELECT b,
         ln((tgt_cnt + 1)::DOUBLE / (tgt_tot + 256)::DOUBLE)
       - ln((raw_cnt + 1)::DOUBLE / (raw_tot + 256)::DOUBLE) AS lr
  FROM stats CROSS JOIN tot
),
terms AS (
  SELECT doc_id, p.b, cnt, cnt::DOUBLE * lr AS term
  FROM pdb p JOIN lr ON p.b = lr.b
)
SELECT doc_id, sum(cnt)::BIGINT AS n_grams,
       floor(1e6 * list_reduce(
         list_prepend(0.0::DOUBLE, list(term ORDER BY b)),
         (a, c) -> a + c))::BIGINT AS logw_e6
FROM terms GROUP BY doc_id
"""

ORACLE_SQL["sample_k_documents"] = """
WITH ranked AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS sample_rank
  FROM documents
)
SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= 10
"""

# Deequ-style rule families (round 5). Each replays the Spark math with
# engine-portable arithmetic: integer counts everywhere, float epilogues
# either bit-identical (exact-moment corr: HUGEINT == decimal(38,0) sums)
# or key-ordered folds (entropy/MI — the drift-oracle convention).
ORACLE_SQL["compliance_lineitem"] = """
WITH r AS (
  SELECT 'price_bounded' AS rule_name,
         coalesce(l_extendedprice <= 50000, FALSE) AS ok FROM lineitem
  UNION ALL
  SELECT 'qty_low_half', coalesce(l_quantity <= 25, FALSE) FROM lineitem
  UNION ALL
  SELECT 'pre96_ship',
         coalesce(l_shipdate < TIMESTAMP '1996-01-01', FALSE) FROM lineitem
  UNION ALL
  SELECT 'tax_low', coalesce(l_tax <= 0.05, FALSE) FROM lineitem
  UNION ALL
  SELECT 'returnflag_domain',
         coalesce(l_returnflag IN ('A', 'N', 'R'), FALSE) FROM lineitem
)
SELECT rule_name, count(*)::BIGINT AS n_rows,
       count(*) FILTER (NOT ok)::BIGINT AS n_violations,
       floor(1e6 * (count(*) - count(*) FILTER (NOT ok)) / count(*))::BIGINT
         AS compliance_e6
FROM r GROUP BY rule_name
"""

ORACLE_SQL["histogram_lineitem"] = """
WITH q AS (
  SELECT least(greatest(CAST(floor((l_quantity - 0.0) / 5.0) AS INT), 0), 9)
           AS bucket, count(*) AS n
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
), e AS (
  SELECT least(greatest(CAST(floor((l_extendedprice - 0.0) / 10000.0) AS INT), 0), 11)
           AS bucket, count(*) AS n
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
)
SELECT 'l_quantity' AS column_name, g.bucket::INT AS bucket,
       coalesce(q.n, 0)::BIGINT AS n
FROM (SELECT unnest(range(10)) AS bucket) g LEFT JOIN q ON q.bucket = g.bucket
UNION ALL
SELECT 'l_extendedprice', g.bucket::INT, coalesce(e.n, 0)::BIGINT
FROM (SELECT unnest(range(12)) AS bucket) g LEFT JOIN e ON e.bucket = g.bucket
"""

# entropy/MI: joint counts -> window-sum marginals (exact ints) -> per-cell
# float terms folded in (a, b) order; ln written per-factor exactly as the
# Spark expression (log p - log pa - log pb for the MI term).
ORACLE_SQL["entropy_mi_events"] = """
WITH j AS (
  SELECT event_type AS a,
         least(greatest(CAST(floor((value - 0.0) / 50.0) AS INT), 0), 9) AS b,
         count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
), w AS (
  SELECT a, b, cnt,
         sum(cnt) OVER ()::DOUBLE AS n,
         sum(cnt) OVER (PARTITION BY a)::DOUBLE AS na,
         sum(cnt) OVER (PARTITION BY b)::DOUBLE AS nb
  FROM j
), t AS (
  SELECT a, b,
         -(cnt / n) * ln(na / n) AS ta,
         -(cnt / n) * ln(nb / n) AS tb,
         -(cnt / n) * ln(cnt / n) AS tj,
         (cnt / n) * (ln(cnt / n) - ln(na / n) - ln(nb / n)) AS tm
  FROM w
), f AS (
  SELECT
    list_reduce(list_prepend(0.0::DOUBLE, list(ta ORDER BY a, b)), (x, y) -> x + y) AS h_a,
    list_reduce(list_prepend(0.0::DOUBLE, list(tb ORDER BY a, b)), (x, y) -> x + y) AS h_b,
    list_reduce(list_prepend(0.0::DOUBLE, list(tj ORDER BY a, b)), (x, y) -> x + y) AS h_ab,
    list_reduce(list_prepend(0.0::DOUBLE, list(tm ORDER BY a, b)), (x, y) -> x + y) AS mi
  FROM t
)
SELECT 'entropy_a' AS metric, floor(1e6 * h_a)::BIGINT AS value_e6 FROM f
UNION ALL SELECT 'entropy_b', floor(1e6 * h_b)::BIGINT FROM f
UNION ALL SELECT 'entropy_joint', floor(1e6 * h_ab)::BIGINT FROM f
UNION ALL SELECT 'mutual_information', floor(1e6 * mi)::BIGINT FROM f
"""

ORACLE_SQL["corr_lineitem"] = """
WITH m AS (
  SELECT count(*)::BIGINT AS n,
    sum(CAST(round(l_quantity * 100) AS HUGEINT)) AS sx,
    sum(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sy,
    sum(CAST(round(l_quantity * 100) AS HUGEINT)
        * CAST(round(l_quantity * 100) AS HUGEINT)) AS sxx,
    sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
        * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS syy,
    sum(CAST(round(l_quantity * 100) AS HUGEINT)
        * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxy
  FROM lineitem
)
SELECT 'l_quantity~l_extendedprice' AS pair, n AS n_rows,
  floor(1e6 * (
    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
    / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
       * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
  ))::BIGINT AS corr_e6
FROM m
"""

ORACLE_SQL["outliers_events"] = """
WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
mad AS (
  SELECT quantile_cont(abs(value - med.m), 0.5) AS d FROM events, med
),
s AS (SELECT med.m AS m, 1.4826::DOUBLE * mad.d AS sc FROM med, mad)
SELECT event_id, value::DOUBLE AS value,
       floor(((value - s.m) / s.sc) * 1e4)::BIGINT AS dev_e4
FROM events, s
WHERE abs(value - s.m) > 3.5::DOUBLE * s.sc
"""

# remove_lines: both engines REPLAY the multi-line construction (8-token
# lines + seeded boilerplate — the closed-form-fixture convention), then
# the removal itself: distinct (doc, md5(line)) document frequency, common
# set bounded (df desc, hash asc, LIMIT), order-preserving line filter.
ORACLE_SQL["remove_lines_documents"] = """
WITH base AS (
  SELECT doc_id, concat_ws(chr(10),
    CASE WHEN doc_id % 3 = 0
         THEN 'COOKIE NOTICE accept all cookies to continue' END,
    array_to_string(
      list_transform(
        range(CAST(ceil(len(string_split(coalesce(text, ''), ' '))::DOUBLE / 8.0) AS INT)),
        i -> array_to_string(
               list_slice(string_split(coalesce(text, ''), ' '),
                          i * 8 + 1, i * 8 + 8), ' ')),
      chr(10)),
    CASE WHEN doc_id % 5 = 1
         THEN 'subscribe to our newsletter for updates' END,
    CASE WHEN doc_id % 251 = 0
         THEN 'rare footer line kept below threshold' END) AS text
  FROM documents
),
lines AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM base
),
pairs AS (
  SELECT DISTINCT doc_id, md5(line) AS h FROM lines WHERE length(line) >= 1
),
common AS (
  SELECT h FROM (SELECT h, count(*) AS df FROM pairs GROUP BY 1)
  WHERE df >= 3 ORDER BY df DESC, h LIMIT 10000
),
carr AS (SELECT coalesce(list(h), []) AS hs FROM common)
SELECT doc_id,
  array_to_string(
    list_filter(string_split(text, chr(10)),
                x -> NOT list_contains(carr.hs, md5(x))),
    chr(10)) AS clean_text,
  len(string_split(text, chr(10)))::BIGINT AS n_lines,
  (len(string_split(text, chr(10)))
   - len(list_filter(string_split(text, chr(10)),
                     x -> NOT list_contains(carr.hs, md5(x)))))::BIGINT
    AS n_removed
FROM base, carr
"""

ORACLE_SQL["vocab_oov_documents"] = """
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split(coalesce(text, ''), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
vocab AS (
  SELECT tok FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1)
  ORDER BY cnt DESC, tok LIMIT 20
),
per AS (
  SELECT doc_id, count(*) AS n_tokens,
         count(*) FILTER (tok NOT IN (SELECT tok FROM vocab)) AS n_oov
  FROM toks GROUP BY 1
)
SELECT d.doc_id,
  coalesce(per.n_tokens, 0)::BIGINT AS n_tokens,
  coalesce(per.n_oov, 0)::BIGINT AS n_oov,
  CASE WHEN coalesce(per.n_tokens, 0) > 0
       THEN floor(1e6 * per.n_oov / per.n_tokens)::BIGINT END AS oov_rate_e6
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""

ORACLE_SQL["group_quantiles_lineitem"] = """
SELECT l_returnflag, q_pct, value_e4 FROM (
  SELECT l_returnflag, 25 AS q_pct,
         CAST(floor(quantile_cont(l_extendedprice, 0.25) * 1e4) AS BIGINT) AS value_e4
  FROM lineitem GROUP BY l_returnflag
  UNION ALL
  SELECT l_returnflag, 50,
         CAST(floor(quantile_cont(l_extendedprice, 0.5) * 1e4) AS BIGINT)
  FROM lineitem GROUP BY l_returnflag
  UNION ALL
  SELECT l_returnflag, 75,
         CAST(floor(quantile_cont(l_extendedprice, 0.75) * 1e4) AS BIGINT)
  FROM lineitem GROUP BY l_returnflag
)
"""

# validate_embeddings: DuckDB replays the seeded corruption, then the same
# checks — the norm folds in list order with per-element double casts, so
# floor(norm * 1e6) is bit-identical.
ORACLE_SQL["validate_embeddings"] = """
WITH c AS (
  SELECT vec_id,
    CASE
      WHEN vec_id % 89 = 0 THEN list_slice(embedding, 1, 63)
      WHEN vec_id % 83 = 1 THEN list_transform(embedding, x -> 'NaN'::FLOAT)
      WHEN vec_id % 97 = 2 THEN list_transform(embedding, x -> 0.0::FLOAT)
      WHEN vec_id % 101 = 3
        THEN list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 3.0 AS FLOAT))
      ELSE embedding
    END AS v
  FROM embeddings
),
m AS (
  SELECT vec_id, v,
    len(v)::INT AS dim,
    len(list_filter(v, x -> isnan(x)))::INT AS n_nan,
    sqrt(list_reduce(
      list_prepend(0.0::DOUBLE,
        list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      (a, b) -> a + b)) AS nrm
  FROM c
)
SELECT vec_id, dim, n_nan,
  CASE WHEN v IS NOT NULL AND n_nan = 0
       THEN floor(nrm * 1e6)::BIGINT END AS norm_e6,
  CASE
    WHEN v IS NULL THEN 'null_embedding'
    WHEN dim <> 64 THEN 'dim_mismatch'
    WHEN n_nan > 0 THEN 'has_nan'
    WHEN nrm = 0.0 THEN 'zero_vector'
    WHEN nrm < 0.5::DOUBLE OR nrm > 2.0::DOUBLE THEN 'norm_out_of_range'
  END AS viol
FROM m
"""

# profile: per-dtype min/max normalization mirrors profile_table._norm —
# ints/strings verbatim, doubles floor-quantized 1e-4, timestamps epoch-µs
# (DuckDB epoch_us reads NTZ as UTC wall clock == the wall-clock
# timestamp_diff the Spark side uses).
_PROFILE_COL_SQL = """
SELECT '{c}' AS column_name, '{dtype}' AS dtype,
  count(*)::BIGINT AS n_rows,
  (count(*) - count({c}))::BIGINT AS n_null,
  count(DISTINCT {c})::BIGINT AS n_distinct,
  CASE WHEN count(*) > 0
       THEN floor(1e6 * (count(*) - count({c})) / count(*))::BIGINT
  END AS null_e6,
  {minx}::VARCHAR AS min_norm, {maxx}::VARCHAR AS max_norm
FROM lineitem
"""


def _profile_norm_sql(c: str, dtype: str, agg: str) -> str:
    if dtype == "double":
        return f"CAST(floor({agg}({c}) * 1e4) AS BIGINT)"
    if dtype == "timestamp_ntz":
        return f"epoch_us({agg}({c}))"
    return f"{agg}({c})"


ORACLE_SQL["profile_lineitem"] = "\nUNION ALL\n".join(
    _PROFILE_COL_SQL.format(
        c=c,
        dtype=dtype,
        minx=_profile_norm_sql(c, dtype, "min"),
        maxx=_profile_norm_sql(c, dtype, "max"),
    )
    for c, dtype in [
        ("l_orderkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_returnflag", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ]
)

# infer_json: DuckDB replays the fixture construction, then json_each
# discovers the same keys; its JSON type vocabulary (UBIGINT/BIGINT/DOUBLE/
# VARCHAR/BOOLEAN/OBJECT/ARRAY/NULL) normalizes to the same json-schema
# vocabulary as schema_of_variant on the Spark side.
ORACLE_SQL["infer_json_events"] = """
WITH src AS (
  SELECT CASE WHEN event_id % 101 = 99 THEN 'not json{'
    ELSE '{"k": ' || (props->>'k')
      || ', "tag": ' || (CASE WHEN event_id % 2 = 0
                              THEN (user_id % 20)::VARCHAR
                              ELSE '"' || event_type || '"' END)
      || (CASE WHEN event_id % 3 = 0 THEN ', "meta": {"lang": "en"}' ELSE '' END)
      || (CASE WHEN event_id % 5 = 0 THEN ', "arr": [1, 2]' ELSE '' END)
      || (CASE WHEN event_id % 7 = 0 THEN ', "opt": null' ELSE '' END)
      || '}' END AS js
  FROM events
),
tot AS (SELECT count(*)::BIGINT AS n_rows FROM src),
parsed AS (
  SELECT js,
         CASE WHEN json_valid(js) AND json_type(js::JSON) = 'OBJECT'
              THEN js::JSON END AS obj
  FROM src
),
root AS (
  SELECT '$' AS path, 'object' AS json_type, count(obj)::BIGINT AS n
  FROM parsed
  UNION ALL
  SELECT '$', 'invalid',
         (count(*) FILTER (js IS NOT NULL AND obj IS NULL))::BIGINT
  FROM parsed
),
kx AS (
  SELECT obj, unnest(json_keys(obj)) AS k FROM parsed WHERE obj IS NOT NULL
),
keys AS (
  -- json_type(obj, path) is SQL NULL only for a JSON null value (the key
  -- came from json_keys, so it exists) -> coalesce recovers the type
  SELECT '$.' || k AS path,
    CASE coalesce(json_type(obj, '$.' || k), 'NULL')
      WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
      WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
      WHEN 'NULL' THEN 'null'
      WHEN 'UBIGINT' THEN 'integer' WHEN 'BIGINT' THEN 'integer'
      ELSE 'number' END AS json_type,
    count(*)::BIGINT AS n
  FROM kx
  GROUP BY 1, 2
)
SELECT r.path, r.json_type, r.n,
       CASE WHEN tot.n_rows > 0
            THEN floor(1e6 * r.n / tot.n_rows)::BIGINT END AS present_e6
FROM (SELECT * FROM root UNION ALL SELECT * FROM keys) r, tot
"""

# c4_filter: all-integer rule arithmetic replayed verbatim; toks/stopword
# conventions shared with text_quality_documents (_DOC_TOKS).
ORACLE_SQL["c4_filter_documents"] = f"""
WITH t AS (SELECT doc_id, text, {_DOC_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id,
    len(toks)::BIGINT AS n,
    list_sum(list_transform(toks, x -> length(x)))::BIGINT AS s,
    len(list_distinct(toks))::BIGINT AS n_distinct,
    len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x)))::BIGINT AS n_stop,
    length(text)::BIGINT AS chars,
    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::BIGINT AS n_punct
  FROM t
),
v AS (
  SELECT doc_id, n,
    CASE
      WHEN n < 40 THEN 'too_few_tokens'
      WHEN n > 100000 THEN 'too_many_tokens'
      WHEN s < 3 * n THEN 'mean_token_len_low'
      WHEN s > 10 * n THEN 'mean_token_len_high'
      WHEN n_stop < 1 THEN 'low_stopword_count'
      WHEN 100 * n_punct > 10 * chars THEN 'high_punct_ratio'
      WHEN 100 * n_distinct < 30 * n THEN 'low_distinct_ratio'
    END AS fail_reason
  FROM m
)
SELECT doc_id, n AS n_tokens, fail_reason IS NULL AS keep, fail_reason FROM v
"""

# count_anomalies: replay the seeded half-day, the per-day counts, and the
# median/MAD outlier rule (quantile_cont == Spark exact percentile).
ORACLE_SQL["count_anomalies_events"] = """
WITH seeded AS (
  SELECT epoch_us(ts) // 86400000000 AS day, event_id
  FROM events
  WHERE (epoch_us(ts) // 86400000000) % 30 <> 7 OR event_id % 4 = 0
),
c AS (SELECT day, count(*)::BIGINT AS n FROM seeded GROUP BY 1),
med AS (SELECT quantile_cont(n, 0.5) AS m FROM c),
mad AS (SELECT quantile_cont(abs(n - med.m), 0.5) AS d FROM c, med),
s AS (SELECT med.m AS m, 1.4826::DOUBLE * mad.d AS sc FROM med, mad)
SELECT day, n AS n_rows,
       floor(((n - s.m) / s.sc) * 1e4)::BIGINT AS dev_e4
FROM c, s
WHERE abs(n - s.m) > 3.5::DOUBLE * s.sc
"""

ORACLE_SQL["simhash_apply_documents"] = f"""
WITH {_simhash_cte(16)}
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id IN (SELECT min(doc_id) FROM s GROUP BY simhash)
"""

# scd2: DuckDB's own lag/lead windows rebuild the compacted history — an
# independent second implementation of the SCD2 semantics.
ORACLE_SQL["scd2_events"] = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us, event_type,
         floor(value * 100)::BIGINT AS value_cents
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
l AS (
  SELECT *, row_number() OVER w AS rn,
         lag(event_type) OVER w AS p_t,
         lag(value_cents) OVER w AS p_v
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
),
k AS (
  SELECT * FROM l
  WHERE rn = 1 OR event_type IS DISTINCT FROM p_t
     OR value_cents IS DISTINCT FROM p_v
)
SELECT user_id, event_type, value_cents,
       t_us AS valid_from_us,
       lead(t_us) OVER w2 AS valid_to_us,
       lead(t_us) OVER w2 IS NULL AS is_current
FROM k WINDOW w2 AS (PARTITION BY user_id ORDER BY t_us, event_id)
"""


def _pagerank_sql(
    n_iter: int, damping_e6: int = 850_000, scale: int = 10**12,
    seed_pred: "str | None" = None,
) -> str:
    """Unrolled per-iteration CTEs replaying graph.pagerank's exact
    integer recurrence (DuckDB ``//`` == Spark ``div`` on non-negative
    BIGINTs; integer sums are order-independent, so the compare is
    bit-exact). ``seed_pred`` (a boolean SQL expression over ``v.v``)
    switches to the PERSONALIZED variant: teleport mass splits over the
    seed set only."""
    inv_e6 = 1_000_000 - damping_e6
    ctes = [
        """e AS (
  SELECT DISTINCT user_id % 50 AS s, (user_id * 7 + event_id) % 50 AS d
  FROM events
  WHERE user_id IS NOT NULL
    AND user_id % 50 <> (user_id * 7 + event_id) % 50
)""",
        "v AS (SELECT DISTINCT s AS v FROM e UNION SELECT DISTINCT d FROM e)",
        "outd AS (SELECT s, count(*)::BIGINT AS od FROM e GROUP BY s)",
    ]
    if seed_pred is None:
        ctes.append("nn AS (SELECT count(*)::BIGINT AS n FROM v)")
        r0_expr = f"({scale} // nn.n)::BIGINT"
        base_expr = f"((({scale} * {inv_e6}) // 1000000) // nn.n)::BIGINT"
    else:
        ctes.append(
            f"nn AS (SELECT count(*)::BIGINT AS n FROM v WHERE {seed_pred})"
        )
        r0_expr = (
            f"(CASE WHEN {seed_pred} THEN {scale} // nn.n ELSE 0 END)::BIGINT"
        )
        base_expr = (
            f"(CASE WHEN {seed_pred} THEN (({scale} * {inv_e6}) // 1000000)"
            f" // nn.n ELSE 0 END)::BIGINT"
        )
    ctes.append(f"r0 AS (SELECT v.v, {r0_expr} AS r FROM v CROSS JOIN nn)")
    for i in range(1, n_iter + 1):
        ctes.append(f"""r{i} AS (
  SELECT v.v,
         {base_expr}
           + coalesce(m.m, 0)::BIGINT AS r
  FROM v CROSS JOIN nn
  LEFT JOIN (
    SELECT e.d AS v,
           sum(((r{i - 1}.r * {damping_e6}) // 1000000) // outd.od)::BIGINT AS m
    FROM e JOIN r{i - 1} ON e.s = r{i - 1}.v JOIN outd ON e.s = outd.s
    GROUP BY e.d
  ) m ON v.v = m.v
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v AS vertex, r AS rank_scaled FROM r{n_iter}"
    )


ORACLE_SQL["pagerank_events"] = _pagerank_sql(5)
ORACLE_SQL["ppr_events"] = _pagerank_sql(5, seed_pred="v.v % 5 = 0")

# linear classifier: DuckDB re-hashes every token against the same literal
# weight vector and re-folds the integer margin.
ORACLE_SQL["linear_scores_documents"] = f"""
WITH t AS (
  SELECT doc_id, {_DOC_TOKS} AS toks FROM documents
),
s AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         coalesce(list_sum(list_transform(
           toks,
           x -> ([{", ".join(str(w) for w in _LINEAR_W_E6)}])
                 [({_md5_low32_sql("x")} % 512)::INT + 1]
         )), 0)::BIGINT AS margin_e6
  FROM t
)
SELECT doc_id, n_tokens, margin_e6, margin_e6 > 0 AS keep FROM s
"""


# semantic decontamination: DuckDB's native list_cosine_similarity is the
# independent evaluator (the embedding_near_dup convention).
ORACLE_SQL["semantic_decontaminate_embeddings"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ev AS (SELECT * FROM e WHERE vec_id % 23 = 0),
co AS (SELECT * FROM e WHERE vec_id % 23 <> 0),
p AS (
  SELECT co.vec_id, list_cosine_similarity(co.v, ev.v) AS s
  FROM co, ev WHERE list_cosine_similarity(co.v, ev.v) >= 0.35::DOUBLE
)
SELECT vec_id, count(*)::BIGINT AS n_hits,
       floor(max(s) * 1e4)::BIGINT AS max_sim_e4
FROM p GROUP BY vec_id
"""


# dup spans: DuckDB enumerates the same char positions and replays the
# corpus-wide gram-count rule with its own GROUP BY.
ORACLE_SQL["dup_spans_documents"] = f"""
WITH g AS (
  SELECT d.doc_id,
         {_md5_low32_sql("substr(d.text, t.i::INT, 20)")} AS gh
  FROM documents d, unnest(range(1, greatest(len(d.text) - 18, 1))) AS t(i)
),
c AS (SELECT gh, count(*) AS c FROM g GROUP BY gh)
SELECT g.doc_id, count(*)::BIGINT AS n_pos,
       coalesce(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END), 0)::BIGINT AS n_dup,
       ((coalesce(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END), 0) * 1000000)
        // count(*))::BIGINT AS dup_frac_e6
FROM g JOIN c USING (gh) GROUP BY g.doc_id
"""


# rollup stats: DuckDB's own GROUP BY ROLLUP + GROUPING() is the
# independent evaluator.
ORACLE_SQL["rollup_stats_events"] = """
SELECT event_type,
       epoch_us(ts) // 86400000000 AS day,
       count(*)::BIGINT AS n_rows,
       sum(floor(value * 100)::BIGINT)::BIGINT AS sum_cents,
       GROUPING(event_type)::BIGINT AS event_type_agg,
       GROUPING(epoch_us(ts) // 86400000000)::BIGINT AS day_agg
FROM events
GROUP BY ROLLUP (event_type, epoch_us(ts) // 86400000000)
"""

# spikes: the planting (4x on day % 11 == 3) and the rolling compare are
# replayed with DuckDB's own window implementation.
ORACLE_SQL["spikes_events"] = """
WITH planted AS (
  SELECT e.event_type, epoch_us(e.ts) // 86400000000 AS bucket
  FROM events e,
       unnest(range(CASE WHEN (epoch_us(e.ts) // 86400000000) % 11 = 3
                         THEN 4 ELSE 1 END)) AS t(r)
),
c AS (
  SELECT event_type, bucket, count(*)::BIGINT AS n_rows
  FROM planted GROUP BY 1, 2
),
w AS (
  SELECT *,
         count(*) OVER win::BIGINT AS base_n,
         coalesce(sum(n_rows) OVER win, 0)::BIGINT AS base_sum
  FROM c
  WINDOW win AS (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, bucket, n_rows, base_n, base_sum,
       base_n >= 3 AND n_rows * base_n * 1000000 > 2000000 * base_sum AS spike
FROM w
"""


_FOLD_SS = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform({v}, x -> x * x)), (a, b) -> a + b)"
)
_FOLD_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i])), "
    "(a, b) -> a + b)"
)

# centroid outliers: the oracle replays the EXACT Spark fold order
# ((ssv - 2*dot) + ssc), so the e6-quantized distance is bit-identical.
ORACLE_SQL["embedding_outliers"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cid,
         v AS cvec
  FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
),
d AS (
  SELECT e.vec_id, c.cid,
         (({_FOLD_SS.format(v="e.v")})
          - 2.0::DOUBLE * ({_FOLD_DOT.format(a="e.v", b="c.cvec")}))
         + ({_FOLD_SS.format(v="c.cvec")}) AS d2
  FROM e CROSS JOIN cents c
),
r AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
  FROM d
)
SELECT vec_id, cid, floor(d2 * 1e6)::BIGINT AS dist2_e6,
       floor(d2 * 1e6)::BIGINT > 1750000 AS outlier
FROM r WHERE rk = 1
"""

# hard negatives: the ann_topk oracle shape + the null-safe label exclusion.
ORACLE_SQL["hard_negatives_embeddings"] = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS ql, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, e.v) AS sim
  FROM q, e
  WHERE e.vec_id != q.query_id AND e.label IS DISTINCT FROM q.ql
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(floor(sim * 1e4) AS BIGINT) AS sim_e4
FROM ranked WHERE rk <= 3
"""


# color histograms: the two-tone fixture makes every histogram cell a
# closed-form function of the row id (c1 and c1+100 never share a 64-wide
# bin; halves are exactly w*h/2 pixels — w is a multiple of 4).
ORACLE_SQL["color_hist_images"] = f"""
WITH cls AS (
  SELECT i, printf('fi_%08d', i) AS iid,
    8 + 4 * (i % 5) AS w, 6 + i % 7 AS h,
    (i * 37 + 11) % 128 AS c1
  FROM (SELECT unnest(range({_FEAT_IMG_N})) AS i)
  WHERE i % 25 <> 24
),
cells AS (
  SELECT iid, ch.ch AS channel, b.bin AS bin, (w * h // 2)::BIGINT AS n_px
  FROM cls,
       (SELECT unnest([0, 1, 2]) AS ch) ch,
       LATERAL (SELECT unnest([c1 // 64, (c1 + 100) // 64]) AS bin) b
)
SELECT iid AS image_id, channel::INT AS channel, bin::INT AS bin, n_px
FROM cells
"""


ORACLE_SQL["transitions_events"] = """
WITH seq AS (
  SELECT user_id, event_type AS state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_state
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
c AS (
  SELECT state, next_state, count(*)::BIGINT AS n
  FROM seq WHERE next_state IS NOT NULL GROUP BY 1, 2
),
t AS (SELECT state, sum(n) AS tot FROM c GROUP BY 1)
SELECT c.state, c.next_state, c.n,
       ((c.n * 1000000) // t.tot)::BIGINT AS p_e6
FROM c JOIN t USING (state)
"""

ORACLE_SQL["interval_join_events"] = """
WITH l AS (
  SELECT event_type, event_id AS l_id, ts AS l_s,
         ts + to_minutes(1 + event_id % 5) AS l_e
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
r AS (
  SELECT event_type, event_id AS r_id, ts AS r_s,
         ts + to_minutes(1 + user_id % 3) AS r_e
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_id % 17 = 0
)
SELECT l.event_type, l.l_id, r.r_id
FROM l JOIN r ON l.event_type = r.event_type
             AND l.l_s < r.r_e AND r.r_s < l.l_e
"""

ORACLE_SQL["dim_profile_embeddings"] = """
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT t.i - 1 AS dim, v[t.i] AS x,
         floor(v[t.i] * 1000000000.0::DOUBLE)::BIGINT AS xq,
         floor(v[t.i] * v[t.i] * 1000000000.0::DOUBLE)::BIGINT AS x2q
  FROM e, unnest(generate_series(1, len(v))) AS t(i)
)
SELECT dim::BIGINT AS dim, count(*)::BIGINT AS n,
       sum(CASE WHEN xq = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
       sum(xq)::BIGINT AS sum_q, sum(x2q)::BIGINT AS sum_sq_q,
       min(xq)::BIGINT AS min_q, max(xq)::BIGINT AS max_q,
       min(xq) = max(xq) AS dead
FROM x GROUP BY dim
"""

# image-embed top-k: rebuild the closed-form pooled vectors from row ids
# and replay the exact cosine fold order (dot/(sqrt(ssa)*sqrt(ssb))).
ORACLE_SQL["image_embed_topk_images"] = f"""
WITH cls AS (
  SELECT i, printf('fi_%08d', i) AS iid,
    (i * 37 + 11) % 128 AS c1, (i % 2 = 1) AS swapped
  FROM (SELECT unnest(range({_FEAT_IMG_N})) AS i)
  WHERE i % 25 <> 24
),
v AS (
  SELECT iid,
    list_transform(generate_series(0, 15), j ->
      CASE WHEN (j % 4) < 2
           THEN (CASE WHEN swapped THEN c1 + 100 ELSE c1 END)
           ELSE (CASE WHEN swapped THEN c1 ELSE c1 + 100 END)
      END::DOUBLE) AS emb
  FROM cls
),
q AS (SELECT iid AS query_id, emb AS qv FROM v WHERE iid < 'fi_00000005'),
scored AS (
  SELECT q.query_id, v.iid AS neighbor_id,
         ({{dot}}) / (sqrt({{ssa}}) * sqrt({{ssb}})) AS sim
  FROM q, v WHERE v.iid != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, floor(sim * 1e4)::BIGINT AS sim_e4
FROM ranked WHERE rk <= 3
""".format(
    dot=_FOLD_DOT.format(a="q.qv", b="v.emb"),
    ssa=_FOLD_SS.format(v="q.qv"),
    ssb=_FOLD_SS.format(v="v.emb"),
)


ORACLE_SQL["tfidf_documents"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DOC_TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
nn AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         (tf.tf * ((nn.n * 1000000) // dfreq.df))::BIGINT AS score_e6
  FROM tf JOIN dfreq USING (term) CROSS JOIN nn
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score_e6 DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, score_e6, rank::BIGINT AS rank
FROM ranked WHERE rank <= 3
"""


# VAD: the square-wave fixture makes every frame RMS exact — the oracle is
# pure residue arithmetic (rms_e6 = amp*15625 // 512, 1e6/2^15 reduced).
ORACLE_SQL["vad_segments_clips"] = f"""
WITH cls AS (
  SELECT i, printf('au_%08d', i) AS cid,
         1000 + (i * 97) % 3000 AS n,
         1000 + (i * 37) % 20000 AS amp
  FROM (SELECT unnest(range({_AUDIO_N})) AS i)
  WHERE i % 25 <> 24
),
d AS (
  SELECT cid, (n + 255) // 256 AS n_w,
         (amp * 15625) // 512 AS rms_e6
  FROM cls
)
SELECT cid AS clip_id, n_w::BIGINT AS n_windows,
       (CASE WHEN rms_e6 >= 200000 THEN n_w ELSE 0 END)::BIGINT AS n_active,
       (CASE WHEN rms_e6 >= 200000 THEN 1 ELSE 0 END)::BIGINT AS n_segments,
       (CASE WHEN rms_e6 >= 200000 THEN n_w ELSE 0 END)::BIGINT AS longest_run,
       rms_e6::BIGINT AS rms_max_e6
FROM d
"""


ORACLE_SQL["winsorize_lineitem"] = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         floor(l_extendedprice * 100)::BIGINT AS v
  FROM lineitem
),
thr AS (
  SELECT quantile_cont(v, 0.01) AS plo, quantile_cont(v, 0.99) AS phi
  FROM base
)
SELECT b.l_orderkey, b.l_linenumber, b.v,
       floor(least(greatest(b.v::DOUBLE, t.plo), t.phi) * 1e4)::BIGINT
         AS clamped_e4,
       b.v < t.plo AS clipped_lo,
       b.v > t.phi AS clipped_hi
FROM base b CROSS JOIN thr t
"""


ORACLE_SQL["snm_documents"] = """
WITH base AS (
  SELECT doc_id AS rid, lower(substr(text, 1, 16)) AS rkey,
         lower(substr(text, 1, 16)) || chr(31)
           || lpad(doc_id::VARCHAR, 20, '0') AS sk
  FROM documents
),
r AS (SELECT *, row_number() OVER (ORDER BY sk) AS pos FROM base),
p AS (
  SELECT r.rid AS id_a, r.rkey AS key_a, r.pos + o.o AS pb
  FROM r, unnest(range(1, 4)) AS o(o)
)
SELECT p.id_a, p.key_a, b.rid AS id_b, b.rkey AS key_b,
       levenshtein(p.key_a, b.rkey)::INT AS dist
FROM p JOIN r b ON b.pos = p.pb
"""

# image embedding near-dup: closed-form pooled vectors from row ids;
# DuckDB's native cosine is the independent evaluator (the
# embedding_near_dup convention).
ORACLE_SQL["image_embed_near_dup_images"] = f"""
WITH cls AS (
  SELECT i, printf('fi_%08d', i) AS iid,
    (i * 37 + 11) % 128 AS c1, (i % 2 = 1) AS swapped
  FROM (SELECT unnest(range({{n}})) AS i)
  WHERE i % 25 <> 24
),
v AS (
  SELECT iid,
    list_transform(generate_series(0, 15), j ->
      CASE WHEN (j % 4) < 2
           THEN (CASE WHEN swapped THEN c1 + 100 ELSE c1 END)
           ELSE (CASE WHEN swapped THEN c1 ELSE c1 + 100 END)
      END::DOUBLE) AS emb
  FROM cls
)
SELECT a.iid AS id_a, b.iid AS id_b,
       floor(list_cosine_similarity(a.emb, b.emb) * 1e4)::BIGINT AS sim_e4
FROM v a JOIN v b ON a.iid < b.iid
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.95::DOUBLE
""".format(n=_FEAT_IMG_N)


# EWMA: recursive CTE replays the sequential fold — alpha = 1/4 is exact
# in binary, so ewma' = ewma + (n - ewma) * 0.25 is bit-identical.
ORACLE_SQL["ewma_events"] = """
WITH RECURSIVE planted AS (
  SELECT e.event_type, epoch_us(e.ts) // 86400000000 AS bucket
  FROM events e,
       unnest(range(CASE WHEN (epoch_us(e.ts) // 86400000000) % 11 = 3
                         THEN 4 ELSE 1 END)) AS t(r)
),
c AS (
  SELECT event_type, bucket, count(*)::BIGINT AS n_rows
  FROM planted GROUP BY 1, 2
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY bucket) AS rn
  FROM c
),
r AS (
  SELECT event_type, rn, bucket, n_rows,
         n_rows::DOUBLE AS pre, n_rows::DOUBLE AS post
  FROM w WHERE rn = 1
  UNION ALL
  SELECT w.event_type, w.rn, w.bucket, w.n_rows,
         r.post AS pre,
         r.post + (w.n_rows::DOUBLE - r.post) * 0.25::DOUBLE AS post
  FROM r JOIN w ON w.event_type = r.event_type AND w.rn = r.rn + 1
)
SELECT event_type, bucket, n_rows,
       floor(pre * 1e6)::BIGINT AS ewma_e6,
       (rn >= 4) AND (n_rows * 1000000 > floor(pre * 2000000.0::DOUBLE)::BIGINT)
         AS spike
FROM r
"""

# prototypes: DuckDB's // floors while Spark's div truncates — reconstruct
# truncation via (sum_q - sum_q % n) // n (both engines' % truncates).
ORACLE_SQL["prototypes_embeddings"] = """
WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT label, t.i - 1 AS dim,
         floor(v[t.i] * 1000000000.0::DOUBLE)::BIGINT AS xq
  FROM e, unnest(generate_series(1, len(v))) AS t(i)
),
a AS (
  SELECT label, dim::BIGINT AS dim, count(*)::BIGINT AS n,
         sum(xq)::BIGINT AS sum_q
  FROM x GROUP BY 1, 2
)
SELECT label, dim, n, sum_q,
       ((sum_q - (sum_q % n)) // n)::BIGINT AS mean_q
FROM a
"""

# Laplacian sharpness: interior lattice (h-2)x(w-2); the vertical tone
# boundary contributes +-3*(c2-c1) = +-300 (gray3 units) in its two
# adjacent interior columns, everything else is flat — lap_sum = 0,
# lap_sumsq = 2*(h-2)*90000; var replays image_sharpness's single
# integer expression (n*q - s*s >= 0, so // == truncation in any engine)
ORACLE_SQL["blur_scores_images"] = f"""
WITH {_FEAT_IMG_CLS},
m AS (
  SELECT iid, (h - 2) * (w - 2) AS n, 0 AS s, 180000 * (h - 2) AS q
  FROM cls WHERE NOT corrupt
)
SELECT iid AS image_id, n::BIGINT AS n_interior, s::BIGINT AS lap_sum,
       q::BIGINT AS lap_sumsq,
       ((1000000 * (n * q - s * s)) // (n * n))::BIGINT AS lap_var_e6
FROM m
"""

# OLS slope: nested-floor identity floor(floor(x)/n) = floor(x/n) makes
# epoch_us // 86400e6 == Spark's floor(unix_timestamp/86400); x re-based
# per group so every sum stays in int64; truncating division replayed as
# (a - a % b) // b (DuckDB % truncates like Spark div)
ORACLE_SQL["trend_events"] = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS bucket,
         count(*)::BIGINT AS y
  FROM events GROUP BY 1, 2
),
xy AS (
  SELECT event_type,
         bucket - min(bucket) OVER (PARTITION BY event_type) AS x, y
  FROM c
),
a AS (
  SELECT event_type, count(*)::BIGINT AS n_buckets,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS total_rows,
         sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
  FROM xy GROUP BY 1
),
b AS (
  SELECT event_type, n_buckets, total_rows,
         (n_buckets * sxy - sx * total_rows)::BIGINT AS num,
         (n_buckets * sxx - sx * sx)::BIGINT AS den
  FROM a
)
SELECT event_type, n_buckets, total_rows, num, den,
       CASE WHEN den > 0 THEN
         ((num * 1000000 - ((num * 1000000) % den)) // den)::BIGINT
       END AS slope_e6
FROM b
"""


def _distinctness_cte(col: str) -> str:
    return f"""
  SELECT '{col}' AS "column", n_nonnull, n_distinct, n_unique,
    CASE WHEN n_nonnull > 0
         THEN (n_distinct * 1000000) // n_nonnull END::BIGINT
      AS distinctness_e6,
    CASE WHEN n_distinct > 0
         THEN (n_unique * 1000000) // n_distinct END::BIGINT
      AS unique_ratio_e6,
    CASE WHEN n_nonnull > 0
         THEN (n_unique * 1000000) // n_nonnull END::BIGINT
      AS uniqueness_e6
  FROM (
    SELECT coalesce(sum(cnt), 0)::BIGINT AS n_nonnull,
           count(*)::BIGINT AS n_distinct,
           coalesce(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_unique
    FROM (SELECT {col} AS v, count(*) AS cnt FROM lineitem
          WHERE {col} IS NOT NULL GROUP BY 1)
  )"""


ORACLE_SQL["distinctness_lineitem"] = (
    _distinctness_cte("l_returnflag")
    + "\nUNION ALL\n"
    + _distinctness_cte("l_partkey")
    + "\nUNION ALL\n"
    + _distinctness_cte("l_quantity")
)

# Gini over the grouped (value, frequency) form — rank blocks of equal
# counts contribute v*(f*start + f(f+1)/2) regardless of tie order
ORACLE_SQL["gini_events"] = """
WITH x AS (SELECT user_id, count(*)::BIGINT AS v FROM events GROUP BY 1),
vf AS (SELECT v, count(*)::BIGINT AS f FROM x GROUP BY 1),
b AS (
  SELECT v, f, sum(f) OVER (ORDER BY v) - f AS start,
         (f * (f + 1)) // 2 AS half
  FROM vf
),
a AS (
  SELECT sum(f)::BIGINT AS n_keys, sum(v * f)::BIGINT AS total_rows,
         sum(v * (f * start + half))::BIGINT AS s1
  FROM b
)
SELECT n_keys, total_rows,
  CASE WHEN n_keys * total_rows > 0 THEN
    ((2 * s1 - (n_keys + 1) * total_rows) * 1000000)
      // (n_keys * total_rows) END::BIGINT AS gini_e6
FROM a
"""

# bigram LM: c(w1,w2)/c(w1-as-prefix); per-position p_e6 is exact integer
# floor division, so sums and the final avg agree bit-for-bit
ORACLE_SQL["lm_score_documents"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
p AS (
  SELECT doc_id, toks[j] AS l, toks[j + 1] AS r
  FROM (
    SELECT doc_id, toks, unnest(range(1, len(toks))) AS j
    FROM t WHERE len(toks) >= 2
  )
),
dp AS (
  SELECT doc_id, l, r, count(*)::BIGINT AS k FROM p GROUP BY 1, 2, 3
),
bg AS (SELECT l, r, sum(k)::BIGINT AS c_bg FROM dp GROUP BY 1, 2),
un AS (SELECT l, sum(c_bg)::BIGINT AS c_uni FROM bg GROUP BY 1),
s AS (
  SELECT dp.doc_id, dp.k, (bg.c_bg * 1000000) // un.c_uni AS p_e6
  FROM dp JOIN bg ON dp.l = bg.l AND dp.r = bg.r
          JOIN un ON dp.l = un.l
),
o AS (
  SELECT doc_id, sum(k)::BIGINT AS n_bigrams,
         sum(k * p_e6)::BIGINT AS sum_p_e6
  FROM s GROUP BY 1
)
SELECT doc_id, n_bigrams, sum_p_e6,
       (sum_p_e6 // n_bigrams)::BIGINT AS avg_p_e6
FROM o
"""

# hopping windows: event at hop-bucket h lands in window starts h-2..h;
# nested-floor identity keeps the epoch bucket exact (cf. trend_events)
ORACLE_SQL["hopping_events"] = """
WITH b AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS h,
         floor(value * 100)::BIGINT AS v
  FROM events
),
x AS (
  SELECT event_type, unnest(range(h - 2, h + 1)) AS w, v FROM b
)
SELECT event_type, (w * 86400)::BIGINT AS window_start,
       count(*)::BIGINT AS n_rows, sum(v)::BIGINT AS sum_v
FROM x GROUP BY 1, 2
"""

# group-integrity split: same md5-low32 bucket as split_documents, keyed
# by user_id; leakage is structurally 0 (pure function of the key) but
# the oracle REPLAYS the count rather than asserting it
ORACLE_SQL["group_split_events"] = """
WITH a AS (
  SELECT user_id,
    CASE WHEN b < 800000 THEN 'train'
         WHEN b < 900000 THEN 'val'
         ELSE 'test' END AS split
  FROM (
    SELECT user_id,
      ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':42'), 1, 8))::BIGINT
        % 1000000 AS b
    FROM events
  )
),
pg AS (
  SELECT user_id, split, count(*)::BIGINT AS n_rows FROM a GROUP BY 1, 2
),
lk AS (
  SELECT coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)::BIGINT
           AS leaked_groups
  FROM (SELECT user_id, count(DISTINCT split) AS ns FROM pg GROUP BY 1)
)
SELECT split, sum(n_rows)::BIGINT AS n_rows, count(*)::BIGINT AS n_groups,
       (SELECT leaked_groups FROM lk) AS leaked_groups
FROM pg GROUP BY split
"""

# quality-aware dedup survivor: simhash group membership (the proven
# bit-vote CTE) + len(text) score; argmax replayed as max-join-min —
# the same two-aggregate shape the Spark side runs
ORACLE_SQL["best_keeper_documents"] = f"""
WITH {_simhash_cte(16)},
sc AS (
  SELECT s.simhash, s.doc_id, len(d.text)::BIGINT AS score
  FROM s JOIN documents d USING (doc_id)
),
ag AS (
  SELECT simhash, max(score) AS best_score, count(*)::BIGINT AS n_members
  FROM sc GROUP BY 1
)
SELECT a.simhash, min(x.doc_id) AS best_id, a.best_score, a.n_members
FROM ag a JOIN sc x ON x.simhash = a.simhash AND x.score = a.best_score
GROUP BY a.simhash, a.best_score, a.n_members
"""

# Zipf fit: floor-log2 via length(bin(v))-1 in both engines; exact BIGINT
# OLS moments; the single float division replays Spark's
# floor((1e6 * cov) / var) operation order
ORACLE_SQL["zipf_documents"] = f"""
WITH toks AS (
  SELECT lang AS grp, unnest({_DOC_TOKS}) AS token FROM documents
),
tf AS (
  SELECT grp, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
  HAVING count(*) >= 2
),
ranked AS (
  SELECT grp,
    (length(bin((row_number() OVER (
        PARTITION BY grp ORDER BY tf DESC, token))::BIGINT)) - 1)::BIGINT
      AS x,
    (length(bin(tf)) - 1)::BIGINT AS y
  FROM tf
),
ag AS (
  SELECT grp, count(*)::BIGINT AS n_terms, sum(x)::BIGINT AS sx,
         sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
         sum(x * x)::BIGINT AS sxx
  FROM ranked GROUP BY 1
)
SELECT grp AS lang, n_terms, sx, sy, sxy, sxx,
  CASE WHEN n_terms * sxx - sx * sx > 0 THEN
    floor((1000000.0::DOUBLE * (n_terms * sxy - sx * sy)::DOUBLE)
          / ((n_terms * sxx - sx * sx)::DOUBLE))::BIGINT
  END AS slope_e6
FROM ag
"""

# image-caption alignment: BOTH towers rebuilt closed-form — the
# pooled-pixel embedding from the row id (image_embed_topk's cls/v CTEs)
# and the hashed bag-of-words caption vector from the same md5 picks the
# Spark query synthesizes; cosine replays the ascending-index folds
_ALIGN_VOCAB_SQL = "[" + ", ".join(f"'{w}'" for w in _ALIGN_VOCAB) + "]"
ORACLE_SQL["caption_alignment_images"] = f"""
WITH cls AS (
  SELECT i, printf('fi_%08d', i) AS iid,
    (i * 37 + 11) % 128 AS c1, (i % 2 = 1) AS swapped
  FROM (SELECT unnest(range({{n}})) AS i)
  WHERE i % 25 <> 24
),
v AS (
  SELECT iid,
    list_transform(generate_series(0, 15), j ->
      CASE WHEN (j % 4) < 2
           THEN (CASE WHEN swapped THEN c1 + 100 ELSE c1 END)
           ELSE (CASE WHEN swapped THEN c1 ELSE c1 + 100 END)
      END::DOUBLE) AS emb
  FROM cls
),
caps AS (
  SELECT iid,
    list_transform(
      generate_series(1, ({{md5_iid}} % 6 + 3)),
      i -> {_ALIGN_VOCAB_SQL}[
        (1 + ({{md5_word}} % 16))::INTEGER]
    ) AS words
  FROM cls
),
cv AS (
  SELECT iid, len(words)::BIGINT AS n_tokens,
    list_transform(generate_series(0, 15), j ->
      len(list_filter(words, w -> {{md5_w}} % 16 = j))::DOUBLE) AS cvec
  FROM caps
)
SELECT v.iid AS image_id, cv.n_tokens,
  floor(({{dot}}) / (sqrt({{ssa}}) * sqrt({{ssb}})) * 1e4)::BIGINT
    AS align_e4
FROM v JOIN cv ON v.iid = cv.iid
""".format(
    n=_FEAT_IMG_N,
    md5_iid=_md5_low32_sql("iid"),
    md5_word=_md5_low32_sql("iid || ':' || i::VARCHAR"),
    md5_w=_md5_low32_sql("w"),
    dot=_FOLD_DOT.format(a="v.emb", b="cv.cvec"),
    ssa=_FOLD_SS.format(v="v.emb"),
    ssb=_FOLD_SS.format(v="cv.cvec"),
)


def _minhash_estimate_sql(
    k: int, num_hashes: int, bands: int, seed: int, est_threshold: float
) -> str:
    """Signature-only MinHash estimate oracle: rebuilds the same
    permutation signatures as ``_minhash_lsh_ctes`` but (a) banding via
    concat_ws — which SKIPS NULL components in BOTH engines, mirroring
    Spark's concat_ws so all-NULL (shingle-less) signatures still land in
    the md5('') bucket — and (b) scoring by null-safe component agreement
    (IS NOT DISTINCT FROM == Spark eqNullSafe) instead of an exact
    shingle-Jaccard verify. The threshold compare is the same exact
    integer cross-multiply as the Spark side (no float boundary)."""
    params = dedup._hash_params(num_hashes, seed)
    r = num_hashes // bands
    sig_terms = ",\n    ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {dedup.HASH_PRIME}))"
        for a, b in params
    )
    band_selects = []
    for i in range(bands):
        parts = ", ".join(f"sg[{i * r + j + 1}]::VARCHAR" for j in range(r))
        band_selects.append(
            f"SELECT doc_id, {i} AS band, md5(concat_ws(',', {parts})) AS bucket FROM sig"
        )
    banded = "\n  UNION ALL ".join(band_selects)
    thr_e6 = int(round(est_threshold * 1_000_000))
    return f"""WITH {_shingle_cte(k)},
hv AS (SELECT doc_id, list_transform(shingles, s -> {_md5_low32_sql('s')}) AS hs FROM sh),
sig AS (SELECT doc_id, [
    {sig_terms}
  ] AS sg FROM hv),
banded AS (
  {banded}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
),
scored AS (
  SELECT c.id_a, c.id_b,
    len(list_filter(range(1, {num_hashes + 1}),
        i -> sa.sg[i] IS NOT DISTINCT FROM sb.sg[i]))::BIGINT AS n_agree
  FROM cands c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, n_agree,
       (n_agree * 1000000 // {num_hashes})::BIGINT AS est_e6
FROM scored
WHERE n_agree * 1000000 >= {thr_e6} * {num_hashes}
"""


ORACLE_SQL["minhash_estimate_documents"] = _minhash_estimate_sql(
    k=5, num_hashes=32, bands=16, seed=42, est_threshold=0.1
)

# dHash over the two-tone feature fixtures is closed-form by construction:
# w ∈ {8,12,16,20,24} is always divisible by 4, so each grid=4 pooled cell
# lies entirely inside one tone half — unswapped rows pool to
# [lo, lo, hi, hi] (the single lo→hi step sits at column pair c=1, every
# row), swapped rows to [hi, hi, lo, lo] (monotone non-increasing, no bit).
# Row-major LSB-first gradient bits → unswapped dhash =
# Σ_{r=0..3} 2^(3r+1) = 2 + 16 + 128 + 1024 = 1170; swapped = 0.
# (Verified exhaustively over all 70 (w, h, swap) fixture classes.)
ORACLE_SQL["dhash_images"] = f"""
WITH {_FEAT_IMG_CLS}
SELECT iid AS image_id,
  CASE WHEN swapped THEN 0 ELSE 1170 END::BIGINT AS dhash
FROM cls WHERE NOT corrupt
"""

# stream-stream interval join: the oracle is DuckDB's OWN inequality join
# over the same filtered sides — independent semantics, not a replay.
# delay/bounds are epoch-micros differences (constant-tz-shift invariant).
ORACLE_SQL["stream_join_events"] = """
WITH v AS (
  SELECT event_id AS view_id, user_id, ts
  FROM events
  WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
),
c AS (
  SELECT event_id AS click_id, user_id, ts
  FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT v.user_id, v.view_id, c.click_id,
       (epoch_us(c.ts) - epoch_us(v.ts))::BIGINT AS delay_us
FROM v JOIN c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 4 HOUR
"""

# encoding QA: planted artifacts replayed with NULL-propagating ||; marker
# counts are the same exact length arithmetic (len diff // marker len);
# the C0 class regex is RE2/Java-portable and needs the 'g' flag in DuckDB
ORACLE_SQL["encoding_documents"] = """
WITH p AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0 THEN ' cafÃ©' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' â€™' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' x�y' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END AS t
  FROM documents
),
m AS (
  SELECT doc_id,
    (len(t) - len(replace(t, '�', '')))::BIGINT AS n_replacement,
    ( (len(t) - len(replace(t, 'Ã', '')))
      + (len(t) - len(replace(t, 'â€', ''))) // 2
      + (len(t) - len(replace(t, 'Â', ''))) )::BIGINT AS n_mojibake,
    (len(t) - len(regexp_replace(t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]',
                                 '', 'g')))::BIGINT AS n_ctrl
  FROM p
)
SELECT doc_id, n_replacement, n_mojibake, n_ctrl,
       coalesce(n_replacement = 0 AND n_mojibake = 0 AND n_ctrl = 0,
                false) AS encoding_ok
FROM m
"""

# augmentation round trip: hflip swaps the two-tone halves, so the dhash
# class is exactly the unflipped fixture's opposite (see dhash_images)
ORACLE_SQL["aug_dhash_images"] = f"""
WITH {_FEAT_IMG_CLS}
SELECT iid AS image_id,
  CASE WHEN swapped THEN 1170 ELSE 0 END::BIGINT AS dhash
FROM cls WHERE NOT corrupt
"""

# per-epoch shuffle: oracle = DuckDB's OWN global row_number over the same
# salted md5 bucket — proves the two-phase distributed rank == a true
# global sort's rank
ORACLE_SQL["epoch_shuffle_documents"] = """
WITH b AS (
  SELECT doc_id,
    ('0x' || substr(md5(doc_id::VARCHAR || ':3:42'), 1, 8))::BIGINT
      AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       row_number() OVER (ORDER BY bucket, doc_id)::BIGINT AS pos
FROM b
"""

# mutual-kNN graph: DuckDB scores with its NATIVE cosine and ranks with
# its own window, then re-derives the direction count per canonical pair
ORACLE_SQL["knn_graph_embeddings"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 800),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.v, b.v) AS sim
  FROM e a, e b WHERE a.vec_id != b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM scored
),
nn AS (SELECT * FROM ranked WHERE rk <= 3)
SELECT least(query_id, neighbor_id) AS id_a,
       greatest(query_id, neighbor_id) AS id_b,
       CAST(floor(max(sim) * 1e4) AS BIGINT) AS sim_e4,
       count(*) = 2 AS mutual
FROM nn GROUP BY 1, 2
"""

# left-outer stream-stream interval join: DuckDB's OWN LEFT JOIN with the
# same interval condition; unmatched views carry NULL click columns
ORACLE_SQL["stream_left_join_events"] = """
WITH v AS (
  SELECT event_id AS view_id, user_id, ts
  FROM events
  WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
),
c AS (
  SELECT event_id AS click_id, user_id, ts
  FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT v.user_id, v.view_id, c.click_id,
       (epoch_us(c.ts) - epoch_us(v.ts))::BIGINT AS delay_us
FROM v LEFT JOIN c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 4 HOUR
"""

# cross-source duplication matrix: the proven mh_pairs CTE chain + DuckDB's
# own joins and group-by (canonical least/greatest source pair)
ORACLE_SQL["dup_matrix_documents"] = (
    "WITH "
    + _minhash_lsh_ctes(k=5, num_hashes=32, bands=16, seed=42, threshold=0.1)
    + """
SELECT least(a.source, b.source) AS group_a,
       greatest(a.source, b.source) AS group_b,
       count(*)::BIGINT AS n_pairs
FROM mh_pairs p
JOIN documents a ON p.id_a = a.doc_id
JOIN documents b ON p.id_b = b.doc_id
GROUP BY 1, 2
"""
)


def _knn_graph_lsh_ctes(
    dim: int, k: int, num_planes: int, num_tables: int, seed: int,
    max_id: int,
) -> str:
    """WITH-body CTE chain ending in ``kg`` (id_a, id_b, sim_e4, mutual)
    — the LSH kNN graph; the label-propagation oracle builds on it."""
    tables = _lsh_tables_cte("e", "v", dim, num_planes, num_tables, seed)
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < {max_id}),
b AS (
  {tables}
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM b qb JOIN b cb USING (t, bucket)
  WHERE cb.vec_id != qb.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(eq.v, en.v) AS sim
  FROM cand c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e en ON en.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM scored
),
nn AS (SELECT * FROM ranked WHERE rk <= {k}),
kg AS (
  SELECT least(query_id, neighbor_id) AS id_a,
         greatest(query_id, neighbor_id) AS id_b,
         CAST(floor(max(sim) * 1e4) AS BIGINT) AS sim_e4,
         count(*) = 2 AS mutual
  FROM nn GROUP BY 1, 2
)"""


def _knn_graph_lsh_sql(
    dim: int, k: int, num_planes: int, num_tables: int, seed: int,
    max_id: int,
) -> str:
    """LSH-kNN-graph oracle: the proven bucket-replay CTEs with EVERY
    node as a query, DuckDB's own rank window, then the canonical-pair
    direction-count rollup (same as the exact graph's oracle)."""
    return (
        "WITH "
        + _knn_graph_lsh_ctes(dim, k, num_planes, num_tables, seed, max_id)
        + "\nSELECT id_a, id_b, sim_e4, mutual FROM kg\n"
    )


ORACLE_SQL["knn_graph_lsh_embeddings"] = _knn_graph_lsh_sql(
    dim=64, k=3, num_planes=6, num_tables=4, seed=42, max_id=800
)

# audio feature-fingerprint dedup: closed-form feature expressions feed the
# same md5; planted _dup ids share their source's fingerprint exactly
ORACLE_SQL["audio_fingerprint_clips"] = f"""
WITH cls AS (
  SELECT i, printf('au_%08d', i) AS cid,
    CASE i % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
    1000 + (i * 97) % 3000 AS n,
    1000 + (i * 37) % 20000 AS amp,
    (i % {_FX.FEATURE_CORRUPT_EVERY} = {_FX.FEATURE_CORRUPT_EVERY - 1}) AS corrupt
  FROM (SELECT unnest(range({_AUDIO_N})) AS i)
),
all_rows AS (
  SELECT i, cid FROM cls WHERE NOT corrupt
  UNION ALL
  SELECT i, cid || '_dup' FROM cls WHERE NOT corrupt AND i % 10 = 0
),
fp AS (
  SELECT a.cid,
    md5(c.sr::VARCHAR || ':' || c.n::VARCHAR || ':'
        || (floor(c.amp::DOUBLE / 32768 * 1e6)::BIGINT)::VARCHAR || ':'
        || (floor(((c.n - 1) // 2)::DOUBLE / (c.n - 1) * 1e6)::BIGINT)::VARCHAR
    ) AS fingerprint
  FROM all_rows a JOIN cls c USING (i)
)
SELECT fingerprint, min(cid) AS keeper_id, count(*)::BIGINT AS n_copies
FROM fp GROUP BY 1
"""


def _label_prop_sql(max_id: int, seed_mod: int, n_iter: int) -> str:
    """Label-propagation oracle: the kg CTE block + per-round unrolled
    vote (count per (dst, label)) / winner (row_number by n DESC, label
    ASC — the max(struct(n, -label)) total order) / merge (seeds clamped)
    CTEs, all DuckDB's own machinery."""
    parts = [
        "WITH " + _knn_graph_lsh_ctes(
            dim=64, k=3, num_planes=6, num_tables=4, seed=42, max_id=max_id
        ),
        f"""verts AS (SELECT vec_id AS v FROM embeddings WHERE vec_id < {max_id}),
sym AS (
  SELECT id_a AS s, id_b AS d FROM kg
  UNION
  SELECT id_b AS s, id_a AS d FROM kg
),
seeds AS (
  SELECT vec_id AS v, label::BIGINT AS seed_label FROM embeddings
  WHERE vec_id < {max_id} AND vec_id % {seed_mod} = 0
        AND label IS NOT NULL
),
s0 AS (
  SELECT verts.v, seeds.seed_label AS label
  FROM verts LEFT JOIN seeds USING (v)
)""",
    ]
    for r in range(1, n_iter + 1):
        parts.append(f"""v{r} AS (
  SELECT sym.d, s{r-1}.label, count(*) AS n
  FROM sym JOIN s{r-1} ON s{r-1}.v = sym.s
  WHERE s{r-1}.label IS NOT NULL
  GROUP BY 1, 2
),
w{r} AS (
  SELECT d, label FROM (
    SELECT d, label,
           row_number() OVER (PARTITION BY d ORDER BY n DESC, label ASC)
             AS rk
    FROM v{r}
  ) WHERE rk = 1
),
s{r} AS (
  SELECT verts.v, coalesce(seeds.seed_label, w{r}.label) AS label
  FROM verts
  LEFT JOIN seeds USING (v)
  LEFT JOIN w{r} ON w{r}.d = verts.v
)""")
    final = f"""SELECT verts.v AS vec_id, s{n_iter}.label,
       seeds.v IS NOT NULL AS is_seed
FROM verts
LEFT JOIN seeds USING (v)
LEFT JOIN s{n_iter} ON s{n_iter}.v = verts.v
"""
    return ",\n".join(parts) + "\n" + final


ORACLE_SQL["label_prop_embeddings"] = _label_prop_sql(
    max_id=800, seed_mod=5, n_iter=2
)


def _kcenter_sql(k: int) -> str:
    """Unrolled farthest-first rounds; distances replay the engine-exact
    ascending fold; picks are (mind DESC, vec_id ASC) LIMIT 1 — the
    max(struct(mind, -id)) total order."""
    def dist(row_v: str, row_n: str, c_v: str, c_n: str) -> str:
        d = _FOLD_DOT.format(a=row_v, b=c_v)
        return f"1.0::DOUBLE - ({d}) / ({row_n} * {c_n})"

    ss = _FOLD_SS.format(v="embedding::DOUBLE[]")
    parts = [f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, sqrt({ss}) AS n
  FROM embeddings WHERE embedding IS NOT NULL
),
c1 AS (SELECT v, n FROM e ORDER BY vec_id LIMIT 1),
m1 AS (
  SELECT e.vec_id, e.v, e.n,
         {dist("e.v", "e.n", "c1.v", "c1.n")} AS mind
  FROM e CROSS JOIN c1
),
p1 AS (SELECT vec_id, mind FROM m1 ORDER BY mind DESC, vec_id ASC LIMIT 1)"""]
    for j in range(2, k):
        parts.append(f"""c{j} AS (SELECT e.v, e.n FROM e JOIN p{j-1} USING (vec_id)),
m{j} AS (
  SELECT m{j-1}.vec_id, m{j-1}.v, m{j-1}.n,
         least(m{j-1}.mind,
               {dist(f"m{j-1}.v", f"m{j-1}.n", f"c{j}.v", f"c{j}.n")}) AS mind
  FROM m{j-1} CROSS JOIN c{j}
),
p{j} AS (SELECT vec_id, mind FROM m{j} ORDER BY mind DESC, vec_id ASC LIMIT 1)""")
    unions = [
        "SELECT 0::BIGINT AS pick_order, (SELECT min(vec_id) FROM e) AS center_id, NULL::BIGINT AS dist_e6"
    ]
    for j in range(1, k):
        unions.append(
            f"SELECT {j}::BIGINT, vec_id, floor(mind * 1e6)::BIGINT FROM p{j}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(unions)


ORACLE_SQL["kcenter_embeddings"] = _kcenter_sql(k=6)


# the mask-class CTE alone (the banding in _PHASH_IMG_CTES is the 16-bit
# phash's; the dHash gate re-bands its own 12-bit hash)
_PHASH_IMG_CLS_ONLY = f"""cls AS (
  SELECT printf('pi_%08d', i) AS iid,
    xor(xor(32768 + 2 * (((i // 3) * 2654435761) % 16384),
            CASE WHEN i % 3 >= 1 THEN 1 << (1 + (i // 3) % 14) ELSE 0 END),
        CASE WHEN i % 3 = 2 THEN 1 << (1 + ((i // 3) + 5) % 14) ELSE 0 END
    ) AS ph
  FROM (SELECT unnest(range({_PHASH_IMG_N})) AS i)
  WHERE i % {_FX.FEATURE_CORRUPT_EVERY} != {_FX.FEATURE_CORRUPT_EVERY - 1}
)"""

# dHash-banded near-dup: the mask arithmetic regenerates the decoded
# dHash population (gradient bit = LO cell left of a HI cell), then the
# 3-bit band join + popcount verify replays exactly
ORACLE_SQL["dhash_near_dup_images"] = f"""
WITH {_PHASH_IMG_CLS_ONLY},
dh AS (
  SELECT iid,
      ((CASE WHEN ((ph >> 0) & 1) = 0 AND ((ph >> 1) & 1) = 1 THEN 1 ELSE 0 END)
      + (CASE WHEN ((ph >> 1) & 1) = 0 AND ((ph >> 2) & 1) = 1 THEN 2 ELSE 0 END)
      + (CASE WHEN ((ph >> 2) & 1) = 0 AND ((ph >> 3) & 1) = 1 THEN 4 ELSE 0 END)
      + (CASE WHEN ((ph >> 4) & 1) = 0 AND ((ph >> 5) & 1) = 1 THEN 8 ELSE 0 END)
      + (CASE WHEN ((ph >> 5) & 1) = 0 AND ((ph >> 6) & 1) = 1 THEN 16 ELSE 0 END)
      + (CASE WHEN ((ph >> 6) & 1) = 0 AND ((ph >> 7) & 1) = 1 THEN 32 ELSE 0 END)
      + (CASE WHEN ((ph >> 8) & 1) = 0 AND ((ph >> 9) & 1) = 1 THEN 64 ELSE 0 END)
      + (CASE WHEN ((ph >> 9) & 1) = 0 AND ((ph >> 10) & 1) = 1 THEN 128 ELSE 0 END)
      + (CASE WHEN ((ph >> 10) & 1) = 0 AND ((ph >> 11) & 1) = 1 THEN 256 ELSE 0 END)
      + (CASE WHEN ((ph >> 12) & 1) = 0 AND ((ph >> 13) & 1) = 1 THEN 512 ELSE 0 END)
      + (CASE WHEN ((ph >> 13) & 1) = 0 AND ((ph >> 14) & 1) = 1 THEN 1024 ELSE 0 END)
      + (CASE WHEN ((ph >> 14) & 1) = 0 AND ((ph >> 15) & 1) = 1 THEN 2048 ELSE 0 END)) AS d
  FROM cls
),
banded AS (
  SELECT iid, d, b, (d >> (b * 3)) & 7 AS key
  FROM dh, (VALUES (0), (1), (2), (3)) AS t(b)
),
cand AS (
  SELECT DISTINCT a.iid AS id_a, b.iid AS id_b, a.d AS da, b.d AS db
  FROM banded a
  JOIN banded b ON a.b = b.b AND a.key = b.key AND a.iid < b.iid
)
SELECT id_a, id_b, CAST(bit_count(xor(da, db)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(da, db)) <= 3
"""
