"""End-to-end validation pipeline for the image+caption table.

Combines the three rule families over one input:

1. metadata rules — compiled Catalyst predicates over (image_id, fmt, w, h,
   caption);
2. batch rules — Arrow pandas-UDF decode/dimension/format/PSNR/caption
   checks over ``bytes`` (see batch.py);
3. table rules — key uniqueness (the only shuffle besides the verdicts).

``validate_images`` checks each row once, as ndto's generated
``is_valid/1`` does: the check struct is projected once
(``runner._annotate``), and the metadata and check violations are built
beside it into one array, so one annotated scan reads ``bytes`` once. The
uniqueness rows join that result as table-level violations in
``runner._result_from_annotated``; their count is the second and last
scan. ``validate_images_metadata`` runs families 1 and 3 only: that branch
NEVER touches ``bytes``, so its parquet scan prunes the heavy column (check
`.explain` ReadSchema).

Output: the engine contract violations + per-partition verdicts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import table_rules
from .batch import _check_columns
from .compiler import cached
from .runner import (
    PARTITION_COL,
    RuleSet,
    ValidationResult,
    _annotate,
    _result_from_annotated,
    _violation,
)

IMAGE_METADATA_RULES = {
    "image_id": {"type": "string", "pattern": "^img_[0-9a-f]{16}$"},
    "fmt": {"enum": ["png", "jpeg"]},
    "w": {"type": "integer", "minimum": 1, "maximum": 16384},
    "h": {"type": "integer", "minimum": 1, "maximum": 16384},
    "caption": {"type": "string", "min_length": 1, "max_length": 256},
}


def validate_images_metadata(
    df: DataFrame, key: str = "image_id", check_uniqueness: bool = True
) -> DataFrame:
    """Metadata-half violations only: compiled Catalyst rules over
    (image_id, fmt, w, h, caption) plus key uniqueness — everything in the
    image pipeline that never touches ``bytes``. This half is fully
    SQL-expressible, so the driver gate checks it against an independent
    DuckDB oracle (the Arrow decode half stays rows-only; see
    queries.q_validate_images).

    Output: (key, column, schema_path, keyword, description).
    """
    annotated = _annotate(df, RuleSet(IMAGE_METADATA_RULES).violations_array(df))
    table = _uniqueness(df, key) if check_uniqueness else None
    return _result_from_annotated(annotated, key, table).violations.drop(PARTITION_COL)


def _uniqueness(df: DataFrame, key: str) -> DataFrame:
    """One table-level ``(key, v)`` row per duplicated non-null key."""
    dups = table_rules.uniqueness(df.filter(F.col(key).isNotNull()), key)
    return dups.select(
        F.col(key),
        _violation(
            key,
            "$.unique",
            "unique",
            F.format_string("Key appears %d times", F.col("n_dups")),
        ).alias("v"),
    )


def validate_images(
    df: DataFrame,
    seed: int = 42,
    key: str = "image_id",
    min_psnr: float = 40.0,
    check_uniqueness: bool = True,
    phash_partitions: int | None = None,
) -> ValidationResult:
    """Validate an image+caption table (see module docstring).

    Key uniqueness is table-level: its violations report under
    ``partition_id = -1``, and its verdict ``(-1, 0, k, false)`` exists
    only when k > 0 keys repeat.

    ``phash_partitions``: when set, the input is repartitionByRange'd on
    ``phash`` into that many range buckets before validation (the north
    rule's 'explicit repartitioning on phash ranges to bound skew').
    repartitionByRange samples the key distribution, so hot ranges split
    evenly; column pruning pushes through the exchange, so the uniqueness
    branch shuffles only the key while the annotated branch's ``bytes``
    shuffle is the price of a skew-balanced decode stage. Leave
    None when the input layout is already balanced (e.g. the bench's
    synthetic table) — checkpoint.run_resumable provides the same bounding
    via stored phash quantile buckets for resumable runs.
    """
    if phash_partitions is not None:
        df = df.repartitionByRange(phash_partitions, F.col("phash"))
    meta = RuleSet(IMAGE_METADATA_RULES).violations_array(df)
    # seed picks the references the UDF regenerates; min_psnr is folded
    # into the entries as a literal
    chk, checks = cached(
        ("image_batch_violations", seed, key, min_psnr),
        lambda: _check_columns(seed, key, min_psnr),
    )
    annotated = _annotate(df, F.concat(meta, checks), pre={"chk": chk})
    table = _uniqueness(df, key) if check_uniqueness else None
    return _result_from_annotated(annotated, key, table)


def pair_quality_filter(
    df: DataFrame,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    fmt_col: str = "fmt",
    caption_col: str = "caption",
    formats: tuple = ("png", "jpeg"),
    min_dim: int = 1,
    max_aspect: int = 4,
    caption_max_chars: int = 256,
    caption_max_tokens: int = 64,
) -> DataFrame:
    """Composed image+caption PAIR quality filter — the LAION-style first
    pass of a multimodal training pipeline (c4_filter's analog for the
    (image, caption) payload): keep/drop verdict + FIRST-fail reason per
    pair, from metadata only (bytes never read — column pruning keeps the
    scan narrow; decode-dependent checks live in validate_images).

    Rule priority (first match wins): missing_id, missing_caption,
    empty_caption, caption_too_long (chars), caption_too_many_tokens,
    bad_format, too_small (either dim < min_dim), extreme_aspect
    (either side > max_aspect × the other, integer cross-multiplied — no
    floats, so the verdict is engine-exact).

    Output (id, keep, fail_reason). Pure projection, zero shuffle, zero
    Python: the whole when-chain folds into scan-stage codegen at 100 TB.
    """
    from .dedup import tokens

    w = F.col(w_col).cast("bigint")
    h = F.col(h_col).cast("bigint")
    cap = F.col(caption_col)
    reason = (
        F.when(F.col(id_col).isNull(), F.lit("missing_id"))
        .when(cap.isNull(), F.lit("missing_caption"))
        .when(F.length(cap) == 0, F.lit("empty_caption"))
        .when(F.length(cap) > caption_max_chars, F.lit("caption_too_long"))
        .when(
            F.size(tokens(cap)) > caption_max_tokens,
            F.lit("caption_too_many_tokens"),
        )
        .when(~F.col(fmt_col).isin(*formats), F.lit("bad_format"))
        .when((w < min_dim) | (h < min_dim), F.lit("too_small"))
        .when(
            (w > F.lit(max_aspect) * h) | (h > F.lit(max_aspect) * w),
            F.lit("extreme_aspect"),
        )
    )
    return df.select(
        F.col(id_col),
        reason.isNull().alias("keep"),
        reason.alias("fail_reason"),
    )


def metadata_consistency(df: DataFrame) -> DataFrame:
    """Declared-vs-DECODED metadata cross-check — the trust-but-verify pass
    of an image ingest: actually decode every payload and compare what the
    bytes say against what the catalog claims. Output per image:

      (image_id, decode_ok, dims_match, fmt_match)

    decode_ok=False rows carry NULL matches (nothing to compare);
    dims_match compares decoded (w, h) to the declared columns; fmt_match
    compares the payload's magic-sniffed format to the declared one.
    Complements validate_images_metadata (which checks the declared values
    against RULES, not against the bytes). Runs on multimodal's payload
    kernel.
    """
    from . import codecs
    from .multimodal import _map_payloads

    def rows(got, err, w, h, fmt):
        if err is not None:
            return [(False, None, None)]
        dfmt, px = got
        dims = w is not None and h is not None and px.shape[:2] == (h, w)
        return [(True, dims, fmt is not None and dfmt == fmt)]

    return _map_payloads(
        df, "image_id",
        "decode_ok boolean, dims_match boolean, fmt_match boolean",
        codecs.decode, rows, extra_cols=("w", "h", "fmt"),
    )


def exposure_verdicts(
    features: DataFrame, lo: float = 80.0, hi: float = 150.0
) -> DataFrame:
    """Exposure outlier filter over DECODED features — the brightness
    first-pass of an image training pipeline (drop near-black / blown-out
    crawl artifacts before the expensive near-dup / embedding stages).

    Input is decode_image_features output (ok, mean_r/g/b); output per
    image: (image_id, luma_e4, exposure) where luma is the channel-mean
    luminance, quantized e4 (exact when the channel means are integral,
    as with the closed-form two-tone fixtures: (3x)/3.0 == x bit-exact),
    and exposure ∈ {'undecodable','under','over','ok'}.

    100 TB shape: pure projection over the feature frame — zero shuffle,
    whole-stage codegen; composes with decode_image_features' single
    Arrow exchange.
    """
    luma = (
        F.col("mean_r") + F.col("mean_g") + F.col("mean_b")
    ) / F.lit(3.0)
    verdict = (
        F.when(~F.col("ok"), F.lit("undecodable"))
        .when(luma < F.lit(float(lo)), F.lit("under"))
        .when(luma > F.lit(float(hi)), F.lit("over"))
        .otherwise(F.lit("ok"))
    )
    return features.select(
        "image_id",
        F.when(F.col("ok"), F.floor(luma * F.lit(1e4)).cast("bigint")).alias(
            "luma_e4"
        ),
        verdict.alias("exposure"),
    )


# SDXL-style training aspect buckets: (name, target w/h ratio), scanned in
# declaration order — ties go to the EARLIEST bucket (the when-chain below
# and the oracle's CASE both use <= against every later distance).
ASPECT_BUCKETS = (
    ("3:4", 0.75),
    ("1:1", 1.0),
    ("4:3", 4.0 / 3.0),
    ("2:1", 2.0),
    ("3:1", 3.0),
)


def aspect_buckets(
    features: DataFrame, buckets: tuple = ASPECT_BUCKETS
) -> DataFrame:
    """Aspect-ratio bucket assignment over DECODED dims — the resolution
    bucketing every multi-aspect image trainer does (group images whose
    w/h is nearest a small set of target ratios, so batches share a crop
    shape). Undecodable rows are dropped (no dims to bucket).

    Engine-exact determinism: w/h, the subtraction, and abs() are single
    IEEE-double ops on integer-valued inputs, so any engine computes
    bit-identical distances; the earliest-minimal scan order makes any
    exactly-equal distances resolve deterministically. (Rational-midpoint
    dims like 20x12 are NOT double ties: fl(5/3)-fl(4/3) > 2-fl(5/3).)

    100 TB shape: pure projection — zero shuffle; the downstream
    per-bucket repartition is the trainer's problem, not the tagger's.
    """
    ratio = F.col("w").cast("double") / F.col("h").cast("double")
    dists = [F.abs(ratio - F.lit(float(r))) for _, r in buckets]
    expr = F.lit(buckets[-1][0])
    for i in range(len(buckets) - 2, -1, -1):
        cond = dists[i] <= dists[i + 1]
        for j in range(i + 2, len(buckets)):
            cond = cond & (dists[i] <= dists[j])
        expr = F.when(cond, F.lit(buckets[i][0])).otherwise(expr)
    return features.filter(F.col("ok")).select(
        "image_id",
        F.col("w").cast("bigint").alias("w"),
        F.col("h").cast("bigint").alias("h"),
        expr.alias("bucket"),
    )
