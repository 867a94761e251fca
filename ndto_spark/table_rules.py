"""Table-level rules: the distributed-analytics extension.

The reference validates one value at a time and has no cross-row state
(SURVEY.md §2.5); the north rule adds per-column statistics, HLL
approx-distinct with treewise merge, key-uniqueness, referential-integrity
anti-joins, and distribution-drift (KS + PSI) checks. All built from Spark
built-ins — no Python in the hot path.

Plan shapes:
- ``column_stats`` is ONE full scan with partial (map-side) aggregation; the
  reduced state is a single row per column. No shuffle of row data.
- ``uniqueness`` relies on hash-aggregate partial combine, which already
  counts each key once per map task, so hot keys cost the shuffle one row
  per (task, key).
- ``referential_integrity`` broadcasts the reference side when told it is
  small (dimension tables) — no shuffle of the fact table.
- ``drift_metrics`` reduces each side to an ``nbins``-row histogram before
  any cross-side math: constant-size state per partition, merged treewise.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def column_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column null counts + min/max (north_star 'per-column statistics').

    Returns (column_name, n_rows, n_nulls, min_value, max_value) with the
    min/max cast to double (numeric columns only).
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.min(F.col(c).cast("double")).alias(f"{c}__min"),
            F.max(F.col(c).cast("double")).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(entries).alias("s")).select("s.*")


def column_quantiles(
    df: DataFrame,
    cols: Sequence[str],
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-column quantiles: (column_name, q, value).

    Default is ``approx_percentile`` (t-digest-style sketch, one scan,
    constant state per column). ``exact=True`` uses
    ``percentile`` (linear interpolation over a full sort — the small-scale
    correctness oracle; DuckDB's quantile_cont matches it exactly).
    """
    fn = (
        (lambda c: F.percentile(F.col(c).cast("double"), F.array(*[F.lit(q) for q in qs])))
        if exact
        else (
            lambda c: F.approx_percentile(
                F.col(c).cast("double"),
                F.array(*[F.lit(q) for q in qs]),
                F.lit(accuracy),
            )
        )
    )
    wide = df.agg(*[fn(c).alias(f"{c}__q") for c in cols])
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.lit(float(q)).alias("q"),
                F.col(f"{c}__q")[i].alias("value"),
            )
            for c in cols
            for i, q in enumerate(qs)
        ]
    )
    return wide.select(F.explode(entries).alias("s")).select("s.*")


def uniqueness(df: DataFrame, key: str) -> DataFrame:
    """Keys appearing more than once: (key value, n_dups).

    Partial aggregation (map-side combine) counts each key within a map
    task before the shuffle, so the reducers see one row per (task, key)
    however hot the key.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_dups"))
    return counts.filter(F.col("n_dups") > 1)


def referential_integrity(
    df: DataFrame,
    col: str,
    ref: DataFrame,
    ref_col: str,
    broadcast_ref: bool = True,
) -> DataFrame:
    """Rows of ``df`` whose ``col`` has no match in ``ref.ref_col``.

    left_anti join; the reference side is broadcast when small (dimension
    tables), so the fact side never shuffles.
    """
    r = ref.select(F.col(ref_col).alias("_ref_key")).dropDuplicates(["_ref_key"])
    if broadcast_ref:
        r = F.broadcast(r)
    return df.join(r, on=df[col] == r["_ref_key"], how="left_anti")


def bucketize(col: Column, lo: float, hi: float, nbins: int) -> Column:
    """Fixed-width bin index in [0, nbins-1], clamping out-of-range values.

    NULL stays NULL (excluded from every bucket). The explicit guard
    matters: Spark's ``greatest``/``least`` SKIP null arguments rather than
    propagate them, so without it a NULL value would silently clamp into
    bucket 0 and distort histograms/drift on nullable columns.
    """
    step = (hi - lo) / nbins
    raw = F.floor((col - F.lit(lo)) / F.lit(step)).cast("int")
    return F.when(
        col.isNotNull(), F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
    )


def histogram(
    df: DataFrame, col: str, lo: float, hi: float, nbins: int
) -> DataFrame:
    """(bucket, n) histogram — the constant-size reduced profile used by drift."""
    return (
        df.select(bucketize(F.col(col), lo, hi, nbins).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def drift_metrics(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """KS statistic + PSI between two distributions of ``col``.

    Both are computed from binned histograms (documented approximation for
    KS — exact KS needs a global sort; binned ECDF
    gives KS up to one bin width). Each input reduces to ``nbins`` rows
    before the cross-side math, so the comparison cost is independent of
    table size. Returns (metric string, value double) with metrics
    'ks' and 'psi'.
    """
    spark = df_a.sparkSession
    bins = spark.range(nbins).select(F.col("id").cast("int").alias("bucket"))
    ha = histogram(df_a, col, lo, hi, nbins).withColumnRenamed("n", "na")
    hb = histogram(df_b, col, lo, hi, nbins).withColumnRenamed("n", "nb")
    joined = (
        bins.join(ha, "bucket", "left")
        .join(hb, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
    )
    # totals stay lazy: a 1-row aggregate broadcast-cross-joined back in
    # (no driver collect, no extra job — the whole metric is one plan)
    tot = joined.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    # greatest(·, 1): an empty cohort yields all-zero probabilities instead
    # of an ANSI divide-by-zero (identical on any non-degenerate input)
    props = joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (F.col("na") / F.greatest(F.col("ta"), F.lit(1))).alias("pa"),
        (F.col("nb") / F.greatest(F.col("tb"), F.lit(1))).alias("pb"),
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = props.select(
        "pa",
        "pb",
        F.sum("pa").over(w).alias("ca"),
        F.sum("pb").over(w).alias("cb"),
    )
    out = cdf.agg(
        F.max(F.abs(F.col("ca") - F.col("cb"))).alias("ks"),
        F.sum(
            (F.col("pa") - F.col("pb"))
            * F.log(
                (F.col("pa") + F.lit(eps)) / (F.col("pb") + F.lit(eps))
            )
        ).alias("psi"),
    )
    return out.select(
        F.explode(
            F.map_from_arrays(
                F.array(F.lit("ks"), F.lit("psi")),
                F.array(F.col("ks"), F.col("psi")),
            )
        ).alias("metric", "value")
    )


def approx_distinct_hll(
    df: DataFrame, col: str, lg_config_k: int = 12
) -> DataFrame:
    """Approx-distinct via HLL sketches, merged treewise across partitions.

    Uses Spark's Datasketches HLL: per-partition ``hll_sketch_agg`` partial
    states are union-merged by the aggregation tree (north_star
    'approx-distinct via HyperLogLog sketches merged treewise'). Returns
    (column_name, approx_distinct).
    """
    sketch_per_part = df.groupBy(F.spark_partition_id().alias("_p")).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_config_k)).alias("sk")
    )
    merged = sketch_per_part.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("approx_distinct")
    )
    return merged.select(F.lit(col).alias("column_name"), "approx_distinct")


def hll_alpha(m: int) -> float:
    """Standard HLL bias constant for m >= 128 registers."""
    return 0.7213 / (1 + 1.079 / m)


def approx_distinct_hll_portable(df: DataFrame, col: str, p: int = 10) -> DataFrame:
    """HyperLogLog from first principles with engine-portable hashing.

    Unlike ``approx_distinct_hll`` (Spark's opaque Datasketches estimate),
    every step here is reproducible in any engine with md5 — the DuckDB
    oracle reimplements it bit-for-bit:

    - 32-bit hash = md5-low32 of the value's string form
    - register index = top ``p`` bits; rho = leading zeros + 1 of the
      remaining ``32-p`` bits (computed exactly via length(bin(w)))
    - groupBy(register).max(rho): partial aggregation IS the treewise
      sketch merge — each map task reduces to ≤ m rows, merged up the tree
    - raw estimate alpha·m²/Σ2^-M_j with the standard linear-counting
      small-range correction. The Σ is a float sum of exact powers of two
      bounded by m — every partial sum is exactly representable, so the
      result is order-independent (deterministic without an ordered fold).

    Returns (column_name, approx_distinct bigint).
    """
    stats, est = _hll(df, col, p)
    return stats.select(F.lit(col).alias("column_name"), est)


def _hll(
    df: DataFrame, col: str, p: int, group_col: Optional[str] = None
) -> "tuple[DataFrame, Column]":
    """The portable HLL core: per-(group, register) max rho over the
    non-NULL ``col`` values (and non-NULL ``group_col`` when given), reduced
    to (grp?, seen, s) per group — a global aggregate without a group — and
    the ``approx_distinct`` estimate column over that frame."""
    m = 1 << p
    w_bits = 32 - p
    mask = (1 << w_bits) - 1
    x = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    w = x.bitwiseAND(F.lit(mask))
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.bin(w))
    )
    keep, grp = F.col(col).isNotNull(), []
    if group_col is not None:
        keep, grp = keep & F.col(group_col).isNotNull(), ["grp"]
    regs = (
        df.where(keep)
        .select(
            *(F.col(group_col).alias(g) for g in grp),
            F.shiftright(x, w_bits).alias("reg"),
            rho.alias("rho"),
        )
        .groupBy(*grp, "reg")
        .agg(F.max("rho").alias("mrho"))
    )
    stats = regs.groupBy(*grp).agg(
        F.count(F.lit(1)).alias("seen"),
        F.sum(F.pow(F.lit(2.0), -F.col("mrho"))).alias("s"),
    )
    alpha = hll_alpha(m)
    e_raw = F.lit(alpha * m * m) / (
        F.lit(float(m)) - F.col("seen") + F.col("s")
    )
    zeros = F.lit(m) - F.col("seen")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(e_raw)
    return stats, F.floor(est).cast("bigint").alias("approx_distinct")


def reference_profile(
    df: DataFrame, col: str, lo: float, hi: float, nbins: int
) -> DataFrame:
    """(bucket, ref_n): the stored clean-run histogram drift compares against."""
    return histogram(df, col, lo, hi, nbins).withColumnRenamed("n", "ref_n")


def drift_per_partition(
    df: DataFrame,
    col: str,
    ref_profile: DataFrame,
    lo: float,
    hi: float,
    nbins: int = 10,
    eps: float = 1e-6,
    partition_col: Optional[Column] = None,
) -> DataFrame:
    """KS + PSI per partition against a reference profile.

    (partition_id, ks, psi) — the north-star per-partition drift check.
    Each partition reduces to an nbins-row histogram (partial agg), the
    reference profile is broadcast, and the metric math runs on the tiny
    joined histograms — cost independent of partition size.

    ``partition_col`` defines the partition key; the default is the physical
    ``spark_partition_id()`` (per-task lineage). Pass a DETERMINISTIC key
    (``pmod`` of a stable id, an Iceberg partition value, a file path) when
    results must be reproducible across runs/engines — physical partition
    ids are stable only for a fixed input layout.

    Float reductions run as bucket-ordered folds (not unordered SQL SUMs),
    so ks/psi are bit-deterministic for a given histogram — the property the
    DuckDB oracle relies on.
    """
    pcol = partition_col if partition_col is not None else F.spark_partition_id()
    hist = (
        df.select(
            pcol.alias("partition_id"),
            bucketize(F.col(col), lo, hi, nbins).alias("bucket"),
        )
        .groupBy("partition_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    parts = hist.select("partition_id").distinct()
    bins = df.sparkSession.range(nbins).select(
        F.col("id").cast("int").alias("bucket")
    )
    grid = parts.crossJoin(F.broadcast(bins))
    full = (
        grid.join(hist, ["partition_id", "bucket"], "left")
        .join(F.broadcast(ref_profile), "bucket", "left")
        .select(
            "partition_id",
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
        )
    )
    # nbins rows per partition → one sorted array per partition; the counts
    # are exact longs, every float op below happens in bucket order
    folded = full.groupBy("partition_id").agg(
        F.array_sort(F.collect_list(F.struct("bucket", "n", "ref_n"))).alias(
            "rows"
        ),
        F.sum("n").alias("t"),
        F.sum("ref_n").alias("tr"),
    )
    # greatest(·, 1): a partition absent from the reference profile (tr=0)
    # yields all-zero reference probabilities — KS then reads 1.0 (maximal
    # drift), not an ANSI divide-by-zero that kills the job
    rows = F.col("rows")
    t = F.greatest(F.col("t"), F.lit(1))
    tr = F.greatest(F.col("tr"), F.lit(1))
    p = lambda r: r["n"] / t  # noqa: E731
    q = lambda r: r["ref_n"] / tr  # noqa: E731
    ks = F.aggregate(
        rows,
        F.struct(
            F.lit(0.0).alias("cp"), F.lit(0.0).alias("cq"), F.lit(0.0).alias("ks")
        ),
        lambda acc, r: F.struct(
            (acc["cp"] + p(r)).alias("cp"),
            (acc["cq"] + q(r)).alias("cq"),
            F.greatest(
                acc["ks"], F.abs(acc["cp"] + p(r) - acc["cq"] - q(r))
            ).alias("ks"),
        ),
        lambda acc: acc["ks"],
    )
    psi = F.aggregate(
        rows,
        F.lit(0.0),
        lambda acc, r: acc
        + (p(r) - q(r)) * F.log((p(r) + F.lit(eps)) / (q(r) + F.lit(eps))),
    )
    return folded.select("partition_id", ks.alias("ks"), psi.alias("psi"))


def approx_distinct_hll_portable_grouped(
    df: DataFrame, col: str, group_col: str, p: int = 10
) -> DataFrame:
    """Per-GROUP HyperLogLog distinct counts in one pass — the grouped
    variant of approx_distinct_hll_portable (same md5-low32 hashing, same
    register math, same linear-counting correction, so the same DuckDB
    oracle shape applies per group).

    (group, approx_distinct): groupBy(group, register).max(rho) reduces
    each map task to ≤ m rows PER GROUP SEEN — the partial aggregation is
    the treewise per-group sketch merge, so state is bounded by
    (groups × m) regardless of input size. The Σ2^-rho per group is a sum
    of exact powers of two bounded by m: every partial sum is exactly
    representable in float64, making the estimate order-independent —
    deterministic under any partitioning.
    """
    stats, est = _hll(df, col, p, group_col)
    return stats.select(F.col("grp").alias(group_col), est)


# ---------------------------------------------------------------------------
# predicate compliance, histogram profiles, information metrics, correlation,
# robust outliers — the Deequ-style constraint families the reference's
# per-value keywords can't express (cross-column and cross-row rules).


def compliance(df: DataFrame, rules: "dict[str, Column]") -> DataFrame:
    """Deequ-style predicate-compliance check: for each named boolean rule,
    the fraction of rows satisfying it (a NULL predicate counts as a
    violation — unknown is not compliant).

    Returns (rule_name, n_rows, n_violations, compliance_e6) where
    compliance_e6 = floor(1e6 * satisfied/rows) as bigint (engine-portable
    quantization; NULL on an empty table).

    Scale: ONE full scan, all rules evaluated in the same wide aggregate
    with map-side partial combine — reduced state is a single row
    regardless of table size, no shuffle of row data. Adding a rule adds a
    column to the aggregate, not a pass over the table.
    """
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for name, pred in rules.items():
        aggs.append(
            F.coalesce(
                F.sum(F.when(~F.coalesce(pred, F.lit(False)), 1).otherwise(0)),
                F.lit(0),
            ).alias(f"{name}__viol")
        )
    wide = df.agg(*aggs)
    rows = F.col("__rows")
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule_name"),
                rows.alias("n_rows"),
                F.col(f"{name}__viol").alias("n_violations"),
                F.when(
                    rows > 0,
                    F.floor(
                        F.lit(1e6) * (rows - F.col(f"{name}__viol")) / rows
                    ).cast("long"),
                ).alias("compliance_e6"),
            )
            for name in rules
        ]
    )
    return wide.select(F.explode(entries).alias("s")).select("s.*")


def histogram_profile(
    df: DataFrame, specs: Sequence[tuple]
) -> DataFrame:
    """Equi-width histogram profile for several numeric columns in ONE pass.

    ``specs`` is a sequence of (col, lo, hi, nbins). Returns
    (column_name, bucket, n) — every bucket present (zero-filled), NULLs
    excluded per column.

    Scale: the bucket of each column is computed once in a projection, then
    every (column, bucket) count is a conditional sum in a single wide
    aggregate — one scan, map-side partial combine, single-row reduced
    state, zero shuffle of row data. The wide-agg path is for
    sum(nbins) ≲ 10^3 total cells (typical profiles); for very fine
    histograms use ``histogram`` per column (one tiny shuffle each).
    """
    proj = df.select(
        *[
            bucketize(F.col(c), lo, hi, nbins).alias(f"__b_{c}")
            for c, lo, hi, nbins in specs
        ]
    )
    aggs = []
    for c, lo, hi, nbins in specs:
        b = F.col(f"__b_{c}")
        for i in range(nbins):
            aggs.append(
                F.sum(F.when(b == i, 1).otherwise(0)).alias(f"__n_{c}_{i}")
            )
    wide = proj.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.lit(i).alias("bucket"),
                F.col(f"__n_{c}_{i}").alias("n"),
            )
            for c, lo, hi, nbins in specs
            for i in range(nbins)
        ]
    )
    return wide.select(F.explode(entries).alias("s")).select("s.*")


def entropy_mi(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Shannon entropies H(A), H(B), H(A,B) and mutual information
    I(A;B), in nats, as (metric, value_e6) rows.

    Every metric is a weighted sum over the joint distribution, so all four
    fold over the SAME reduced frame: with p = cnt/n, pa = n_a/n (marginal
    via window sum over the reduced frame), pb = n_b/n —
    H(A) = Σ -p·ln(pa), H(B) = Σ -p·ln(pb), H(A,B) = Σ -p·ln(p),
    I = Σ p·ln(p/(pa·pb)) (ln written as a log difference so every term
    uses the same primitive).

    Scale: ONE groupBy(a, b) over the table — the only shuffle, partial-
    aggregated, output one row per distinct pair. Marginals come from
    window sums of exact longs over that reduced frame (order-independent);
    the float p·ln terms are folded in (a, b) key order (array_sort over
    collected structs — the drift-oracle convention), so the result is
    deterministic and replayable by DuckDB's list(term ORDER BY a, b).
    """
    from pyspark.sql.window import Window

    joint = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt").over(Window.partitionBy())
    na = F.sum("cnt").over(Window.partitionBy(col_a))
    nb = F.sum("cnt").over(Window.partitionBy(col_b))
    p = F.col("cnt") / F.col("n")
    t = joint.select(
        F.struct(F.col(col_a).alias("a"), F.col(col_b).alias("b")).alias("k"),
        F.col("cnt"),
        n.alias("n"),
        na.alias("na"),
        nb.alias("nb"),
    ).select(
        "k",
        F.struct(
            (-p * F.log(F.col("na") / F.col("n"))).alias("ta"),
            (-p * F.log(F.col("nb") / F.col("n"))).alias("tb"),
            (-p * F.log(p)).alias("tj"),
            (
                p
                * (
                    F.log(p)
                    - F.log(F.col("na") / F.col("n"))
                    - F.log(F.col("nb") / F.col("n"))
                )
            ).alias("tm"),
        ).alias("t"),
    )
    arr = F.array_sort(F.collect_list(F.struct("k", "t")))

    def _fold(field):
        def go(acc, s):
            return acc + s["t"][field]

        return F.aggregate(F.col("terms"), F.lit(0.0), go)

    folded = t.agg(arr.alias("terms")).select(
        _fold("ta").alias("h_a"),
        _fold("tb").alias("h_b"),
        _fold("tj").alias("h_ab"),
        _fold("tm").alias("mi"),
    )
    return folded.select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("entropy_a"),
                    F.lit("entropy_b"),
                    F.lit("entropy_joint"),
                    F.lit("mutual_information"),
                ),
                F.array(
                    F.col("h_a"), F.col("h_b"), F.col("h_ab"), F.col("mi")
                ),
            )
        ).alias("metric", "value")
    ).select(
        "metric", F.floor(F.col("value") * 1e6).cast("long").alias("value_e6")
    )


def correlation_exact(
    df: DataFrame, col_x: str, col_y: str, scale: int = 100
) -> DataFrame:
    """Pearson correlation with bit-reproducible, order-independent moments.

    Values are scaled to integers (``round(x*scale)``) and the five moments
    (Σx, Σy, Σx², Σy², Σxy) accumulate as DECIMAL(38,0) — EXACT integer
    sums, so the result is independent of partition/merge order (a plain
    float ``corr`` differs between engines by summation order). The final
    correlation is a handful of IEEE double ops on the exact moments —
    identical in any engine (DuckDB replays with HUGEINT sums).

    Scale: one scan, wide aggregate, single-row reduced state, no shuffle.
    Overflow: ANSI decimal aggregation throws rather than wraps; with
    |x·scale| ≤ 10⁸ the Σxy accumulator holds ≥ 10²² rows.

    Returns (pair, n_rows, corr_e6 bigint).
    """
    dec = "decimal(38,0)"
    xi = F.round(F.col(col_x) * scale).cast(dec)
    yi = F.round(F.col(col_y) * scale).cast(dec)
    m = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi).alias("sx"),
        F.sum(yi).alias("sy"),
        F.sum(xi * xi).alias("sxx"),
        F.sum(yi * yi).alias("syy"),
        F.sum(xi * yi).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    corr = F.when(den > 0, num / den)
    return m.select(
        F.lit(f"{col_x}~{col_y}").alias("pair"),
        F.col("n").alias("n_rows"),
        F.floor(corr * 1e6).cast("long").alias("corr_e6"),
    )


def mad_outliers(
    df: DataFrame,
    key: str,
    col: str,
    k: float = 3.5,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Robust outliers: rows where |x - median| > k · 1.4826 · MAD.

    MAD (median absolute deviation) is the robust scale estimate; 1.4826
    makes it consistent with σ under normality. ``exact=True`` uses
    ``percentile`` (matches DuckDB quantile_cont bit-for-bit — the oracle
    twin); the default uses ``approx_percentile`` sketches.

    Plan shape: median and MAD are 1-row aggregates broadcast-cross-joined
    back (no driver collect); inherently two dependent scans (MAD needs the
    median) plus the filter scan. Returns (key, value, dev_e4) with
    dev = (x - median)/(1.4826·MAD) floor-quantized.
    """
    x = F.col(col).cast("double")
    pct = (
        (lambda c: F.percentile(c, F.lit(0.5)))
        if exact
        else (lambda c: F.approx_percentile(c, F.lit(0.5), F.lit(accuracy)))
    )
    med = df.agg(pct(x).alias("__med"))
    with_med = df.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        pct(F.abs(x - F.col("__med"))).alias("__mad")
    )
    scaled = with_med.crossJoin(F.broadcast(mad)).withColumn(
        "__s", F.lit(1.4826) * F.col("__mad")
    )
    # MAD = 0 (over half the values identical): zero dispersion means ANY
    # deviation is anomalous — the filter still fires (|x-m| > 0), but the
    # deviation score is undefined (ANSI division would throw), so NULL.
    dev = F.when(
        F.col("__s") > 0, (x - F.col("__med")) / F.col("__s")
    )
    return (
        scaled.filter(F.abs(x - F.col("__med")) > F.lit(k) * F.col("__s"))
        .select(
            F.col(key),
            x.alias("value"),
            F.floor(dev * 1e4).cast("long").alias("dev_e4"),
        )
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-GROUP quantiles: (group, q, value) — ``column_quantiles``' shape
    with a grouping key (per-language length profiles, per-source score
    distributions).

    ``exact=True`` is the oracle twin (``percentile`` == DuckDB
    quantile_cont); the default ``approx_percentile`` sketch is the scale
    path — constant state per (group, column), so the reduced size is
    groups x qs regardless of input rows.

    Scale: ONE partial-aggregated groupBy — the only shuffle; hot groups
    cost sort-of-group-size on one reducer in exact mode (another reason
    the sketch is the default).
    """
    arr = F.array(*[F.lit(float(q)) for q in qs])
    c = F.col(col).cast("double")
    agg = (
        F.percentile(c, arr)
        if exact
        else F.approx_percentile(c, arr, F.lit(accuracy))
    )
    wide = df.groupBy(F.col(group_col).alias("grp")).agg(agg.alias("__qv"))
    entries = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"), F.col("__qv")[i].alias("value")
            )
            for i, q in enumerate(qs)
        ]
    )
    return wide.select(
        F.col("grp").alias(group_col), F.explode(entries).alias("s")
    ).select(group_col, "s.q", "s.value")


def validate_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    expected_dim: int,
    norm_lo: float = 0.0,
    norm_hi: float = float("inf"),
) -> DataFrame:
    """Embedding-table sanity validation: dimension consistency, NaN
    elements, zero vectors, L2-norm range — the checks a training pipeline
    runs before ANN indexing / contrastive training eats a corrupt shard.

    Output one row per vector: (id, dim, n_nan, norm_e6, viol) where viol
    is the FIRST failed check (null_embedding > dim_mismatch > has_nan >
    zero_vector > norm_out_of_range) or NULL for healthy rows. norm_e6 is
    NULL when any element is NaN (ANSI cast of NaN would throw) — the
    norm folds in array-element order with per-element double casts, so
    it is bit-identical across engines (DuckDB list_reduce replays it).

    Scale: pure per-row expressions — no shuffle, no Python; the HOF
    lambdas only read the bound array reference per element.
    """
    v = F.col(vec_col)
    dim = F.size(v).cast("int")
    n_nan = F.size(F.filter(v, lambda x: F.isnan(x))).cast("int")
    sq = F.aggregate(
        v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    norm = F.sqrt(sq)
    viol = (
        F.when(v.isNull(), F.lit("null_embedding"))
        .when(dim != F.lit(expected_dim), F.lit("dim_mismatch"))
        .when(n_nan > 0, F.lit("has_nan"))
        .when(norm == 0.0, F.lit("zero_vector"))
        .when(
            (norm < F.lit(norm_lo)) | (norm > F.lit(norm_hi)),
            F.lit("norm_out_of_range"),
        )
    )
    return df.select(
        F.col(id_col),
        dim.alias("dim"),
        n_nan.alias("n_nan"),
        F.when(v.isNotNull() & (n_nan == 0), F.floor(norm * 1e6))
        .cast("long")
        .alias("norm_e6"),
        viol.alias("viol"),
    )


def profile_table(
    df: DataFrame,
    cols: "Sequence[str] | None" = None,
    exact_distinct: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """Generic column profiler (the Deequ ColumnProfiler analog): one row
    per column with null count, distinct count, and type-normalized
    min/max — the first thing a validation engine runs on an unknown
    table.

    Output ``(column_name, dtype, n_rows, n_null, n_distinct, null_e6,
    min_norm, max_norm)``. min/max are normalized to engine-portable
    strings by dtype: integers/strings/booleans cast verbatim, floats
    floor-quantized to 1e-4, timestamps as epoch microseconds (wall-clock
    arithmetic for NTZ — the temporal.py convention, immune to
    ``session.timeZone``).

    Scale: ONE wide aggregate — single-row reduced state, no shuffle of
    row data. ``exact_distinct=True`` (the oracle twin) compiles to
    Spark's multi-distinct Expand, which replicates the scan output
    once per profiled column — fine for profiling runs; set
    ``exact_distinct=False`` for large inputs (HLL sketch per column,
    no Expand, constant state; estimates are not oracle-replayable).
    """
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = list(cols or fields)

    def _norm(c: str, v: Column) -> Column:
        t = fields[c]
        if t in ("double", "float"):
            return F.when(v.isNotNull(), F.floor(v * 1e4).cast("bigint").cast("string"))
        if t == "timestamp_ntz":
            return F.timestamp_diff(
                "MICROSECOND",
                F.to_timestamp_ntz(F.lit("1970-01-01 00:00:00")),
                v,
            ).cast("string")
        if t == "timestamp":
            return F.unix_micros(v).cast("string")
        return v.cast("string")

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        col = F.col(c)
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__null_{c}"),
            (
                F.count_distinct(col)
                if exact_distinct
                else F.approx_count_distinct(col, rsd)
            ).alias(f"__dist_{c}"),
            F.min(col).alias(f"__min_{c}"),
            F.max(col).alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    rows = F.col("__rows")
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.lit(fields[c]).alias("dtype"),
                rows.alias("n_rows"),
                F.coalesce(F.col(f"__null_{c}"), F.lit(0))
                .cast("long")
                .alias("n_null"),
                F.col(f"__dist_{c}").cast("long").alias("n_distinct"),
                F.when(
                    rows > 0,
                    F.floor(
                        F.lit(1e6) * F.col(f"__null_{c}") / rows
                    ).cast("long"),
                ).alias("null_e6"),
                _norm(c, F.col(f"__min_{c}")).alias("min_norm"),
                _norm(c, F.col(f"__max_{c}")).alias("max_norm"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(entries).alias("s")).select("s.*")


def count_anomalies(
    df: DataFrame,
    key: str,
    k: float = 3.5,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Row-count anomaly detection per key (the Deequ anomaly-check
    analog for batch): count rows per key, then flag keys whose count
    deviates from the median by more than k · 1.4826 · MAD
    (``mad_outliers`` over the counts frame) — the ingest monitor that
    catches a half-loaded day/shard/source before training eats it.

    Output ``(key, n_rows, dev_e4)`` — only the anomalous keys.

    Scale: ONE partial-aggregated groupBy over the table; the robust
    stats run on the reduced counts frame (one row per key), so the
    MAD machinery costs O(keys), not O(rows).
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    out = mad_outliers(counts, key=key, col="__n", k=k, exact=exact, accuracy=accuracy)
    return out.select(
        F.col(key),
        F.col("value").cast("long").alias("n_rows"),
        "dev_e4",
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list,
    compare_cols: list,
) -> DataFrame:
    """Snapshot reconciliation — the CDC / ingest-regression diff between
    two versions of a table: one row per key that was ``added``,
    ``removed``, or ``changed`` (unchanged keys emit NOTHING — the delta
    is the output, never the corpus).

    Change detection compares an md5 row fingerprint over ``compare_cols``
    (NULL-safe: values are \\x01-joined with a \\x00 sentinel for NULL, so
    NULL vs '' vs absent all differ). Only (keys, fingerprint) ever enters
    the join — the compared payload columns are pruned before the shuffle,
    so a wide table diffs at the cost of its key width.

    Scale shape: both sides project to (keys, fp), shuffle once on the
    keys (sort-merge full outer join — the classic reconciliation plan);
    no broadcast assumption, works when both snapshots are huge. Duplicate
    keys within a snapshot are the caller's problem (run uniqueness first
    — this operator treats the key as a primary key and joins on it).
    """
    if not key_cols or not compare_cols:
        raise ValueError("key_cols and compare_cols must be non-empty")

    def fp(df: DataFrame) -> Column:
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
            for c in compare_cols
        ]
        return F.md5(F.concat_ws("\x01", *parts))

    o = old.select(*key_cols, fp(old).alias("_fp_old"))
    n = new.select(*key_cols, fp(new).alias("_fp_new"))
    j = o.join(n, on=key_cols, how="full_outer")
    status = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
    )
    return (
        j.select(*key_cols, status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


def k_anonymity(df: DataFrame, quasi_cols: list, k: int) -> DataFrame:
    """k-anonymity risk — the privacy validator: every combination of
    quasi-identifier values shared by FEWER than ``k`` rows (small groups
    are re-identifiable; k=1 groups are unique individuals). Returns the
    at-risk combos with their group sizes: (*quasi_cols, n_rows).

    Plan shape: one partially-aggregated groupBy on the quasi columns —
    map-side combine shrinks the shuffle to one row per combo per task;
    the < k filter prunes the (usually dominant) anonymous mass before
    anything is collected. Output is the risk surface, not the corpus.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .filter(F.col("n_rows") < k)
    )


def fd_violations(df: DataFrame, lhs_cols: list, rhs_col: str) -> DataFrame:
    """Functional-dependency check (lhs → rhs): every lhs combination that
    maps to MORE than one distinct rhs value — the classic integrity rule
    (order_id → customer, zip → city, image_id → caption). Returns
    (*lhs_cols, n_rhs, rhs_min, rhs_max): min/max are the bounded example
    pair (constant aggregation state — never a per-group value list, the
    repo's bounded-collection discipline; they also show the violation's
    spread). NULL rhs counts as a value via the distinct over a NULL-safe
    sentinel-free count: countDistinct ignores NULLs, so a NULL-vs-value
    split is surfaced by n_nulls.

    Plan shape: one groupBy with partial aggregation; the > 1 filter
    emits only the violating keys.
    """
    if not lhs_cols:
        raise ValueError("lhs_cols must be non-empty")
    r = F.col(rhs_col)
    out = (
        df.groupBy(*lhs_cols)
        .agg(
            F.countDistinct(rhs_col).cast("bigint").alias("n_rhs"),
            F.sum(r.isNull().cast("int")).cast("bigint").alias("n_nulls"),
            F.min(r).alias("rhs_min"),
            F.max(r).alias("rhs_max"),
        )
    )
    return out.filter(
        (F.col("n_rhs") > 1) | ((F.col("n_rhs") >= 1) & (F.col("n_nulls") > 0))
    )


def monotonicity_violations(
    df: DataFrame,
    key_col: str,
    order_cols: list,
    value_col: str,
    strict: bool = False,
) -> DataFrame:
    """Per-key monotonicity check — the event-stream sanity rule (sequence
    numbers never regress per user, versions never decrease per entity):
    order each key's rows by ``order_cols`` (must be a unique ordering per
    key, or equal-rank rows make "previous" ambiguous) and emit every row
    whose ``value_col`` falls below its predecessor (``strict=True`` also
    flags equality). Output (key, value, prev_value).

    Plan shape: one hash Exchange on the key + per-key sort window (the
    standard sessionize plan); violations only — the monotone mass emits
    nothing.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(*order_cols)
    base = df.select(
        F.col(key_col),
        F.col(value_col).alias("value"),
        F.lag(value_col).over(w).alias("prev_value"),
    )
    v, prev = F.col("value"), F.col("prev_value")
    bad = (v <= prev) if strict else (v < prev)
    return base.filter(prev.isNotNull() & bad)


def join_skew_report(
    left: DataFrame,
    right: DataFrame,
    key_cols: list,
    min_fanout: int = 2,
) -> DataFrame:
    """Join-skew diagnosis — the probe you run BEFORE a big join: per key,
    how many rows each side carries and the join fan-out (n_left ·
    n_right = exactly how many output rows that key will produce). Keys
    with fan-out ≥ ``min_fanout`` are the skew/explosion surface — the
    input to a salting decision, an AQE skew-join check, or a broadcast
    cutoff.

    Output (*key_cols, n_left, n_right, fanout); keys absent from a side
    count 0 (full outer over the two count tables — anti-joined keys show
    up with fanout 0 only if min_fanout <= 0, by default they drop).

    Plan shape: two partially-aggregated groupBys (one per side — the
    shuffle carries one row per key per task), a full outer join of the
    COUNT tables (|distinct keys|, not |rows|), and a threshold filter —
    no global sort, no top-k state. The report is the skew tail, never
    the key space.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    lc = left.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_left")
    )
    rc = right.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_right")
    )
    j = lc.join(rc, on=key_cols, how="full_outer").select(
        *key_cols,
        F.coalesce(F.col("n_left"), F.lit(0)).alias("n_left"),
        F.coalesce(F.col("n_right"), F.lit(0)).alias("n_right"),
    )
    return j.select(
        *key_cols,
        "n_left",
        "n_right",
        (F.col("n_left") * F.col("n_right")).cast("bigint").alias("fanout"),
    ).filter(F.col("fanout") >= min_fanout)


def completeness_report(
    df: DataFrame, cols: Sequence[str], min_fill_e6: int = 990_000
) -> DataFrame:
    """Column completeness monitor — the fill-rate verdict layer on top of
    column_stats' raw null counts (a data-quality gate a pipeline blocks
    on: "every required column ≥ 99% filled").

    Output per column: (column_name, n_rows, n_nulls, fill_e6, pass)
    with fill_e6 = floor(n_nonnull * 1e6 / n_rows) in exact BIGINT
    arithmetic (engine-portable: no float division).

    Plan shape: ONE partial-aggregated pass over the table however many
    columns (a single wide agg), then a width-|cols| explode of a 1-row
    frame — no shuffle beyond the scalar aggregate.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{c}__nulls")
        )
    wide = df.agg(*aggs)
    n = F.col("__n").cast("bigint")
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                n.alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.floor(
                    (n - F.col(f"{c}__nulls")) * F.lit(1_000_000) / n
                ).cast("bigint").alias("fill_e6"),
            )
            for c in cols
        ]
    )
    return (
        wide.select(F.explode(entries).alias("s"))
        .select("s.*")
        .withColumn("pass", F.col("fill_e6") >= F.lit(min_fill_e6))
    )


def freshness_report(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str],
    max_lag_seconds: int,
) -> DataFrame:
    """Per-group freshness monitor: how stale is each partition of the feed
    relative to the newest row anywhere in the table? The standard
    ingestion-health check (a source that silently stopped emitting shows
    up as a growing lag long before a volume alarm fires).

    Output per group: (group..., n_rows, max_ts, lag_seconds, stale) with
    lag_seconds = epoch(global max) - epoch(group max) in exact integer
    seconds.

    Plan shape: one partial-aggregated groupBy (|groups| rows) plus a
    broadcast of the 1-row global max — the repo's existing 1-row
    crossJoin pattern; nothing else shuffles.
    """
    gc = list(group_cols)
    per = df.groupBy(*gc).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max(ts_col).alias("max_ts"),
    )
    glob = df.agg(F.max(ts_col).alias("__global_max"))
    lag = (
        F.unix_timestamp(F.col("__global_max"))
        - F.unix_timestamp(F.col("max_ts"))
    ).cast("bigint")
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            *gc,
            "n_rows",
            "max_ts",
            lag.alias("lag_seconds"),
            (lag > F.lit(max_lag_seconds)).alias("stale"),
        )
    )


def robust_outlier_report(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """Median/MAD robust outlier monitor — the heavy-tail-safe twin of the
    mean/std z-score detector (one hot row drags a mean; it barely moves a
    median). Per group: exact median, exact MAD (median absolute
    deviation), and the count of rows with |x − median| > k·MAD.

    Engine-exactness contract: ``value_col`` must be INTEGRAL (cast or
    round upstream — cents, micros). Exact medians of integers are k or
    k+0.5, deviations are half-integer steps, and every engine's linear
    0.5-quantile interpolation agrees bit-exactly on them, so the report
    carries median/MAD DOUBLED as exact bigints (median_x2, mad_x2).

    Plan shape: exact medians are inherently rank queries — this is
    three column-pruned passes (group median → deviation median → outlier
    count), each a partial-aggregated groupBy plus a broadcast join of the
    |groups|-row stats back onto the scan. For one-pass approximate
    monitoring, feed column_quantiles' sketch path instead; this
    operator is the exact gate the sketch is judged against.
    """
    gc = list(group_cols)
    v = F.col(value_col).cast("double")
    med = df.groupBy(*gc).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    dev = df.join(F.broadcast(med), gc).withColumn(
        "_dev", F.abs(v - F.col("_med"))
    )
    mad = dev.groupBy(*gc).agg(
        F.expr("percentile(_dev, 0.5)").alias("_mad"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.first("_med").alias("_med2"),
    )
    counted = (
        dev.join(
            F.broadcast(mad.select(*gc, "_mad")), gc
        )
        .groupBy(*gc)
        .agg(
            F.sum(
                F.when(F.col("_dev") > F.lit(k) * F.col("_mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )
    return (
        mad.join(counted, gc)
        .select(
            *gc,
            F.floor(F.col("_med2") * 2).cast("bigint").alias("median_x2"),
            F.floor(F.col("_mad") * 2).cast("bigint").alias("mad_x2"),
            "n_rows",
            "n_outliers",
        )
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity privacy risk — k_anonymity's sibling: a quasi-identifier
    group can be large (k-anonymous) yet still leak if (nearly) every row
    shares one sensitive value. Emits groups whose DISTINCT sensitive
    count is below ``l``: (quasi..., n_rows, n_sensitive).

    Plan shape: one partial-aggregated groupBy carrying count +
    count(DISTINCT sensitive) (the distinct shuffles (quasi, sensitive)
    pairs, bounded by the distinct-pair volume); the < l filter prunes the
    diverse mass so only the risk surface survives.
    """
    if l < 2:
        raise ValueError(f"l must be >= 2, got {l}")
    gc = list(quasi_cols)
    g = df.groupBy(*gc).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct(sensitive_col).cast("bigint").alias("n_sensitive"),
    )
    return g.filter(F.col("n_sensitive") < l)


# Benford expected first-digit shares: ln(1+1/d)/ln(10). Computed from
# exact-rational doubles, so any IEEE engine reproduces the same bits.
def benford_report(
    df: DataFrame, value_col: str, tolerance_e6: int = 20_000
) -> DataFrame:
    """First-digit (Benford) distribution check — the classic fraud /
    synthetic-data / unit-mixup probe for naturally-spread positive
    numerics: observed share of each leading digit 1-9 vs the Benford
    expectation log10(1+1/d), flagged when the absolute gap exceeds
    ``tolerance_e6`` (in 1e-6 share units).

    The leading digit is taken string-wise from the value rounded to an
    integer (engine-portable: no float log10 on data values — only the
    nine CONSTANT expectations use ln, on exact-rational inputs). Zero and
    negative/NULL rows are excluded from the base.

    Output: (digit, n_rows, share_e6, expected_e6, deviates).

    Plan shape: one partial-agg groupBy over NINE groups + a broadcast
    1-row total — nothing else moves.
    """
    d = F.substring(
        F.round(F.abs(F.col(value_col))).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    base = df.select(d.alias("digit")).filter(F.col("digit") >= 1)
    counts = base.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    import math

    expected = F.create_map(
        *[
            F.lit(x)
            for dd in range(1, 10)
            for x in (dd, math.floor(math.log(1 + 1 / dd) / math.log(10) * 1e6))
        ]
    )
    share = F.floor(F.col("n_rows") * F.lit(1_000_000) / F.col("_n")).cast(
        "bigint"
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_rows",
            share.alias("share_e6"),
            expected[F.col("digit")].cast("bigint").alias("expected_e6"),
        )
        .withColumn(
            "deviates",
            F.abs(F.col("share_e6") - F.col("expected_e6"))
            > F.lit(tolerance_e6),
        )
    )


def rollup_stats(
    df: DataFrame,
    dims: Sequence[str],
    sum_cols: "Optional[dict[str, Column]]" = None,
) -> DataFrame:
    """Hierarchical dataset statistics via GROUP BY ROLLUP: counts (and
    optional integer sums) at every prefix level of ``dims`` — per
    (a, b), per (a), and the grand total in ONE pass. The multi-level
    dataset-card rollup (per-source, per-(source, lang), overall) without
    scanning once per level.

    Each dim also emits ``<dim>_agg`` (1 = this level aggregates the dim
    away) so consumers — and the gate's hash compare — can tell a rolled-
    up NULL from a genuine NULL dim value.

    Plan shape: Spark expands rollup into a single Expand + one
    partially-aggregated hash aggregate — one corpus scan, map-side
    combine at every level; output is |level-combo| rows, data-size
    independent. Pass pre-quantized integer expressions in ``sum_cols``
    (order-independent sums keep the result engine-exact).
    """
    dims = list(dims)
    if not dims:
        raise ValueError("dims must be non-empty")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for name, col in (sum_cols or {}).items():
        aggs.append(F.sum(col).cast("bigint").alias(name))
    aggs.extend(
        F.grouping(d).cast("bigint").alias(f"{d}_agg") for d in dims
    )
    return df.rollup(*dims).agg(*aggs)


def _bucket_counts(
    df: DataFrame, ts_col: str, gc: "list[str]", granularity_seconds: int
) -> DataFrame:
    """(group…, bucket, n_rows): the row count per group and time bucket,
    ``bucket = floor(unix_timestamp(ts_col) / granularity_seconds)``, in
    one partially aggregated groupBy."""
    bucket = F.floor(
        F.unix_timestamp(F.col(ts_col)) / F.lit(granularity_seconds)
    ).cast("bigint")
    return df.groupBy(*gc, bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )


def rolling_count_spikes(
    df: DataFrame,
    ts_col: str,
    group_cols: "str | Sequence[str]",
    granularity_seconds: int = 86400,
    window: int = 7,
    mult_e6: int = 2_000_000,
    min_base: int = 3,
) -> DataFrame:
    """Per-group rolling-window volume spike detection: bucket rows into
    fixed periods per group, then flag buckets whose count exceeds
    ``mult_e6``× the mean of the previous ``window`` buckets — the
    feed-burst / crawler-loop probe that the global median-MAD
    ``count_anomalies`` can't localize to one group.

    The compare is the exact integer cross-multiply
    ``n · base_n · 1e6 > mult_e6 · base_sum`` (mean = base_sum/base_n
    never materializes as a float); buckets with fewer than ``min_base``
    preceding observed buckets emit spike = false (cold start). Only
    OBSERVED buckets count toward the base (a silent group stays silent —
    pair with coverage_gaps for the missing-bucket view).

    Output: (group…, bucket, n_rows, base_n, base_sum, spike).

    Plan shape: one partial-agg groupBy collapses the corpus to
    (group, bucket) counts — |groups|·|buckets| rows, time-bounded — and
    the rolling window runs per group over THAT tiny frame; the corpus
    itself never sorts.
    """
    gc = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    counts = _bucket_counts(df, ts_col, gc, granularity_seconds)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*gc)
        .orderBy("bucket")
        .rowsBetween(-window, -1)
    )
    base_n = F.count(F.lit(1)).over(w).cast("bigint")
    base_sum = F.sum("n_rows").over(w).cast("bigint")
    out = counts.select(
        *gc,
        "bucket",
        "n_rows",
        base_n.alias("base_n"),
        F.coalesce(base_sum, F.lit(0)).cast("bigint").alias("base_sum"),
    )
    return out.withColumn(
        "spike",
        (F.col("base_n") >= min_base)
        & (
            F.col("n_rows") * F.col("base_n") * F.lit(1_000_000)
            > F.lit(int(mult_e6)) * F.col("base_sum")
        ),
    )


def winsorize(
    df: DataFrame,
    value: Column,
    keys: Sequence[str],
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Winsorized robust clipping — the feature-preprocessing tail clamp
    (fat-fingered prices, sensor glitches) that MAD-outlier REMOVAL is
    too blunt for: values beyond the exact [lo, hi] percentiles are
    clamped TO the percentile, everything else passes through.

    ``value`` should be an integer-quantized expression (the repo's
    engine-exact convention); the two thresholds are Spark's EXACT
    ``percentile`` (the quantiles_lineitem-proven (n-1)·p interpolation
    that DuckDB's quantile_cont reproduces). Output: keys…, v, clamped
    (double — percentile thresholds interpolate), clipped_lo, clipped_hi.

    Plan shape: one partial-aggregated percentile pass reduced to a
    1-row broadcast, then a pure clamp projection — two scans, no
    shuffle of row data, no window.
    """
    if not 0 <= lo < hi <= 1:
        raise ValueError(f"need 0 <= lo < hi <= 1, got ({lo}, {hi})")
    base = df.select(*keys, value.cast("bigint").alias("v"))
    thr = base.agg(
        F.percentile(F.col("v"), F.lit(float(lo))).alias("_plo"),
        F.percentile(F.col("v"), F.lit(float(hi))).alias("_phi"),
    )
    return base.crossJoin(F.broadcast(thr)).select(
        *keys,
        "v",
        F.least(
            F.greatest(F.col("v").cast("double"), F.col("_plo")), F.col("_phi")
        ).alias("clamped"),
        (F.col("v") < F.col("_plo")).alias("clipped_lo"),
        (F.col("v") > F.col("_phi")).alias("clipped_hi"),
    )


def ewma_monitor(
    df: DataFrame,
    ts_col: str,
    group_cols: "str | Sequence[str]",
    granularity_seconds: int = 86400,
    alpha_num: int = 1,
    alpha_den: int = 4,
    mult_e6: int = 2_000_000,
    warmup: int = 3,
) -> DataFrame:
    """Exponentially-weighted volume monitor — ``rolling_count_spikes``'s
    long-memory sibling (slow drifts move the EWMA baseline; a hard
    cutoff window forgets them). Per (group, bucket): the running
    ``ewma' = ewma + (n − ewma)·α`` over observed buckets in time order,
    and a spike flag when ``n · 1e6 > mult_e6 · ewma`` after ``warmup``
    observed buckets.

    Engine-exactness: α must be dyadic (default 1/4) — then every EWMA
    step is three single IEEE ops on identical inputs, so the whole
    per-group sequence is bit-reproducible and the gate oracle can replay
    it with a recursive CTE. ewma ships e6-floor-quantized; the spike
    compare is on exact integers.

    Plan shape: the corpus collapses to (group, bucket) counts in one
    partial-agg groupBy; the sequential fold runs per group over that
    TINY time-bounded frame inside one expression (collect_list +
    aggregate — O(buckets²) array building per group, buckets being
    hundreds, not data-sized). The corpus itself never sorts.
    """
    gc = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not (0 < alpha_num < alpha_den and (alpha_den & (alpha_den - 1)) == 0):
        raise ValueError(
            f"alpha must be dyadic in (0,1): got {alpha_num}/{alpha_den}"
        )
    alpha = float(alpha_num) / float(alpha_den)
    counts = _bucket_counts(df, ts_col, gc, granularity_seconds)
    per_group = counts.groupBy(*gc).agg(
        F.array_sort(
            F.collect_list(F.struct("bucket", "n_rows"))
        ).alias("_seq")
    )
    out_t = (
        "array<struct<bucket:bigint,n_rows:bigint,ewma:double,idx:int>>"
    )

    def _fold(seq: Column) -> Column:
        init = F.struct(
            F.lit(None).cast("double").alias("ewma"),
            F.lit(0).cast("int").alias("i"),
            F.array().cast(out_t).alias("out"),
        )

        def step(acc: Column, x: Column) -> Column:
            nd = x["n_rows"].cast("double")
            new = F.when(
                acc["ewma"].isNull(), nd
            ).otherwise(acc["ewma"] + (nd - acc["ewma"]) * F.lit(alpha))
            row = F.struct(
                x["bucket"].alias("bucket"),
                x["n_rows"].alias("n_rows"),
                # flag against the PRE-update baseline; first bucket uses
                # itself (never flags)
                F.coalesce(acc["ewma"], nd).alias("ewma"),
                acc["i"].alias("idx"),
            )
            return F.struct(
                new.alias("ewma"),
                (acc["i"] + 1).alias("i"),
                F.array_append(acc["out"], row).alias("out"),
            )

        return F.aggregate(seq, init, step)["out"]

    # explode_outer + post-filter: the rule-safe explode (a plain explode
    # lets InferFiltersFromGenerate re-evaluate the whole fold per row)
    rows = per_group.select(
        *gc, F.explode_outer(_fold(F.col("_seq"))).alias("_r")
    ).filter(F.col("_r").isNotNull())
    ew_e6 = F.floor(F.col("_r.ewma") * F.lit(1e6)).cast("bigint")
    # threshold = floor(ewma · mult_e6): ONE IEEE multiply on a double the
    # oracle reproduces bit-exactly, then an integer compare — n·1e6 vs
    # mult_e6·ewma_e6 would double-scale (and overflow at big buckets)
    thr = F.floor(F.col("_r.ewma") * F.lit(float(mult_e6))).cast("bigint")
    return rows.select(
        *gc,
        F.col("_r.bucket").alias("bucket"),
        F.col("_r.n_rows").alias("n_rows"),
        ew_e6.alias("ewma_e6"),
        (
            (F.col("_r.idx") >= warmup)
            & (F.col("_r.n_rows") * F.lit(1_000_000) > thr)
        ).alias("spike"),
    )


def group_trend(
    df: DataFrame,
    ts_col: str,
    group_cols: "str | Sequence[str]",
    granularity_seconds: int = 86400,
) -> DataFrame:
    """Per-group OLS volume trend — is this event type growing or dying?
    The monitoring primitive behind "traffic for key K dropped 40% this
    month" alerts, fitted exactly: per (group, bucket) counts y over time
    buckets x, then the closed-form least-squares slope
    ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` on EXACT integer sums.

    x is re-based to the group's first bucket (the slope is shift-
    invariant; re-basing keeps every sum within int64 for daily counts up
    to ~1e7 over ~centuries of buckets). ``slope_e6`` is the e6-scaled
    slope via truncating integer division (num·1e6 div den — both engines
    truncate identically once the remainder is subtracted); NULL when the
    group has a single bucket (den = 0). Output: group…, n_buckets,
    total_rows, num, den, slope_e6.

    Plan shape: one partial-agg groupBy collapses the corpus to
    (group, bucket) counts; the re-base min and the five sums are a
    second partial-agg pass over that TINY frame. The corpus never
    sorts, nothing windows over row data.
    """
    gc = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    counts = _bucket_counts(df, ts_col, gc, granularity_seconds)
    from pyspark.sql.window import Window

    minb = F.min("bucket").over(Window.partitionBy(*gc))
    xy = counts.select(
        *gc, (F.col("bucket") - minb).alias("x"), F.col("n_rows").alias("y")
    )
    a = xy.groupBy(*gc).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("x").cast("bigint").alias("_sx"),
        F.sum("y").cast("bigint").alias("total_rows"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("_sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("_sxy"),
    )
    num = (
        F.col("n_buckets") * F.col("_sxy") - F.col("_sx") * F.col("total_rows")
    )
    den = F.col("n_buckets") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    res = a.select(
        *gc,
        "n_buckets",
        "total_rows",
        num.alias("num"),
        den.alias("den"),
    )
    return res.withColumn(
        "slope_e6",
        F.when(F.col("den") > 0, F.expr("(num * 1000000) div den")).cast(
            "bigint"
        ),
    )


def distinctness_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Deequ-parity distinctness metrics per column: ``distinctness``
    (#distinct / #non-null), ``uniqueValueRatio`` (#values seen exactly
    once / #distinct) and ``uniqueness`` (#rows with a unique value /
    #non-null) — the three ratios Deequ's Distinctness /
    UniqueValueRatio / Uniqueness analyzers compute, over non-null rows.

    Ratios ship e6-floored via exact integer floor division (both
    operands are counts). Output: (column, n_nonnull, n_distinct,
    n_unique, distinctness_e6, unique_ratio_e6, uniqueness_e6).

    Plan shape: one partial-agg value-count groupBy per column (the
    same shape as ``uniqueness`` above — hash partial combine
    neutralizes hot values), each reduced to one row before the union.
    """
    outs = []
    for c in cols:
        vc = (
            df.select(F.col(c).alias("v"))
            .filter(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        outs.append(
            vc.agg(
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias(
                    "n_nonnull"
                ),
                F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
                F.coalesce(
                    F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)), F.lit(0)
                ).cast("bigint").alias("n_unique"),
            ).select(
                F.lit(c).alias("column"),
                "n_nonnull",
                "n_distinct",
                "n_unique",
                F.when(
                    F.col("n_nonnull") > 0,
                    F.floor(F.col("n_distinct") * 1_000_000 / F.col("n_nonnull")),
                ).cast("bigint").alias("distinctness_e6"),
                F.when(
                    F.col("n_distinct") > 0,
                    F.floor(F.col("n_unique") * 1_000_000 / F.col("n_distinct")),
                ).cast("bigint").alias("unique_ratio_e6"),
                F.when(
                    F.col("n_nonnull") > 0,
                    F.floor(F.col("n_unique") * 1_000_000 / F.col("n_nonnull")),
                ).cast("bigint").alias("uniqueness_e6"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def gini_concentration(
    df: DataFrame, key_cols: "str | Sequence[str]"
) -> DataFrame:
    """Gini coefficient of the per-key row-count distribution — the
    skew-at-a-glance monitor (0 = uniform traffic, →1 = one key owns the
    table) dataset cards report next to top-k heavy hitters.

    Exact integer arithmetic on the GROUPED form: per-key counts x are
    grouped by VALUE (v, f_v); with keys in ascending-count order the
    rank block of value v starts after ``start_v`` smaller rows, so
    ``Σ rank·x = Σ_v v·(f_v·start_v + f_v·(f_v+1)/2)`` — tie order
    cannot matter. ``G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx)``, e6-floored
    (numerator ≥ 0). Output one row: n_keys, total_rows, gini_e6.

    Plan shape: the corpus collapses to per-key counts in one
    partial-agg groupBy, then to the (v, f_v) frame — bounded by the
    number of DISTINCT COUNT VALUES, thousands at most — and only that
    tiny frame flows through the single-partition cumulative window.
    """
    gc = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    x = df.groupBy(*gc).agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    vf = x.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    from pyspark.sql.window import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    blocks = vf.select(
        "v",
        "f",
        (F.sum("f").over(w) - F.col("f")).alias("start"),
        # f·(f+1) is even, so div keeps the whole chain in exact int64
        F.expr("f * (f + 1) div 2").alias("_half"),
    )
    contrib = F.col("v") * (
        F.col("f") * F.col("start") + F.col("_half")
    )
    a = blocks.agg(
        F.sum("f").cast("bigint").alias("n_keys"),
        F.sum(F.col("v") * F.col("f")).cast("bigint").alias("total_rows"),
        F.sum(contrib).cast("bigint").alias("_s1"),
    )
    num = 2 * F.col("_s1") - (F.col("n_keys") + 1) * F.col("total_rows")
    den = F.col("n_keys") * F.col("total_rows")
    return a.select(
        "n_keys",
        "total_rows",
        F.when(den > 0, F.floor(num * 1_000_000 / den))
        .cast("bigint")
        .alias("gini_e6"),
    )
