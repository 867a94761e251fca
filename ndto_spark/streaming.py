"""Structured Streaming validation.

The compiled rules are pure Catalyst expressions, so the SAME RuleSet used
for batch binds unchanged to a streaming DataFrame (readStream →
withColumn(violations) → writeStream). This module adds the streaming
shapes around it:

- ``validate_stream``: per-record violation rows (append mode — stateless,
  no shuffle, scales with input rate).
- ``windowed_verdicts``: event-time windowed pass/fail counters with a
  watermark for late data (update/append modes) — the streaming analog of
  per-partition verdicts.

Batch rules that need Python (image batch checks) also work in streaming —
pandas UDFs are supported in Structured Streaming — but table-level rules
(uniqueness, drift) belong in the batch/maintenance path, not per-record
streams.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pyworker import settle
from .runner import PARTITION_COL, RuleSet, _annotate, _result_from_annotated
from .spec import Schema


def validate_stream(
    stream_df: DataFrame,
    rules: dict[str, Schema] | RuleSet,
    key: str,
) -> DataFrame:
    """Streaming violation rows: (key, column, schema_path, keyword,
    description) — append-mode friendly (stateless projection): the
    violations half of the batch ``runner`` result."""
    ruleset = rules if isinstance(rules, RuleSet) else RuleSet(rules)
    annotated = _annotate(stream_df, ruleset.violations_array(stream_df))
    return _result_from_annotated(annotated, key).violations.drop(PARTITION_COL)


def stateful_verdicts(
    stream_df: DataFrame,
    rules: dict[str, Schema] | RuleSet,
    key_col: str,
    timeout_ms: Optional[int] = 30 * 60 * 1000,
) -> DataFrame:
    """Per-key RUNNING validation state — the custom stateful operator.

    For each key (cast to string) emits, once per micro-batch the key
    appears in: (key, n_rows, n_violations, failing_batches,
    failing_streak) where the counters are cumulative across the stream's
    lifetime and failing_streak counts CONSECUTIVE micro-batches with at
    least one violation — the data-quality circuit-breaker signal a
    windowed aggregate cannot express (state must survive across windows).

    Built on ``applyInPandasWithState``: rule evaluation stays in the
    Catalyst projection upstream (only (key, n_violations) reaches Python,
    Arrow-batched), state is one 4-tuple per key, and inactive keys are
    evicted after ``timeout_ms`` of processing time (None disables).
    Output mode: update.
    """
    import pandas as pd  # noqa: F811 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ruleset = rules if isinstance(rules, RuleSet) else RuleSet(rules)
    arr = ruleset.violations_array(stream_df)
    slim = stream_df.withColumn("_nv", F.size(arr)).select(
        F.col(key_col).cast("string").alias("k"), "_nv"
    )
    out_type = (
        "k string, n_rows bigint, n_violations bigint, "
        "failing_batches bigint, failing_streak bigint"
    )
    state_type = "n_rows bigint, n_violations bigint, failing_batches bigint, failing_streak bigint"

    def update(key, pdf_iter, state: GroupState):
        # (the trailing yield makes this a generator on every path)
        settle()
        if state.hasTimedOut:
            state.remove()
            return
        rows = 0
        viols = 0
        for pdf in pdf_iter:
            rows += len(pdf)
            viols += int(pdf["_nv"].sum())
        n_rows, n_viols, failing, streak = (
            state.get if state.exists else (0, 0, 0, 0)
        )
        n_rows += rows
        n_viols += viols
        if viols > 0:
            failing += 1
            streak += 1
        else:
            streak = 0
        state.update((n_rows, n_viols, failing, streak))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [
                {
                    "k": key[0],
                    "n_rows": n_rows,
                    "n_violations": n_viols,
                    "failing_batches": failing,
                    "failing_streak": streak,
                }
            ]
        )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return slim.groupBy("k").applyInPandasWithState(
        update, out_type, state_type, "update", timeout_conf
    )


def _watermarked(stream_df: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """``stream_df`` with an event-time watermark on ``ts_col``. Watermarks
    require TIMESTAMP (with timezone) and parquet often yields NTZ, so an
    NTZ column is cast first."""
    if dict(stream_df.dtypes).get(ts_col) == "timestamp_ntz":
        stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream_df.withWatermark(ts_col, watermark)


def windowed_verdicts(
    stream_df: DataFrame,
    rules: dict[str, Schema] | RuleSet,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed verdicts with late-data watermark.

    (window, n_rows, n_violations, pass) — the per-partition verdict
    contract re-expressed over event-time windows.
    """
    ruleset = rules if isinstance(rules, RuleSet) else RuleSet(rules)
    arr = ruleset.violations_array(stream_df)
    return (
        _watermarked(stream_df.withColumn("violations", arr), ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("window"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.size("violations")).alias("n_violations"),
        )
        .withColumn("pass", F.col("n_violations") == 0)
    )


def dedup_stream(
    stream_df: DataFrame,
    id_col: str,
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST occurrence of each key.

    dropDuplicatesWithinWatermark keeps per-key state only until the
    event-time watermark passes it, so state is bounded by (arrival rate ×
    watermark) instead of growing with the whole stream — the streaming
    analog of dedup.exact_dedup_groups' keeper semantics for re-delivered
    records (at-least-once sources, replayed files, retried producers).
    Duplicates arriving later than ``watermark`` after the first copy are
    NOT caught (state for the key has been dropped) — pick the watermark
    to cover the source's re-delivery horizon, and run the batch exact
    dedup downstream for the long tail.
    """
    return _watermarked(stream_df, ts_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def session_stream(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str,
    watermark: str = "1 second",
    sum_cols: Optional[dict] = None,
) -> DataFrame:
    """Streaming gap-based sessionization: the batch ``temporal.sessionize``
    semantics (a new session starts iff the gap since the key's previous
    event EXCEEDS ``gap``; an exactly-``gap`` delta merges — verified
    parity with ``F.session_window``'s inclusive window-overlap rule) as
    an event-time session-window aggregate.

    Append mode emits each session ONCE, as a final row, when the
    watermark passes the session end (= last event + gap) and its state is
    evicted — so state is bounded by the open sessions per key, not the
    stream length. A session stays open (and unemitted) until the
    watermark advances past its end: a quiet key's last session needs
    later traffic (or a sentinel row, as the gate harness stages) to
    flush. Output: key, session_start, session_end (timestamps), n_events,
    plus one column per ``sum_cols`` entry (pass pre-quantized integer
    expressions — integer sums stay order-independent and engine-exact).
    """
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for name, col in (sum_cols or {}).items():
        aggs.append(F.sum(col).alias(name))
    out = (
        _watermarked(stream_df, ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(*aggs)
    )
    return out.select(
        F.col(key_col),
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *[c for c in out.columns if c not in (key_col, "session_window")],
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    within: str,
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join — the attribution shape
    (impression ⋈ click): a right row matches a left row with the same
    key when ``left_ts <= right_ts <= left_ts + within``, both
    half-bounds INCLUSIVE. ``how``: "inner" (default) or "left_outer" —
    outer emits an unmatched left row (right columns NULL) only when the
    watermark proves nothing can still match it, i.e. on state EVICTION;
    a quiet stream's tail needs later traffic (or a sentinel row, as the
    gate harness stages) to flush, exactly session_stream's contract.

    This is the Structured Streaming capability batch joins can't fake:
    both sides arrive indefinitely, so each side buffers keyed state and
    the event-time range condition + watermarks tell the engine when a
    buffered row can no longer match anything and its state is DROPPED —
    left rows live ~``left_watermark + within`` past the right-side
    watermark, right rows ~``right_watermark``. Without the interval
    bound, stream-stream state grows with the whole stream; with it,
    state is bounded by (rate × horizon) per side.

    Inner matches emit as soon as both sides have arrived (append mode —
    no waiting for watermark). Late rows behind a
    side's watermark may be silently dropped: pick watermarks to cover
    each source's disorder horizon. Output: both frames' columns (the
    caller projects; key/ts columns keep their names, so rename upstream
    on collision).

    Plan shape: the join keys on (key, time-bucket) internally —
    ordinary shuffle partitioning by key, per-key state in the state
    store; no broadcast, no cross product. The ``within`` horizon is the
    state-size knob — attribution windows of minutes-to-hours keep state
    tiny regardless of corpus size.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    for df, ts in ((left, left_ts), (right, right_ts)):
        if dict(df.dtypes).get(ts) == "timestamp_ntz":
            raise ValueError(
                f"{ts} is TIMESTAMP_NTZ — cast to TIMESTAMP before the "
                "watermark (parquet often yields NTZ; see dedup_stream)"
            )
    lw = left.withWatermark(left_ts, left_watermark)
    rw = right.withWatermark(right_ts, right_watermark)
    cond = (
        (lw[key_col] == rw[key_col])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how)
