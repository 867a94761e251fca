"""Structured Streaming validation: same rules, streaming source."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ndto_spark.streaming import validate_stream, windowed_verdicts

EVENT_RULES = {
    "event_type": {"enum": ["click", "view", "purchase", "signup"]},
    "value": {"type": "float", "minimum": 0, "exclusive_minimum": True, "maximum": 400},
}


@pytest.fixture()
def events_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch.write.parquet(src)
    return spark.readStream.schema(batch.schema).parquet(src), batch


def test_stream_violations_match_batch(spark, events_stream, tmp_path):
    stream, batch = events_stream
    out = validate_stream(stream, EVENT_RULES, key="event_id")
    q = (
        out.writeStream.format("memory")
        .queryName("viols")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from viols")
    from ndto_spark.runner import validate

    want = validate(batch, EVENT_RULES, key="event_id").violations.drop("partition_id")
    assert got.count() == want.count() > 0
    key = ["event_id", "column", "schema_path", "keyword", "description"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, want.select(*key).collect())
    )


def test_windowed_verdicts(spark, events_stream, tmp_path):
    stream, batch = events_stream
    out = windowed_verdicts(
        stream, EVENT_RULES, ts_col="ts", window_duration="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("verdicts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from verdicts").collect()
    assert sum(r.n_rows for r in rows) == batch.count()
    assert any(not r["pass"] for r in rows)


def test_stateful_verdicts_streak_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-key cumulative counters + failing streak.

    Two source files processed as separate micro-batches
    (maxFilesPerTrigger=1 + availableNow). Key 'a' fails in both batches
    (streak 2), 'b' is clean in both (streak 0), 'c' fails in exactly one
    (failing_batches 1; streak depends on file order, so not asserted).
    """
    from ndto_spark.streaming import stateful_verdicts

    src = tmp_path / "src"
    src.mkdir()
    f1 = [("a", 1), ("a", -1), ("b", 2), ("c", -7)]
    f2 = [("a", -5), ("b", 3), ("c", 7)]
    spark.createDataFrame(f1, "k string, v bigint").coalesce(1).write.parquet(
        str(src / "f1.parquet")
    )
    spark.createDataFrame(f2, "k string, v bigint").coalesce(1).write.parquet(
        str(src / "f2.parquet")
    )
    stream = (
        spark.readStream.schema("k string, v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = stateful_verdicts(stream, {"v": {"type": "integer", "minimum": 0}}, "k")
    q = (
        out.writeStream.format("memory")
        .queryName("stateful")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stateful").collect()
    # update mode appends one row per (key, batch); the final state per key
    # is the row with the highest cumulative n_rows
    final = {}
    for r in rows:
        if r.k not in final or r.n_rows > final[r.k].n_rows:
            final[r.k] = r
    a, b, c = final["a"], final["b"], final["c"]
    assert (a.n_rows, a.n_violations, a.failing_batches, a.failing_streak) == (3, 2, 2, 2)
    assert (b.n_rows, b.n_violations, b.failing_batches, b.failing_streak) == (2, 0, 0, 0)
    assert (c.n_rows, c.n_violations, c.failing_batches) == (2, 1, 1)


def test_dedup_stream_emits_first_occurrence_only(spark, tmp_path):
    """Re-delivered records are invisible downstream: 450 staged rows (the
    200-row slice twice plus 50 more copies, one file = one micro-batch)
    emit exactly the 200 distinct events."""
    import uuid

    from ndto_spark.streaming import dedup_stream

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(200)
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    ev.union(ev).union(ev.limit(50)).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = dedup_stream(stream, "event_id", "ts", watermark="10 minutes")
    qn = "dd_" + uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(qn).outputMode("append")
        .option("checkpointLocation", ck).trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120)
        got = spark.table(qn)
        assert got.count() == 200
        assert got.select("event_id").distinct().count() == 200
    finally:
        q.stop()
        spark.catalog.dropTempView(qn)


def test_session_stream_flushes_on_sentinel(spark, tmp_path):
    """Append-mode session_window: sessions emit once the watermark passes
    their end — staged sentinel batch advances it past every real session
    (the gate-harness shape); exact-gap delta merges (sessionize parity)."""
    import datetime as dt
    import os
    import shutil

    from ndto_spark.streaming import session_stream

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 5.0),
        (1, t0 + dt.timedelta(hours=24), 1.0),      # delta == gap: merges
        (1, t0 + dt.timedelta(hours=72), 2.0),      # gap 48h > 24h: new
        (2, t0 + dt.timedelta(hours=71), 3.0),      # session near stream end
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = tmp_path / "src"
    src.mkdir()

    def put(d, name, tsec):
        out = str(tmp_path / "_b")
        d.coalesce(1).write.mode("overwrite").parquet(out)
        part = next(
            f for f in os.listdir(out)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = str(src / name)
        shutil.move(os.path.join(out, part), dst)
        shutil.rmtree(out, ignore_errors=True)
        os.utime(dst, (tsec, tsec))

    put(df, "b0.parquet", 1_600_000_000)
    sentinel = spark.createDataFrame(
        [(-1, dt.datetime(2100, 1, 1), 0.0)],
        "user_id long, ts timestamp, value double",
    )
    put(sentinel, "b1.parquet", 1_600_003_600)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = session_stream(
        stream, "user_id", "ts", "24 hours",
        sum_cols={"cents": F.floor(F.col("value") * 100).cast("long")},
    )
    sink = str(tmp_path / "out")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["cents"])
        for r in spark.read.parquet(sink)
        .filter(F.col("user_id") >= 0)
        .collect()
    }
    day = dt.timedelta(hours=24)
    assert got == {
        (1, t0, t0 + 2 * day, 2, 600),
        (1, t0 + 3 * day, t0 + 4 * day, 1, 200),
        (2, t0 + dt.timedelta(hours=71), t0 + dt.timedelta(hours=95), 1, 300),
    }


def test_streaming_image_decode_matches_batch(spark, tmp_path):
    """decode_image_features is stateless, so binding it to a readStream
    must reproduce the batch rows exactly (the stream_image_features gate
    at fixture scale)."""
    from ndto_spark import fixtures
    from ndto_spark.multimodal import decode_image_features

    src = str(tmp_path / "src")
    fixtures.synth_feature_images(spark, 50, n_partitions=2).write.parquet(src)
    batch = {
        tuple(r)
        for r in decode_image_features(spark.read.parquet(src)).collect()
    }
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    stream = spark.readStream.schema("image_id string, bytes binary").parquet(
        src
    )
    q = (
        decode_image_features(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    assert got == batch and len(got) == 50


def test_stream_interval_join_bounds_and_key(spark, tmp_path):
    """Inner interval join: inclusive [l.ts, l.ts + within] bounds, key
    equality, and the NTZ guard. Hand-built views/clicks with matches at
    the exact boundaries, one inside, one outside, one wrong-key."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows, name):
        src = str(tmp_path / name)
        df = spark.createDataFrame(
            rows, "id bigint, user_id bigint, ts timestamp"
        )
        df.write.parquet(src)
        return spark.readStream.schema(df.schema).parquet(src)

    views = mk([(1, 7, t0), (2, 8, t0)], "views")
    clicks = mk(
        [
            (10, 7, t0),                                # lower bound: ts == view ts
            (11, 7, t0 + dt.timedelta(minutes=60)),     # upper bound, inclusive
            (12, 7, t0 + dt.timedelta(minutes=61)),     # past the window
            (13, 9, t0 + dt.timedelta(minutes=5)),      # no matching view key
            (14, 8, t0 + dt.timedelta(minutes=30)),     # other key, inside
        ],
        "clicks",
    )
    from ndto_spark.streaming import stream_interval_join

    out = stream_interval_join(
        views.withColumnRenamed("id", "view_id"),
        clicks.withColumnRenamed("id", "click_id")
        .withColumnRenamed("user_id", "c_user")
        .withColumnRenamed("ts", "c_ts")
        .withColumnRenamed("c_user", "user_id"),
        "user_id", "ts", "c_ts", "60 minutes",
        left_watermark="365 days", right_watermark="365 days",
    )
    q = (
        out.select("view_id", "click_id")
        .writeStream.format("memory")
        .queryName("ivj")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.view_id, r.click_id) for r in spark.sql("select * from ivj").collect()}
    assert got == {(1, 10), (1, 11), (2, 14)}

    import pytest as _pytest

    ntz = spark.createDataFrame(
        [(1, 1, t0)], "id bigint, user_id bigint, ts timestamp_ntz"
    )
    with _pytest.raises(ValueError, match="TIMESTAMP_NTZ"):
        stream_interval_join(ntz, ntz, "user_id", "ts", "ts", "1 hour")


def test_stream_interval_join_left_outer_flushes_unmatched(spark, tmp_path):
    """Left-outer: matched views emit their pairs; a never-matched view
    emits ONE null row when the watermark (0s delay, advanced by the
    latest click) proves nothing can still match it."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows, schema, name):
        src = str(tmp_path / name)
        df = spark.createDataFrame(rows, schema)
        df.write.parquet(src)
        return spark.readStream.schema(df.schema).parquet(src)

    views = mk(
        [
            (1, 7, t0),
            (3, 9, t0),
            # far-future sentinel: the query-wide watermark is the MIN
            # across both sides, so the LEFT side needs an advancer too
            # before unmatched state can flush (itself stays unflushed)
            (99, 99, t0 + dt.timedelta(minutes=62)),
        ],
        "view_id bigint, user_id bigint, ts timestamp",
        "lviews",
    )
    clicks = mk(
        [
            (10, 7, t0 + dt.timedelta(minutes=5)),
            (11, 7, t0 + dt.timedelta(minutes=61)),  # outside; advances wm
        ],
        "click_id bigint, c_user bigint, c_ts timestamp",
        "lclicks",
    )
    from ndto_spark.streaming import stream_interval_join

    out = stream_interval_join(
        views,
        clicks.withColumnRenamed("c_user", "user_id"),
        "user_id", "ts", "c_ts", "60 minutes",
        left_watermark="0 seconds", right_watermark="0 seconds",
        how="left_outer",
    )
    q = (
        out.select("view_id", "click_id")
        .writeStream.format("memory")
        .queryName("livj")
        .option("checkpointLocation", str(tmp_path / "lck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.view_id, r.click_id)
        for r in spark.sql("select * from livj").collect()
    }
    assert got == {(1, 10), (3, None)}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="how must be"):
        stream_interval_join(
            views, clicks, "user_id", "ts", "c_ts", "1 hour", how="full"
        )


def test_run_stream_timeout_stops_query_and_cleans_up(
    spark, events_stream, tmp_path, monkeypatch
):
    """A gate replay that does not finish in time raises TimeoutError and
    leaves no running query, no checkpoint or sink dir and no changed
    shuffle-partitions conf behind."""
    import tempfile

    from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

    from ndto_spark.queries import _run_stream

    stream, _ = events_stream
    work = tmp_path / "tmp"
    work.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(work))
    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        started.append(real_start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", start)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        with pytest.raises(TimeoutError):
            _run_stream(stream, "append", "slow", stream.schema)
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, before)
    assert len(started) == 1 and not started[0].isActive
    assert not list(work.glob("ndto_slow_ck_*"))
    assert not list(work.glob("ndto_slow_out_*"))
