"""Codec roundtrip + images fixture + batch validation golden tests.

The seeded violation classes (fixtures module docstring) are the oracle:
every expected (row, check) pair must appear in the violations output, and
no clean row may produce one.
"""

from __future__ import annotations

import re
import struct
import zlib
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from ndto_spark import batch, codecs, fixtures

N = 400
SEED = 42


# --- pure codec tests (no Spark) ---------------------------------------------


def test_png_roundtrip_exact():
    pixels = fixtures.image_pixels(SEED, 123)
    data = codecs.png_encode(pixels)
    fmt, decoded = codecs.decode(data)
    assert fmt == "png"
    assert np.array_equal(decoded, pixels)


def test_fake_jpeg_lossy_but_close():
    pixels = fixtures.image_pixels(SEED, 7)
    good = codecs.fake_jpeg_encode(pixels, quality=90)
    fmt, dec = codecs.decode(good)
    assert fmt == "jpeg"
    assert not np.array_equal(dec, pixels)  # genuinely lossy
    assert codecs.psnr(pixels, dec) >= 40.0
    bad = codecs.fake_jpeg_encode(pixels, quality=10)
    _, dec_bad = codecs.decode(bad)
    assert codecs.psnr(pixels, dec_bad) < 40.0


def test_corrupt_bytes_raise():
    pixels = fixtures.image_pixels(SEED, 5)
    data = codecs.png_encode(pixels)
    with pytest.raises(ValueError):
        codecs.png_decode(data[: len(data) // 2])
    with pytest.raises(ValueError):
        codecs.decode(b"garbage bytes here!")


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def _png(w: int, h: int, idat: bytes) -> bytes:
    """An RGB8 PNG around a given IDAT payload, built by hand."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        codecs.PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _cut_payloads() -> dict[str, bytes]:
    pixels = fixtures.image_pixels(SEED, 5)
    h, w = pixels.shape[:2]
    png = codecs.png_encode(pixels)
    jpeg = codecs.fake_jpeg_encode(pixels)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return {
        "png_in_magic": png[:5],
        "png_in_ihdr_crc": png[:31],
        "png_in_idat": png[: len(png) // 2],
        "png_in_idat_crc": png[:-14],
        "png_without_iend": png[:-12],
        "png_in_iend": png[:-6],
        "png_cut_zlib_stream": _png(w, h, zlib.compress(raw)[:-5]),
        "jpeg_in_header": jpeg[:12],
        "jpeg_cut_zlib_stream": jpeg[:-5],
    }


@pytest.mark.parametrize("case", sorted(_cut_payloads()))
def test_cut_payload_raises_value_error(case):
    data = _cut_payloads()[case]
    with pytest.raises(ValueError):
        codecs.decode(data)
    # the check kernel reports the plain ValueError in the $.decode text
    out = batch.image_check_udf(SEED).func(
        pd.Series([fixtures.image_id_str(SEED, 5)]),
        pd.Series([data]),
        pd.Series([fixtures.caption_text(SEED, 5)]),
    )
    assert not out["decode_ok"][0]
    assert out["err"][0].startswith("ValueError: ")


@pytest.mark.parametrize("fmt", ["png", "jpeg"])
def test_every_cut_point_raises_value_error(fmt):
    pixels = fixtures.image_pixels(SEED, 6)
    data = (
        codecs.png_encode(pixels)
        if fmt == "png"
        else codecs.fake_jpeg_encode(pixels)
    )
    for cut in range(len(data)):
        with pytest.raises(ValueError):
            codecs.decode(data[:cut])
    assert codecs.decode(data)[1].shape == pixels.shape


def _unfilter_reference(filters: list[int], lines: np.ndarray) -> np.ndarray:
    """PNG spec unfiltering, one byte at a time (3 bytes per pixel)."""
    h, stride = lines.shape
    out = [[0] * stride for _ in range(h)]
    for y in range(h):
        for x in range(stride):
            a = out[y][x - 3] if x >= 3 else 0
            b = out[y - 1][x] if y > 0 else 0
            c = out[y - 1][x - 3] if y > 0 and x >= 3 else 0
            f = filters[y]
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            out[y][x] = (int(lines[y, x]) + pred) % 256
    return np.array(out, dtype=np.uint8)


def test_png_filters_1_to_4_match_reference_unfilter():
    filters = [1, 0, 2, 3, 4, 0, 4, 2]
    h, w = len(filters), 5
    lines = np.random.default_rng(3).integers(
        0, 256, size=(h, w * 3), dtype=np.uint8
    )
    raw = b"".join(bytes([f]) + lines[y].tobytes() for y, f in enumerate(filters))
    decoded = codecs.png_decode(_png(w, h, zlib.compress(raw)))
    expected = _unfilter_reference(filters, lines).reshape(h, w, 3)
    assert np.array_equal(decoded, expected)


def test_png_bad_filter_byte_raises():
    raw = b"\x05" + bytes(6)
    with pytest.raises(ValueError, match="bad filter byte 5"):
        codecs.png_decode(_png(2, 1, zlib.compress(raw)))


def test_make_row_deterministic():
    a, b = fixtures.make_row(SEED, 57), fixtures.make_row(SEED, 57)
    assert a == b
    assert fixtures.make_row(SEED, 58) != a


# --- Spark pipeline -------------------------------------------------------------


@pytest.fixture(scope="module")
def images_result(spark):
    from ndto_spark.images import validate_images

    df = fixtures.synth_images(spark, N, n_partitions=4, seed=SEED).cache()
    res = validate_images(df, seed=SEED)
    viols = res.violations.collect()
    verdicts = res.verdicts.collect()
    df.unpersist()
    return viols, verdicts


def _ids_for(viols, schema_path):
    return sorted(
        fixtures.row_id_of(v.image_id)
        for v in viols
        if v.schema_path == schema_path and v.image_id is not None
    )


def test_seeded_violations_detected(images_result):
    viols, _ = images_result
    exp = fixtures.expected_violation_classes(N)
    assert _ids_for(viols, "$.decode") == exp[0]
    # class 7 (declared w=0) also disagrees with decoded width → dimensions
    assert _ids_for(viols, "$.dimensions") == sorted(exp[1] + exp[7])
    # class 6 (fmt='gif') also disagrees with the detected format
    assert _ids_for(viols, "$.format") == sorted(exp[2] + exp[6])
    assert _ids_for(viols, "$.min_length") == exp[3]  # empty caption
    assert _ids_for(viols, "$.max_length") == exp[4]  # overlong caption
    assert _ids_for(viols, "$.type") == exp[5]  # null caption → type viol
    # fmt='gif' fails the enum (path '$' — bare prefix, ndto parity)
    assert _ids_for(viols, "$") == exp[6]
    assert _ids_for(viols, "$.minimum") == exp[7]  # w = 0
    assert _ids_for(viols, "$.psnr") == exp[11]


def test_null_image_id_flagged(images_result):
    viols, _ = images_result
    null_id_viols = [v for v in viols if v.image_id is None]
    # class 9 rows: null image_id → string type violation on image_id
    exp = fixtures.expected_violation_classes(N)
    assert len([v for v in null_id_viols if v.column == "image_id"]) == len(exp[9])


def test_duplicates_flagged(images_result):
    viols, _ = images_result
    dup_viols = [v for v in viols if v.keyword == "unique"]
    exp = fixtures.expected_violation_classes(N)
    # each duplicated key appears once in the uniqueness output
    assert len(dup_viols) == len(exp[8])
    for v in dup_viols:
        assert "2 times" in v.description


def test_caption_equality_checked(images_result):
    viols, _ = images_result
    # seeded caption mutations (empty / overlong) also fail reference equality
    cap_eq = {fixtures.row_id_of(v.image_id) for v in viols if v.keyword == "caption_equality"}
    exp = fixtures.expected_violation_classes(N)
    assert set(exp[3]) <= cap_eq
    assert set(exp[4]) <= cap_eq


def test_clean_rows_have_no_violations(images_result):
    viols, _ = images_result
    flagged = {
        fixtures.row_id_of(v.image_id) for v in viols if v.image_id is not None
    }
    exp = fixtures.expected_violation_classes(N)
    seeded = set().union(*exp.values())
    # duplicates copy row id-12 → the copied id is flagged by uniqueness
    seeded |= {i - 12 for i in exp[8]}
    clean = set(range(N)) - seeded
    assert flagged & clean == set()


def test_verdicts_account_for_all_rows(images_result):
    viols, verdicts = images_result
    assert sum(v.n_rows for v in verdicts) == N
    total = sum(v.n_violations for v in verdicts)
    assert total == len(viols)
    assert not all(v["pass"] for v in verdicts)


def test_clear_stale_dir_never_deletes_a_complete_cache(tmp_path):
    import os

    from ndto_spark.fixtures import _clear_stale_dir

    # a marker-less (crashed-writer) dir is reclaimed
    stale = tmp_path / "cache_a"
    stale.mkdir()
    (stale / "part-0.parquet").write_bytes(b"x")
    _clear_stale_dir(str(stale), "_SUCCESS")
    assert not stale.exists()

    # a COMPLETE cache (the TOCTOU case: the winner's rename landed
    # between the caller's marker check and the cleanup) survives intact
    done = tmp_path / "cache_b"
    done.mkdir()
    (done / "part-0.parquet").write_bytes(b"x")
    (done / "_SUCCESS").touch()
    _clear_stale_dir(str(done), "_SUCCESS")
    assert done.exists() and (done / "_SUCCESS").exists()
    assert (done / "part-0.parquet").read_bytes() == b"x"

    # a missing dir is a no-op
    _clear_stale_dir(str(tmp_path / "nope"), "_SUCCESS")


def test_pair_quality_filter_priority_and_thresholds(spark):
    from ndto_spark.images import pair_quality_filter

    rows = [
        # id, w, h, fmt, caption, expected reason (None = keep)
        ("a", 100, 100, "png", "a cat", None),
        (None, 100, 100, "png", "x", "missing_id"),          # id beats all
        ("c", 0, 100, "gif", None, "missing_caption"),       # caption beats fmt/dim
        ("d", 100, 100, "png", "", "empty_caption"),
        ("e", 100, 100, "png", "y" * 300, "caption_too_long"),
        ("f", 100, 100, "png", "w " * 70, "caption_too_many_tokens"),
        ("g", 100, 100, "webp", "ok", "bad_format"),
        ("h", 0, 100, "png", "ok", "too_small"),
        ("i", 500, 100, "png", "ok", "extreme_aspect"),
        ("j", 400, 100, "png", "ok", None),                  # 4:1 inclusive
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4]) for r in rows],
        "image_id string, w int, h int, fmt string, caption string",
    )
    got = {
        r.image_id: (r.keep, r.fail_reason)
        for r in pair_quality_filter(df).collect()
    }
    for iid, _, _, _, _, want in rows:
        assert got[iid] == (want is None, want), (iid, got[iid], want)


def test_metadata_consistency_verdicts_per_seeded_class(spark):
    from ndto_spark import fixtures
    from ndto_spark.images import metadata_consistency

    # 300 rows: each residue class appears 3x
    df = fixtures.synth_images(spark, 300, n_partitions=4, seed=42)
    rows = metadata_consistency(df).collect()
    assert len(rows) == 300
    by_id = {}
    for r in rows:
        by_id.setdefault(r.image_id, []).append(r)
    # v=0: truncated -> decode fails, matches NULL
    r0 = by_id["img_0000000000000000"][0]
    assert (r0.decode_ok, r0.dims_match, r0.fmt_match) == (False, None, None)
    # v=1: declared w+5 -> dims mismatch, fmt fine
    r1 = by_id["img_0000000000000001"][0]
    assert (r1.decode_ok, r1.dims_match, r1.fmt_match) == (True, False, True)
    # v=2: declared fmt swapped -> fmt mismatch, dims fine
    r2 = by_id["img_0000000000000002"][0]
    assert (r2.decode_ok, r2.dims_match, r2.fmt_match) == (True, True, False)
    # v=6: declared gif -> fmt mismatch
    r6 = by_id["img_0000000000000006"][0]
    assert (r6.decode_ok, r6.dims_match, r6.fmt_match) == (True, True, False)
    # v=7: declared w=0 -> dims mismatch
    r7 = by_id["img_0000000000000007"][0]
    assert (r7.decode_ok, r7.dims_match, r7.fmt_match) == (True, False, True)
    # clean row: everything consistent
    r10 = by_id["img_000000000000000a"][0]
    assert (r10.decode_ok, r10.dims_match, r10.fmt_match) == (True, True, True)


def test_validate_images_is_one_annotated_scan(spark, tmp_path):
    """The verdicts plan reads the table twice: the annotated scan (the
    only one that reads bytes, with the one Arrow UDF) and the uniqueness
    count; no join, and two exchanges — the uniqueness count's and the
    one groupBy(partition_id) over the per-row counts and the table-level
    rows. Each verdict agrees with the violations and the input partitions
    it reports on."""
    from pyspark.sql import functions as F

    from ndto_spark.images import validate_images

    path = str(tmp_path / "images")
    fixtures.synth_images(spark, N, n_partitions=4, seed=SEED).write.parquet(path)
    df = spark.read.parquet(path)
    res = validate_images(df, seed=SEED)

    plan = res.verdicts._jdf.queryExecution().executedPlan().toString()
    scans = [line for line in plan.splitlines() if "FileScan parquet" in line]
    assert plan.count("ArrowEvalPython") == 1
    assert len(scans) == 2
    assert sum("bytes" in line.split("ReadSchema:")[1] for line in scans) == 1
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\bExchange\b", plan)) == 2

    verdicts = {v.partition_id: v for v in res.verdicts.collect()}
    per_part = Counter(v.partition_id for v in res.violations.collect())
    assert set(per_part) <= set(verdicts)
    for pid, v in verdicts.items():
        assert v.n_violations == per_part[pid]
        assert v["pass"] == (v.n_violations == 0)
    rows = {
        r.pid: r["count"]
        for r in df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    }
    assert {p: v.n_rows for p, v in verdicts.items() if p != -1} == rows

    n_dup_keys = (
        df.filter(F.col("image_id").isNotNull())
        .groupBy("image_id")
        .count()
        .filter("count > 1")
        .count()
    )
    assert n_dup_keys == len(fixtures.expected_violation_classes(N)[8]) > 0
    assert (verdicts[-1].n_rows, verdicts[-1].n_violations) == (0, n_dup_keys)
    assert not verdicts[-1]["pass"]


def test_validate_images_without_duplicates_has_no_table_verdict(spark):
    from ndto_spark.images import validate_images

    # the first duplicate row is row 108 (row_id % 100 == 8, copy of 96)
    df = fixtures.synth_images(spark, 100, n_partitions=2, seed=SEED)
    verdicts = validate_images(df, seed=SEED).verdicts.collect()
    assert -1 not in {v.partition_id for v in verdicts}
    assert sum(v.n_rows for v in verdicts) == 100
