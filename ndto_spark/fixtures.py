"""Deterministic synthesis of the image+caption table (input_hint shape).

images(image_id string, bytes binary, w int, h int, fmt string,
       caption string, phash bigint)

Generation is DISTRIBUTED (mapInPandas over spark.range — no driver-side
loops): every row is a pure function of its row id + seed, so any subset of
rows can be regenerated anywhere (this is also what lets the batch
validators recompute reference pixels per row and check PSNR without
shipping originals). ~1% of rows per violation class are seeded
deterministically; `expected_violations` lists them for golden tests.

Violation classes (by row_id % 100):
   0 → corrupted bytes (truncated payload)        → $.decode
   1 → declared w disagrees with decoded width    → $.dimensions
   2 → fmt column says the other format           → $.format (consistency)
   3 → caption empty                              → $.caption.min_length
   4 → caption overlong (> 256)                   → $.caption.max_length
   5 → caption null                               → $.caption.type
   6 → fmt = 'gif' (out of enum)                  → $.fmt (enum)
   7 → w out of bounds (0)                        → $.w.minimum
   8 → full-row duplicate (copies clean row id-12) → uniqueness rule
   9 → null image_id                              → $.image_id.type
  11 → low-quality lossy payload (PSNR < 40 dB)   → $.psnr (only odd ids
       are jpeg, so the lossy class sits on an odd residue)
Skew: rows with row_id % 20 == 19 (5%) share ONE hot phash value — the skew
the phash range-repartition has to absorb.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np

from . import codecs
from .pyworker import settle

CAPTION_VOCAB = (
    "the a red green blue small large cat dog tree house sky boat river "
    "mountain bird cloud light shadow stone"
).split()

HOT_PHASH = 4242424242

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash bigint"
)


# One Philox for every _rng call: constructing a Philox reads OS entropy it
# then discards (~17 us), twice per row in the batch validators.
_PHILOX = np.random.Philox(0)
_GEN = np.random.Generator(_PHILOX)


def _rng(seed: int, row_id: int) -> np.random.Generator:
    """The stream of ``Generator(Philox(key=[seed, row_id]))``: the shared
    Philox is reset to that key at counter 0 with an empty buffer. The
    returned generator is valid only until the next ``_rng`` call, from any
    thread of the process."""
    _PHILOX.state = {
        "bit_generator": "Philox",
        "state": {
            "counter": np.zeros(4, dtype=np.uint64),
            "key": np.array([seed, row_id], dtype=np.uint64),
        },
        "buffer": np.zeros(4, dtype=np.uint64),
        "buffer_pos": 4,
        "has_uint32": 0,
        "uinteger": 0,
    }
    return _GEN


def image_pixels(seed: int, row_id: int) -> np.ndarray:
    """Reference pixels for a row — the per-row invariant oracle."""
    rng = _rng(seed, row_id)
    h = int(rng.integers(8, 25))
    w = int(rng.integers(8, 25))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8).astype(np.uint8)


def image_id_str(seed: int, row_id: int) -> str:
    """Invertible id: 'img_' + zero-padded hex row id.

    Matches the '^img_[0-9a-f]{16}$' key pattern AND lets the batch
    validators recover the row id to regenerate reference pixels (the
    per-row PSNR invariant) without shipping originals.
    """
    return f"img_{row_id:016x}"


def row_id_of(image_id: str) -> int:
    return int(image_id[4:], 16)


def caption_text(seed: int, row_id: int) -> str:
    rng = _rng(seed * 17 + 3, row_id)
    n = int(rng.integers(3, 12))
    words = [CAPTION_VOCAB[int(i)] for i in rng.integers(0, len(CAPTION_VOCAB), n)]
    return " ".join(words)


def phash_of(pixels: np.ndarray) -> int:
    """Toy perceptual hash: sign bits of a 4x4 mean-pooled grid vs its mean."""
    h, w, _ = pixels.shape
    g = pixels.astype(np.float64).mean(axis=2)
    ys = np.linspace(0, h, 5, dtype=int)
    xs = np.linspace(0, w, 5, dtype=int)
    cells = np.array(
        [
            g[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
            for i in range(4)
            for j in range(4)
        ]
    )
    bits = (cells > cells.mean()).astype(np.int64)
    return int((bits * (1 << np.arange(16))).sum())


def make_row(seed: int, row_id: int) -> dict:
    v = row_id % 100
    if v == 8 and row_id >= 12:
        # full-row duplicate of a clean row ((row_id-12) % 100 == 96):
        # same image_id, bytes, caption — caught by the uniqueness rule
        return make_row(seed, row_id - 12)
    pixels = image_pixels(seed, row_id)
    h, w = pixels.shape[:2]
    fmt = "png" if row_id % 2 == 0 else "jpeg"
    if fmt == "png":
        payload = codecs.png_encode(pixels)
    elif v == 11:
        payload = codecs.fake_jpeg_encode(pixels, quality=10)  # PSNR < 40
    else:
        payload = codecs.fake_jpeg_encode(pixels, quality=90)

    image_id: Optional[str] = image_id_str(seed, row_id)
    caption: Optional[str] = caption_text(seed, row_id)
    decl_w, decl_h, decl_fmt = w, h, fmt

    if v == 0:
        payload = payload[: max(8, len(payload) // 2)]
    elif v == 1:
        decl_w = w + 5
    elif v == 2:
        decl_fmt = "jpeg" if fmt == "png" else "png"
    elif v == 3:
        caption = ""
    elif v == 4:
        caption = "x " * 140
    elif v == 5:
        caption = None
    elif v == 6:
        decl_fmt = "gif"
    elif v == 7:
        decl_w = 0
    elif v == 9:
        image_id = None

    phash = HOT_PHASH if row_id % 20 == 19 else phash_of(pixels)
    return {
        "image_id": image_id,
        "bytes": payload,
        "w": decl_w,
        "h": decl_h,
        "fmt": decl_fmt,
        "caption": caption,
        "phash": phash,
    }


def synth_images(spark, n_rows: int, n_partitions: int = 8, seed: int = 42):
    """Distributed deterministic images table."""
    import pandas as pd

    base = spark.range(0, n_rows, 1, n_partitions)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        settle()
        for pdf in batches:
            rows = [make_row(seed, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return base.mapInPandas(gen, schema=IMAGES_SCHEMA)


# bump when any synthesis function changes output for the same key — the
# /tmp caches are keyed by (version, n_rows, n_partitions, seed), so a
# stale-vintage cache can never silently feed the oracle-gated queries
FIXTURES_VERSION = "v2"


def images_cache_path(n_rows: int, n_partitions: int, seed: int) -> str:
    return (
        f"/tmp/ndto_bench_images_{FIXTURES_VERSION}"
        f"_n{n_rows}_p{n_partitions}_s{seed}"
    )


def _cached_parquet(spark, path: str, make):
    """Materialize make() to ``path`` once, atomically, and read it back.

    Concurrent bench/gate runs race on the same key: each writes its own
    claim dir, the first rename wins (rename is atomic), losers discard
    their claim and read the winner's fully-written cache. A stale dir
    without _SUCCESS (crashed writer) is moved ASIDE atomically and only
    then deleted — never rmtree'd in place, so a winner completing its
    rename between our marker check and the cleanup is either left alone
    (the aside-rename fails: someone else claimed) or detected complete
    inside the aside dir and put back. A bare rmtree had a TOCTOU window
    that could delete a fully-built cache out from under concurrent
    readers mid-read.
    """
    import os
    import shutil
    import uuid

    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        _clear_stale_dir(path, "_SUCCESS")
    if not os.path.exists(marker):
        tmp = f"{path}.claim-{uuid.uuid4().hex[:8]}"
        make().write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def _clear_stale_dir(path: str, marker_name: str) -> None:
    """Remove a marker-less cache dir without the rmtree TOCTOU race.

    Atomically rename the dir aside; if the aside copy turns out to hold
    the marker (we yanked a winner that completed between the caller's
    check and our rename), rename it straight back — readers resolve by
    ``path``, and the round-trip is two atomic renames with no deletion.
    """
    import os
    import shutil
    import uuid

    if not os.path.isdir(path):
        return
    aside = f"{path}.stale-{uuid.uuid4().hex[:8]}"
    try:
        os.rename(path, aside)
    except OSError:
        return  # someone else moved/claimed it meanwhile
    if os.path.exists(os.path.join(aside, marker_name)):
        try:
            os.rename(aside, path)
        except OSError:
            # a new winner landed in the meantime — keep theirs, drop ours
            shutil.rmtree(aside, ignore_errors=True)
    else:
        shutil.rmtree(aside, ignore_errors=True)


def synth_images_cached(
    spark, n_rows: int, n_partitions: int = 8, seed: int = 42
):
    """synth_images materialized once to /tmp parquet and reused.

    Synthesis is mapInPandas work that would otherwise be re-executed by
    every action on the returned frame (and re-timed by every benchmark of
    a downstream pipeline); a real deployment reads the images table from
    storage, so the cached-parquet read IS the representative input path.
    Gate queries and the bench share one cache (images_cache_path)."""
    return _cached_parquet(
        spark,
        images_cache_path(n_rows, n_partitions, seed),
        lambda: synth_images(spark, n_rows, n_partitions, seed),
    )


def expected_violation_classes(n_rows: int) -> dict[int, list[int]]:
    """violation class → sorted row_ids seeded with it (for golden tests)."""
    out: dict[int, list[int]] = {v: [] for v in list(range(10)) + [11]}
    for i in range(n_rows):
        v = i % 100
        if v in out and not (v == 8 and i < 12):
            out[v].append(i)
    return out


def synth_documents(
    spark,
    n_rows: int,
    n_partitions: int = 32,
    seed: int = 42,
    n_tokens: int = 40,
    dup_every: int = 7,
    mutate_every: int = 41,
):
    """Deterministic text corpus with PLANTED near-duplicates, generated
    entirely expression-side (scales to any n on any cluster — no driver
    data, no Python).

    Row i's text is ``n_tokens`` pseudo-words drawn by md5 from (seed, i,
    position). Every ``dup_every``-th row instead reuses row i-1's word
    stream with every ``mutate_every``-th position replaced — with the
    default (> n_tokens) only position 0 changes, killing ~5 of the ~36
    5-gram shingles: Jaccard ≈ 0.76, a solid near-duplicate. (A mutation
    every few positions shreds most k-gram shingles and the pair drops
    BELOW a 0.5 threshold — k-gram similarity decays k shingles per edit.)
    Used anywhere a large deterministic text table is needed.
    """
    from pyspark.sql import functions as F

    from .dedup import md5_low32

    base = spark.range(0, n_rows, 1, n_partitions)
    is_dup = (F.col("id") % dup_every == 0) & (F.col("id") > 0)
    src = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))

    def word(id_col, pos: int):
        h = md5_low32(
            F.concat_ws(":", F.lit(str(seed)), id_col.cast("string"), F.lit(str(pos)))
        )
        return F.concat(F.lit("w"), (h % 128).cast("string"))

    toks = [
        F.when(
            is_dup & (F.lit(i % mutate_every) == F.lit(0)),
            word(F.col("id"), i + 1_000_000),
        ).otherwise(word(src, i))
        for i in range(n_tokens)
    ]
    return base.select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *toks).alias("text")
    )


# ---------------------------------------------------------------------------
# Multimodal FEATURE fixtures — closed-form by design. Unlike the images
# table (Philox pixels, only metadata is oracle-expressible), these payloads
# are built so every feature the multimodal operators emit — dims, mean RGB,
# phash, sample rate / RMS / zero-crossing rate, sampled frame indices — is
# an exact SQL expression of the row id. That is what lets the driver gate
# hash-check the Arrow decode paths themselves against DuckDB.

FEATURE_CORRUPT_EVERY = 25  # row_id % 25 == 24 → truncated payload

# phash of a two-tone image whose high half is on the right / left
# (phash_of: 4x4 pooled cells > overall mean → bits at columns {2,3} resp.
# {0,1} for every row: (2^2+2^3)·(1+2^4+2^8+2^12) and (2^0+2^1)·same)
PHASH_RIGHT_HIGH = 52428
PHASH_LEFT_HIGH = 13107


def _two_tone(w: int, h: int, c1: int, c2: int, swap: bool) -> np.ndarray:
    """(h, w, 3) image: left half c1, right half c2 (swapped when ``swap``).

    w is always a multiple of 4, so the half boundary w/2 aligns with the
    phash 4x4 pooling grid: cells {0,1} sit entirely in the left half and
    {2,3} in the right — phash is PHASH_RIGHT_HIGH/PHASH_LEFT_HIGH exactly,
    and mean RGB is exactly (c1+c2)/2 (equal-sized halves).
    """
    lo, hi = (c2, c1) if swap else (c1, c2)
    px = np.empty((h, w, 3), dtype=np.uint8)
    px[:, : w // 2] = lo
    px[:, w // 2 :] = hi
    return px


def feature_image_params(row_id: int) -> tuple[int, int, int, int]:
    """(w, h, c1, c2) for feature-fixture image ``row_id`` (oracle mirror:
    the same arithmetic appears in queries.ORACLE_SQL['image_features'])."""
    w = 8 + 4 * (row_id % 5)
    h = 6 + row_id % 7
    c1 = (row_id * 37 + 11) % 128
    return w, h, c1, c1 + 100


def feature_image_pixels(row_id: int) -> np.ndarray:
    w, h, c1, c2 = feature_image_params(row_id)
    return _two_tone(w, h, c1, c2, swap=row_id % 2 == 1)


def _synth(
    spark, n_rows: int, n_partitions: int, id_col: str, prefix: str, payload_of
):
    """(id_col '<prefix>_%08d', bytes): one distributed pass over
    ``spark.range``; row i's payload is ``payload_of(i)``."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        settle()
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    id_col: [f"{prefix}_{i:08d}" for i in ids],
                    "bytes": [payload_of(i) for i in ids],
                }
            )

    return spark.range(0, n_rows, 1, n_partitions).mapInPandas(
        gen, f"{id_col} string, bytes binary"
    )


def _truncated(payload: bytes, i: int, keep) -> bytes:
    """Every FEATURE_CORRUPT_EVERY-th payload cut to ``keep(payload)``."""
    if i % FEATURE_CORRUPT_EVERY == FEATURE_CORRUPT_EVERY - 1:
        return keep(payload)
    return payload


def _third(payload: bytes) -> bytes:
    return payload[: max(8, len(payload) // 3)]


def synth_feature_images(spark, n_rows: int, n_partitions: int = 4):
    """(image_id 'fi_%08d', bytes): two-tone PNGs; every 25th payload
    truncated (the ok=False path is part of the gated contract)."""
    return _synth(
        spark, n_rows, n_partitions, "image_id", "fi",
        lambda i: _truncated(
            codecs.png_encode(feature_image_pixels(i)), i, _third
        ),
    )


def featimg_cache_path(n_rows: int, n_partitions: int = 4) -> str:
    return (
        f"/tmp/ndto_bench_featimg_{FIXTURES_VERSION}"
        f"_n{n_rows}_p{n_partitions}"
    )


def synth_feature_images_cached(spark, n_rows: int, n_partitions: int = 4):
    return _cached_parquet(
        spark,
        featimg_cache_path(n_rows, n_partitions),
        lambda: synth_feature_images(spark, n_rows, n_partitions),
    )


DUP_IMG_GROUP_MOD = 37  # byte-identity classes for the exact-dedup gate


def synth_dup_images(
    spark, n_rows: int, group_mod: int = DUP_IMG_GROUP_MOD, n_partitions: int = 4
):
    """(image_id 'di_%08d', bytes): byte-level duplicate PNGs by construction.

    Pixels derive from ``row_id % group_mod`` ONLY, so two payloads are
    byte-identical iff their ids share a residue class (the PNG encoder is
    deterministic). feature_image_params is injective for residues < 128
    (c1 = (37r + 11) % 128 walks a full cycle), so distinct residues give
    distinct bytes — the duplicate-group structure is exactly the residue
    partition, which is what lets the DuckDB oracle replay md5-based exact
    image dedup without being able to encode a PNG. No corrupted payloads:
    decode robustness is gated elsewhere (image_features_clips).
    """
    if not 0 < group_mod <= 128:
        raise ValueError("group_mod must be in (0, 128] for byte-injectivity")
    return _synth(
        spark, n_rows, n_partitions, "image_id", "di",
        lambda i: codecs.png_encode(feature_image_pixels(i % group_mod)),
    )


def synth_dup_images_cached(
    spark, n_rows: int, group_mod: int = DUP_IMG_GROUP_MOD, n_partitions: int = 4
):
    return _cached_parquet(
        spark,
        f"/tmp/ndto_bench_dupimg_{FIXTURES_VERSION}"
        f"_n{n_rows}_g{group_mod}_p{n_partitions}",
        lambda: synth_dup_images(spark, n_rows, group_mod, n_partitions),
    )


# phash near-dup fixture: CELL-MASK images. A 16x16 canvas splits into the
# phash 4x4 pooling grid exactly (4x4-px cells); each cell is painted LO=60
# or HI=200 per a 16-bit mask with bit 15 forced ON and bit 0 forced OFF, so
# pooled cell means are exactly 60/200, the overall mean 60 + 8.75*popcount
# sits strictly between them (popcount is always in [1, 15]), and
# phash_of == the mask VERBATIM. Groups of three roles: base mask, a
# hamming-1 single-bit flip, a hamming-2 double flip — planted near-dup
# triples the band join must recover; every 25th payload truncated
# (the ok=False exclusion). The mask arithmetic is integer-only so the
# DuckDB oracle regenerates the phash population the Spark side DECODES.

PHASH_CELL_LO = 60
PHASH_CELL_HI = 200


def phash_image_mask(row_id: int) -> int:
    """The 16-bit mask (== exact phash) of phash-fixture image ``row_id``
    (oracle mirror: queries.ORACLE_SQL['phash_near_dup_images'])."""
    g, r = divmod(row_id, 3)
    m = 0x8000 | (2 * ((g * 2654435761) % 16384))
    if r >= 1:
        m ^= 1 << (1 + g % 14)  # hamming 1 from the base
    if r == 2:
        m ^= 1 << (1 + (g + 5) % 14)  # +5 ≠ 0 mod 14 → a SECOND bit
    return m


def phash_image_pixels(row_id: int) -> np.ndarray:
    m = phash_image_mask(row_id)
    px = np.empty((16, 16, 3), dtype=np.uint8)
    for j in range(16):
        v = PHASH_CELL_HI if (m >> j) & 1 else PHASH_CELL_LO
        px[4 * (j // 4) : 4 * (j // 4) + 4, 4 * (j % 4) : 4 * (j % 4) + 4] = v
    return px


def synth_phash_images(spark, n_rows: int, n_partitions: int = 4):
    """(image_id 'pi_%08d', bytes): cell-mask PNGs; every 25th truncated."""
    return _synth(
        spark, n_rows, n_partitions, "image_id", "pi",
        lambda i: _truncated(
            codecs.png_encode(phash_image_pixels(i)), i, _third
        ),
    )


def synth_phash_images_cached(spark, n_rows: int, n_partitions: int = 4):
    return _cached_parquet(
        spark,
        f"/tmp/ndto_bench_phashimg_{FIXTURES_VERSION}"
        f"_n{n_rows}_p{n_partitions}",
        lambda: synth_phash_images(spark, n_rows, n_partitions),
    )


def audio_clip_params(row_id: int) -> tuple[int, int, int]:
    """(sample_rate, n_samples, amplitude) for clip ``row_id``."""
    sr = (8000, 16000, 44100)[row_id % 3]
    n = 1000 + (row_id * 97) % 3000
    amp = 1000 + (row_id * 37) % 20000
    return sr, n, amp


def audio_clip_samples(row_id: int) -> np.ndarray:
    """Square wave with half-period 2 (+amp,+amp,-amp,-amp,...): every
    feature is closed-form — rms = peak = amp/32768 exactly (all |x| equal,
    and amp/2^15 squares/sqrt round-trips exactly in float64), zero
    crossings = floor((n-1)/2)."""
    sr, n, amp = audio_clip_params(row_id)
    t = np.arange(n)
    return np.where((t // 2) % 2 == 0, amp, -amp).astype(np.int16)


def synth_audio_clips(spark, n_rows: int, n_partitions: int = 4):
    """(clip_id 'au_%08d', bytes): PCM16 mono WAVs; every 25th truncated
    to its first 20 bytes (RIFF magic intact, so no raw-PCM fallback)."""
    return _synth(
        spark, n_rows, n_partitions, "clip_id", "au",
        lambda i: _truncated(
            codecs.wav_encode(audio_clip_samples(i), audio_clip_params(i)[0]),
            i, lambda p: p[:20],
        ),
    )


def synth_audio_clips_cached(spark, n_rows: int, n_partitions: int = 4):
    return _cached_parquet(
        spark,
        f"/tmp/ndto_bench_audioclips_{FIXTURES_VERSION}"
        f"_n{n_rows}_p{n_partitions}",
        lambda: synth_audio_clips(spark, n_rows, n_partitions),
    )


def video_clip_n_frames(row_id: int) -> int:
    return 6 + row_id % 15


def video_frame_pixels(clip_id: int, frame_idx: int) -> np.ndarray:
    """Frame ``frame_idx`` of clip ``clip_id``: clip-constant dims (the
    avi_encode contract), per-frame colors and phash orientation."""
    w, h, _, _ = feature_image_params(clip_id)
    c1 = (clip_id * 37 + frame_idx * 53 + 11) % 128
    return _two_tone(w, h, c1, c1 + 100, swap=(clip_id + frame_idx) % 2 == 1)


def synth_video_clips(spark, n_rows: int, n_partitions: int = 4):
    """(clip_id 'vc_%08d', bytes): MPNG AVI clips of 6..20 two-tone frames;
    every 25th payload truncated (skipped by non-strict frame sampling)."""

    def payload_of(i: int) -> bytes:
        frames = [
            codecs.png_encode(video_frame_pixels(i, f))
            for f in range(video_clip_n_frames(i))
        ]
        return _truncated(
            codecs.avi_encode(frames, fps=10), i, lambda p: p[: len(p) // 2]
        )

    return _synth(spark, n_rows, n_partitions, "clip_id", "vc", payload_of)


def synth_video_clips_cached(spark, n_rows: int, n_partitions: int = 4):
    return _cached_parquet(
        spark,
        f"/tmp/ndto_bench_videoclips_{FIXTURES_VERSION}"
        f"_n{n_rows}_p{n_partitions}",
        lambda: synth_video_clips(spark, n_rows, n_partitions),
    )
