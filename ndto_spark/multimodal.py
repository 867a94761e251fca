"""Multimodal column plumbing: image / audio / video as opaque binary
columns with typed metadata.

Decoders (pure-stdlib codecs in codecs.py, no external library):

- images: PNG and the fake-JPEG container — ``decode_image_features``,
  ``resize_images``, ``color_histograms``, ``embed_images``,
  ``image_sharpness``, ``transform_images`` and
  ``images.metadata_consistency``;
- audio: RIFF/WAVE PCM16 — ``extract_audio_features`` and
  ``energy_segments``;
- video: RIFF/AVI over MPNG/MJPG streams, or a headerless length-prefixed
  frame concatenation — ``sample_video_frames``. Inter-frame-compressed
  codecs (H.264 etc.) need codec libraries beyond these pure-stdlib
  decoders; such clips are undecodable, never NotImplementedError.

The payload kernel (``_map_payloads``) is the one Arrow path for every
decoder above: one ``mapInArrow`` over ``(id, bytes, *extra columns)``
that decodes each row once and lets the operator turn the decoded value,
or the decode error, into zero or more output rows. Contract:

- the output id column keeps the input column's name and native Spark
  type, and its values pass through as Arrow values untouched (a pandas
  batch would turn a long column holding a NULL into float64 and round
  ids above 2^53); the schema is ``df.schema[id_col]`` followed by the
  operator's fields;
- a NULL payload is undecodable and never reaches the decoder; a decoder
  that raises is undecodable too. ``decode_image_features``,
  ``metadata_consistency`` and ``extract_audio_features`` emit an
  ``ok=False`` row for it, ``sample_video_frames(strict=True)`` re-raises,
  every other operator emits no row;
- audio's raw-PCM fallback and video's raw-concatenation fallback are part
  of their decoders;
- each input row is processed once, with no aggregation: NULL and
  duplicate ids pass through, the operators stay lazy, and they bind to
  streaming frames unchanged.
"""

from __future__ import annotations

import struct
from typing import Callable, Iterable

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import codecs
from .pyworker import settle


def _map_payloads(
    df: DataFrame,
    id_col: str,
    fields: str,
    decode: Callable,
    rows: Callable[..., Iterable[tuple]],
    extra_cols: tuple = (),
) -> DataFrame:
    """The payload kernel's launcher (module docstring): one ``mapInArrow``
    over ``(id_col, bytes, *extra_cols)``. Each row's payload goes through
    ``decode`` once; ``rows(value, err, *extras)`` gets the decoded value
    and ``err=None``, or ``None`` and the exception (a NULL payload is a
    ValueError), and returns tuples of the DDL ``fields``. Output columns
    are built from column-wise lists."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    schema = StructType([df.schema[id_col], *StructType.fromDDL(fields)])
    types = [to_arrow_type(f.dataType) for f in schema.fields[1:]]

    def run(batches):
        settle()
        for batch in batches:
            payloads, *extras = (c.to_pylist() for c in batch.columns[1:])
            take, out = [], []
            for i, payload in enumerate(payloads):
                value = err = None
                if payload is None:
                    err = ValueError("NULL payload")
                else:
                    try:
                        value = decode(payload)
                    except Exception as e:
                        err = e
                for row in rows(value, err, *(x[i] for x in extras)):
                    take.append(i)
                    out.append(row)
            cols = list(zip(*out)) or [()] * len(types)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(pa.array(take, pa.int64())),
                    *(pa.array(c, t) for c, t in zip(cols, types)),
                ],
                names=schema.names,
            )

    return df.select(id_col, "bytes", *extra_cols).mapInArrow(run, schema)


def _pixels(data: bytes) -> np.ndarray:
    return codecs.decode(data)[1]


def decode_image_features(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Per-image (ok, w, h, mean RGB, phash) over REAL decode; undecodable
    payloads give ok=False with NULL features."""
    from .fixtures import phash_of

    def rows(px, err):
        if err is not None:
            return [(False,) + (None,) * 6]
        m = px.reshape(-1, 3).mean(axis=0)
        return [(
            True, int(px.shape[1]), int(px.shape[0]),
            float(m[0]), float(m[1]), float(m[2]), phash_of(px),
        )]

    return _map_payloads(
        df, id_col,
        "ok boolean, w int, h int, mean_r double, mean_g double, "
        "mean_b double, phash bigint",
        _pixels, rows,
    )


def resize_images(
    df: DataFrame, target_w: int, target_h: int, id_col: str = "image_id"
) -> DataFrame:
    """Nearest-neighbor batch resize → (id, bytes) of re-encoded PNGs (REAL)."""

    def rows(px, err):
        if err is not None:
            return ()
        ys = (np.arange(target_h) * px.shape[0] // target_h).clip(
            0, px.shape[0] - 1
        )
        xs = (np.arange(target_w) * px.shape[1] // target_w).clip(
            0, px.shape[1] - 1
        )
        return [(codecs.png_encode(px[np.ix_(ys, xs)]),)]

    return _map_payloads(df, id_col, "bytes binary", _pixels, rows)


def extract_audio_features(
    df: DataFrame, id_col: str = "clip_id", allow_raw_pcm: bool = True
) -> DataFrame:
    """REAL audio decode: standard RIFF/WAVE PCM16 (codecs.wav_decode).
    Emits per-clip (sample_rate, channels, frames, duration, rms, peak,
    zero-crossing rate); feature math is vectorized numpy over the decoded
    sample matrix. Undecodable clips give ok=False with the error in
    ``err`` and NULL features.

    ``allow_raw_pcm``: payloads that are not RIFF/WAVE fall back to a
    headerless 16-bit mono PCM interpretation (sample_rate NULL) — useful
    for raw capture streams; set False to mark them ok=False instead.
    """

    def decode(data):
        try:
            return codecs.wav_decode(data)
        except ValueError:
            if not allow_raw_pcm or data.startswith(codecs.WAV_MAGIC):
                raise
            raw = data[: (len(data) // 2) * 2]
            return None, np.frombuffer(raw, dtype="<i2").reshape(-1, 1)

    def rows(got, err):
        if err is not None:
            return [(False, str(err)) + (None,) * 7]
        sr, x = got
        mono = x.astype(np.float64).mean(axis=1) / 32768.0
        ok = mono.size > 0
        return [(
            ok, None, sr, int(x.shape[1]), int(x.shape[0]),
            (float(x.shape[0]) / sr) if (ok and sr) else None,
            float(np.sqrt((mono**2).mean())) if ok else None,
            float(np.abs(mono).max()) if ok else None,
            (
                float((np.signbit(mono[1:]) != np.signbit(mono[:-1])).mean())
                if mono.size > 1
                else 0.0 if ok else None
            ),
        )]

    return _map_payloads(
        df, id_col,
        "ok boolean, err string, sample_rate int, n_channels int, "
        "n_samples int, duration_sec double, rms double, peak double, "
        "zero_cross_rate double",
        decode, rows,
    )


def _video_frames(data: bytes) -> list:
    """Frames of a RIFF/AVI clip, or of a headerless concatenation of
    big-endian-length-prefixed frames (the audio path's raw-PCM analog)."""
    if data[:4] == codecs.AVI_MAGIC:
        return codecs.avi_decode_frames(data)[1]
    frames, pos = [], 0
    while pos + 4 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        frame = data[pos + 4 : pos + 4 + ln]
        if len(frame) != ln:
            raise ValueError("truncated raw frame concatenation")
        frames.append(frame)
        pos += 4 + ln
    return frames


def sample_video_frames(
    df: DataFrame,
    every_n: int = 10,
    id_col: str = "clip_id",
    strict: bool = False,
) -> DataFrame:
    """REAL frame sampling over RIFF/AVI clips (codecs.avi_decode_frames —
    pure-stdlib demux of MPNG/MJPG video streams) or raw frame
    concatenations, one output row per sampled frame. Non-strict mode
    skips undecodable clips (no rows — a validator keeps the job alive on
    malformed payloads); ``strict=True`` raises instead."""

    def rows(frames, err):
        if err is not None:
            if strict:
                raise err
            return ()
        return [
            (idx, frame) for idx, frame in enumerate(frames) if idx % every_n == 0
        ]

    return _map_payloads(
        df, id_col, "frame_idx int, frame_png binary", _video_frames, rows
    )


def scene_cuts(
    frame_features: DataFrame,
    threshold: float,
    clip_col: str = "clip_id",
    idx_col: str = "frame_idx",
    mean_col: str = "mean",
) -> DataFrame:
    """Scene-cut detection over per-frame features: a cut is a frame whose
    mean-luminance jump from the previous frame exceeds ``threshold`` —
    the classic cheap shot-boundary heuristic, run over whatever
    sample_video_frames → decode_image_features emitted. The first frame
    of a clip is never a cut (no predecessor; delta is NULL).

    Output: (clip, frame_idx, mean_i, delta, is_cut) with mean/delta as
    exact bigints when the upstream means are integral.

    Plan shape: one window partitioned BY CLIP (state bounded by frames
    per clip, thousands at most — no global sort, no skew beyond the
    longest clip), on top of the decode stage's single Arrow exchange.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(clip_col).orderBy(idx_col)
    mean_i = F.col(mean_col).cast("bigint")
    delta = mean_i - F.lag(mean_i).over(w)
    return frame_features.select(
        F.col(clip_col),
        F.col(idx_col),
        mean_i.alias("mean_i"),
        delta.alias("delta"),
        F.coalesce(
            F.abs(delta) >= F.lit(int(threshold)), F.lit(False)
        ).alias("is_cut"),
    )


def audio_quality_verdicts(
    features: DataFrame,
    min_duration: float = 0.1,
    min_rms: float = 0.1,
    max_peak: float = 0.6,
) -> DataFrame:
    """Speech-corpus first-pass filter over extract_audio_features output:
    drop undecodable, too-short, near-silent, and near-clipped clips with
    a FIRST-fail verdict (priority: undecodable > too_short > too_quiet >
    near_clipped > ok).

    Output: (clip_id, dur_e6, rms_e6, peak_e6, verdict) — features
    quantized e6; undecodable rows carry NULLs.

    Plan shape: pure projection over the decode stage's single Arrow
    exchange — zero shuffle, whole-stage codegen.
    """
    dur = F.col("duration_sec")
    rms = F.col("rms")
    peak = F.col("peak")
    verdict = (
        F.when(~F.col("ok"), F.lit("undecodable"))
        .when(dur < F.lit(float(min_duration)), F.lit("too_short"))
        .when(rms < F.lit(float(min_rms)), F.lit("too_quiet"))
        .when(peak > F.lit(float(max_peak)), F.lit("near_clipped"))
        .otherwise(F.lit("ok"))
    )
    q = lambda c: F.floor(c * F.lit(1e6)).cast("bigint")  # noqa: E731
    return features.select(
        "clip_id",
        q(dur).alias("dur_e6"),
        q(rms).alias("rms_e6"),
        q(peak).alias("peak_e6"),
        verdict.alias("verdict"),
    )


def color_histograms(
    df: DataFrame, n_bins: int = 4, id_col: str = "image_id"
) -> DataFrame:
    """Per-channel color histograms over REALLY decoded pixels — the
    color-profile feature image curation pipelines bucket on (tint
    filters, duplicate-palette detection, day/night splits). Each decoded
    image emits its NON-EMPTY (channel, bin) cells: bin = pixel_value //
    (256 // n_bins), n_px the exact pixel count. Undecodable payloads
    emit nothing (the ok=False path is gated in decode_image_features).

    Output: (id, channel 0..2, bin, n_px) — sparse long format, so the
    row volume is data-bounded (≤ 3·n_bins per image) and needs no
    array-vs-list comparison shims in the gate.
    """
    if n_bins < 2 or 256 % n_bins:
        raise ValueError(f"n_bins must divide 256 and be >= 2, got {n_bins}")
    width = 256 // n_bins

    def rows(px, err):
        if err is not None:
            return
        for ch in range(3):
            counts = np.bincount((px[:, :, ch] // width).ravel(), minlength=n_bins)
            for b in np.nonzero(counts)[0]:
                yield ch, int(b), int(counts[b])

    return _map_payloads(
        df, id_col, "channel int, bin int, n_px long", _pixels, rows
    )


def embed_images(
    df: DataFrame, grid: int = 4, id_col: str = "image_id"
) -> DataFrame:
    """Pooled-pixel image embeddings: decode, grayscale (channel mean),
    mean-pool onto a ``grid``×``grid`` cell lattice, and emit the
    row-major cell means as an ``array<double>`` — the deterministic
    stand-in for a CLIP-style encoder that wires the image pipeline into
    the ANN/near-dup/SemDeDup operators (which only need an id + vector
    contract). Cell boundaries are the integer lattice ``i·h div grid``
    (phash_of's convention). Undecodable payloads and images smaller than
    the grid emit nothing.
    """
    if grid < 1:
        raise ValueError(f"grid must be >= 1, got {grid}")

    def rows(px, err):
        if err is not None or px.shape[0] < grid or px.shape[1] < grid:
            return ()
        h, w = px.shape[0], px.shape[1]
        gray = px.mean(axis=2, dtype=np.float64)
        return [([
            float(
                gray[
                    r * h // grid : (r + 1) * h // grid,
                    c * w // grid : (c + 1) * w // grid,
                ].mean()
            )
            for r in range(grid)
            for c in range(grid)
        ],)]

    return _map_payloads(df, id_col, "embedding array<double>", _pixels, rows)


def energy_segments(
    df: DataFrame,
    window: int = 256,
    thr_e6: int = 200_000,
    id_col: str = "clip_id",
) -> DataFrame:
    """Energy-threshold voice-activity segmentation over REAL WAV decode —
    the speech-corpus first pass that trims silence and splits long
    recordings before ASR/captioning. Per clip: channel-mean samples are
    cut into fixed ``window``-sample frames (tail frame short), each
    frame's RMS (of x/2^15) is e6-quantized, frames with
    ``rms_e6 >= thr_e6`` are ACTIVE, and consecutive active frames merge
    into segments.

    Output: (id, n_windows, n_active, n_segments, longest_run,
    rms_max_e6), one row per decodable non-empty clip. Undecodable
    payloads emit nothing (the ok=False path is gated in
    audio_features_clips). Keep ``window`` a power of two when
    bit-reproducibility matters: the frame mean then divides by a power
    of two (exact), which is what lets the gate's closed-form fixture
    oracle replay rms_e6 exactly.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")

    def rows(got, err):
        if err is not None or got[1].shape[0] == 0:
            return ()
        mono = got[1].astype(np.float64).mean(axis=1) / 32768.0
        rms_e6 = [
            int(np.floor(np.sqrt((fr * fr).mean()) * 1e6))
            for fr in (mono[s : s + window] for s in range(0, mono.size, window))
        ]
        act = [r >= thr_e6 for r in rms_e6]
        segs, run_len, longest, prev = 0, 0, 0, False
        for a in act:
            if a:
                run_len = run_len + 1 if prev else 1
                if run_len == 1:
                    segs += 1
                longest = max(longest, run_len)
            prev = a
        return [(len(rms_e6), sum(act), segs, longest, max(rms_e6))]

    return _map_payloads(
        df, id_col,
        "n_windows long, n_active long, n_segments long, longest_run long, "
        "rms_max_e6 long",
        codecs.wav_decode, rows,
    )


def image_sharpness(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Laplacian-variance sharpness scores over REALLY decoded pixels —
    the standard blur detector (OpenCV's ``cv2.Laplacian(...).var()``)
    image curation pipelines threshold on before training: defocused or
    motion-smeared frames have a near-flat Laplacian response.

    Per decodable image: gray3 = r+g+b (int — exact, no /3 rounding),
    4-neighbor Laplacian ``L = 4·p − up − down − left − right`` over the
    INTERIOR lattice (no border padding policy to disagree about), and
    exact integer moments. ``lap_var_e6 = (1e6·(n·ΣL² − (ΣL)²)) // n²``
    is a single integer expression (n·ΣL² ≥ (ΣL)² by Cauchy-Schwarz, so
    floor == truncate and any engine agrees bit-for-bit). Images smaller
    than 3×3 or undecodable emit nothing.
    """

    def rows(px, err):
        if err is not None or px.shape[0] < 3 or px.shape[1] < 3:
            return ()
        g = px.sum(axis=2, dtype=np.int64)
        lap = (
            4 * g[1:-1, 1:-1]
            - g[:-2, 1:-1]
            - g[2:, 1:-1]
            - g[1:-1, :-2]
            - g[1:-1, 2:]
        )
        n = int(lap.size)
        s = int(lap.sum())
        q = int((lap * lap).sum())
        return [(n, s, q, (1_000_000 * (n * q - s * s)) // (n * n))]

    return _map_payloads(
        df, id_col,
        "n_interior long, lap_sum long, lap_sumsq long, lap_var_e6 long",
        _pixels, rows,
    )


def caption_alignment(
    df: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
    grid: int = 4,
) -> DataFrame:
    """Image-caption agreement score — the CLIP-score-shaped pair filter
    (LAION-style pipelines drop pairs whose image/text embeddings
    disagree) with a deterministic stand-in encoder pair: images embed via
    ``embed_images`` (pooled-pixel grid means over REALLY decoded
    payloads), captions embed via a hashed bag-of-words onto the SAME
    grid² dimensions (bucket = md5_low32(token) mod dim, value = token
    count), and the score is the fixed-fold cosine between the two.

    The two encoders are stand-ins a real deployment swaps for CLIP
    towers; everything around them is the production plumbing — the
    single Arrow decode exchange, the caption branch as a pure
    column-pruned projection (bytes never enter it), the id equi-join
    that ships only (id, vector), and the engine-exact cosine
    (ascending-index folds, dot / (sqrt·sqrt) in fixed order).

    Output: (id, n_tokens, align_e4) — align_e4 NULL when the caption is
    NULL/empty (zero caption vector has no direction); undecodable images
    emit nothing. Plan shape: decode exchange + one equi-join on id
    whose both sides are (id, dim·8B) narrow; the hashed caption embed is
    O(dim · n_tokens) expression work per row with the token-hash array
    let-bound once.
    """
    from . import ann
    from .compiler import bind
    from .dedup import md5_low32, tokens

    dim = grid * grid
    emb = embed_images(df, grid=grid, id_col=id_col)

    toks = tokens(F.col(caption_col))

    def _cvec(hs):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.size(
                F.filter(hs, lambda h: h == j.cast("bigint"))
            ).cast("double"),
        )

    caps = df.select(
        F.col(id_col),
        bind(
            F.transform(toks, lambda t: md5_low32(t) % dim), _cvec
        ).alias("cvec"),
        F.coalesce(F.size(toks), F.lit(0)).cast("bigint").alias("n_tokens"),
    )
    out = emb.join(caps, on=id_col)
    a, b = F.col("embedding"), F.col("cvec")
    sim = ann.dot(a, b) / (ann.norm(a) * ann.norm(b))
    return out.select(
        F.col(id_col),
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0, F.floor(sim * F.lit(1e4)).cast("bigint")
        ).alias("align_e4"),
    )


def image_dhash(
    df: DataFrame, id_col: str = "image_id", grid: int = 4
) -> DataFrame:
    """Difference hash (dHash) over REALLY decoded pixels: grid×grid
    pooled gray cells (embed_images' integer lattice), bit = 1 where a
    cell is strictly darker than its right neighbor — grid×(grid−1) bits,
    row-major LSB-first. The classic gradient perceptual hash and
    phash_of's sibling: gradients survive global brightness offsets where
    a mean-threshold phash flips, so dHash catches exposure-shifted
    re-crawls phash misses.

    Output: (id, dhash bigint). Undecodable payloads emit nothing.

    The bit assembly is a pure codegen projection over embed_images'
    pooled-cell array, and the hash feeds phash_near_dups(bits=grid·
    (grid−1)) unchanged for banded hamming near-dup.
    """
    if grid < 2:
        raise ValueError(f"grid must be >= 2 for horizontal gradients, got {grid}")
    emb = embed_images(df, grid=grid, id_col=id_col)
    g = grid
    pos = 0
    dhash = F.lit(0).cast("bigint")
    for r in range(g):
        for c in range(g - 1):
            bit = F.get(F.col("embedding"), r * g + c) < F.get(
                F.col("embedding"), r * g + c + 1
            )
            dhash = dhash + F.when(bit, F.lit(1 << pos)).otherwise(
                F.lit(0)
            ).cast("bigint")
            pos += 1
    return emb.select(id_col, dhash.alias("dhash"))


_IMAGE_TRANSFORMS = {
    "hflip": lambda px: px[:, ::-1],
    "vflip": lambda px: px[::-1, :],
    "rot180": lambda px: px[::-1, ::-1],
}


def transform_images(
    df: DataFrame, op: str, id_col: str = "image_id"
) -> DataFrame:
    """Deterministic augmentation transforms → (id, bytes) of re-encoded
    PNGs over REAL decode: ``hflip`` (mirror left-right, the classic
    train-time augmentation), ``vflip``, ``rot180``. All three are exact
    pixel PERMUTATIONS — no interpolation, no rounding — so the output
    decodes to bit-identical flipped pixels on any platform, and
    downstream features (phash/dhash/embeddings) of an augmented corpus
    are closed-form in the original's. Undecodable payloads emit nothing
    (same contract as resize_images). Augmentation multiplies the corpus
    WITHOUT a join, so it composes with dedup/feature operators as a
    plain union of transformed frames.
    """
    if op not in _IMAGE_TRANSFORMS:
        raise ValueError(
            f"op must be one of {tuple(_IMAGE_TRANSFORMS)}, got {op!r}"
        )
    flip = _IMAGE_TRANSFORMS[op]

    def rows(px, err):
        if err is not None:
            return ()
        return [(codecs.png_encode(np.ascontiguousarray(flip(px))),)]

    return _map_payloads(df, id_col, "bytes binary", _pixels, rows)


def audio_fingerprint(
    features: DataFrame, id_col: str = "clip_id"
) -> DataFrame:
    """Feature-level audio fingerprint over extract_audio_features output:
    md5 of the e6-quantized (sample_rate, n_samples, rms, zero-crossing
    rate) tuple — the cheap dedup key that collapses bit-different
    containers carrying the same PCM (re-wrapped WAVs, re-exported
    masters) where byte-md5 can't. ok=False rows emit a NULL fingerprint
    (undecodable audio has no feature identity).

    Quantization floors are the gate's exact closed-form expressions, so
    the key is bit-reproducible across engines. Composes with
    dedup.exact_dedup_groups / apply_dedup on the fingerprint column for
    keeper selection — one partial-agg groupBy at any corpus size.
    """
    fp = F.md5(
        F.concat_ws(
            ":",
            F.col("sample_rate").cast("bigint"),
            F.col("n_samples").cast("bigint"),
            F.floor(F.col("rms") * 1e6).cast("bigint"),
            F.floor(F.col("zero_cross_rate") * 1e6).cast("bigint"),
        )
    )
    return features.select(
        F.col(id_col),
        F.when(F.col("ok"), fp).alias("fingerprint"),
    )
