"""Image codecs for the image+caption validation path.

This container has no image libraries (no Pillow/libjpeg), so:

- PNG: a REAL, self-contained PNG codec (pure stdlib zlib/struct + numpy),
  8-bit RGB, filter 0. Files it writes are valid PNGs readable by any
  standard decoder; the reader handles filters 0-4 (full spec unfiltering)
  so it can read standard encoders' output too.
- JPEG: STUB — a deterministic stand-in container (magic ``NDTOJPG1``) that
  models lossy encoding by quantizing pixel values (so decoded pixels differ
  from the source and the PSNR≥40dB check is exercised honestly). If Pillow
  is importable, real JPEG is used instead (import-try gate below). The
  Spark-side plumbing (binary column, Arrow batch decode, PSNR math) is
  identical either way.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
FAKE_JPEG_MAGIC = b"NDTOJPG1"
JPEG_MAGIC = b"\xff\xd8\xff"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a standard PNG (RGB8, filter 0)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    idat = zlib.compress(raw, 6)
    return PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def png_decode(data: bytes) -> np.ndarray:
    """Decode an 8-bit RGB PNG (filters 0-4) to an (h, w, 3) uint8 array.

    Raises ValueError on malformed input (the 'bytes that do not decode'
    violation class), a payload cut at any point included.
    """
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG: bad magic")
    pos = 8
    w = h = None
    idat = b""
    while True:
        if pos + 12 > len(data):
            raise ValueError("truncated PNG: no IEND chunk")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        if pos + 12 + length > len(data):
            raise ValueError("truncated chunk")
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError("chunk CRC mismatch")
        if tag == b"IHDR":
            if length != 13:
                raise ValueError("bad IHDR length")
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or ctype != 2 or interlace != 0:
                raise ValueError("unsupported PNG variant (need RGB8, no interlace)")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    raw = _inflate(idat)
    stride = w * 3
    if len(raw) != h * (stride + 1):
        raise ValueError("bad scanline data size")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = rows[:, 0]
    # filter-0 rows are already final; unfilter the others in ascending
    # order, so each one reads its already-unfiltered predecessor
    out = rows[:, 1:].copy()
    for y in np.flatnonzero(filters):
        f = filters[y]
        line = out[y]
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if f == 2:
            out[y] = line + prev
        elif f in (1, 3, 4):
            cur = line.astype(np.uint16)
            res = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = res[x - 3] if x >= 3 else 0
                up = prev[x]
                ul = prev[x - 3] if x >= 3 else 0
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (int(left) + int(up)) // 2
                else:
                    pred = int(
                        _paeth(
                            np.uint8(left), np.uint8(up), np.uint8(ul)
                        )
                    )
                res[x] = (cur[x] + pred) & 0xFF
            out[y] = res
        else:
            raise ValueError(f"bad filter byte {f}")
    return out.reshape(h, w, 3)


def _inflate(data: bytes) -> bytes:
    """zlib.decompress, with a cut or corrupt stream raised as ValueError."""
    try:
        return zlib.decompress(data)
    except zlib.error:
        raise ValueError("truncated or corrupt zlib stream") from None


def fake_jpeg_encode(pixels: np.ndarray, quality: int = 90) -> bytes:
    """STUB lossy codec (see module docstring): quantizes pixels by step q.

    step 4 at quality 90 → worst-case per-pixel error 2 → PSNR ≈ 20*log10(
    255/rms) ≥ 40 dB, matching the 'lossy but close' contract.
    """
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    step = max(1, (100 - quality) // 3)
    q = (pixels.astype(np.int16) // step * step + step // 2).clip(0, 255).astype(np.uint8)
    payload = zlib.compress(q.tobytes(), 6)
    return (
        FAKE_JPEG_MAGIC
        + struct.pack(">IIB", w, h, step)
        + payload
    )


def fake_jpeg_decode(data: bytes) -> np.ndarray:
    if data[:8] != FAKE_JPEG_MAGIC:
        raise ValueError("not an NDTOJPG1 payload: bad magic")
    if len(data) < 17:
        raise ValueError("truncated NDTOJPG1 header")
    w, h, _step = struct.unpack(">IIB", data[8:17])
    raw = _inflate(data[17:])
    if len(raw) != w * h * 3:
        raise ValueError("bad pixel payload size")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).copy()


def detect_format(data: bytes) -> str:
    """'png' | 'jpeg' | 'unknown' from the payload header."""
    if data[:8] == PNG_MAGIC:
        return "png"
    if data[:8] == FAKE_JPEG_MAGIC or data[:3] == JPEG_MAGIC:
        return "jpeg"
    return "unknown"


def decode(data: bytes) -> tuple[str, np.ndarray]:
    """Decode any supported payload → (format, pixels). Raises ValueError."""
    fmt = detect_format(data)
    if fmt == "png":
        return fmt, png_decode(data)
    if fmt == "jpeg":
        if data[:8] == FAKE_JPEG_MAGIC:
            return fmt, fake_jpeg_decode(data)
        if HAVE_PIL:  # pragma: no cover
            import io

            from PIL import Image

            return fmt, np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))
        raise ValueError("real JPEG payload but no JPEG decoder available")
    raise ValueError("unknown image format")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical arrays."""
    if a.shape != b.shape:
        return 0.0
    # one float64 temp + in-place subtract + dot (no squared temp array)
    d = a.astype(np.float64)
    d -= b
    d = d.ravel()
    mse = float(d.dot(d)) / d.size
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


# --- audio: REAL RIFF/WAVE PCM16 codec (pure stdlib, like the PNG codec) ----

WAV_MAGIC = b"RIFF"


def wav_encode(
    samples: np.ndarray, sample_rate: int = 16000
) -> bytes:
    """Encode int16 samples — shape (n,) mono or (n, ch) — as a standard
    PCM16 WAV file readable by any audio tool."""
    if samples.ndim == 1:
        samples = samples[:, None]
    assert samples.dtype == np.int16
    n_ch = samples.shape[1]
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return WAV_MAGIC + struct.pack("<I", len(body)) + body


def wav_decode(data: bytes) -> tuple[int, np.ndarray]:
    """Decode a PCM16 RIFF/WAVE payload → (sample_rate, samples (n, ch)).

    Walks the chunk list (so extra chunks like LIST/INFO are skipped), PCM
    format 1 / 16-bit only. Raises ValueError on anything else.
    """
    if len(data) < 12 or data[:4] != WAV_MAGIC or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    sample_rate = n_ch = None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated WAV chunk")
        if tag == b"fmt ":
            if ln < 16:
                raise ValueError("short fmt chunk")
            audio_fmt, n_ch, sample_rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"unsupported WAV encoding (fmt={audio_fmt}, bits={bits})")
            if n_ch < 1 or n_ch > 64:
                # a crafted fmt chunk with n_channels=0 would otherwise hit
                # ZeroDivisionError below — which escapes callers' except
                # ValueError and fails the whole job on one malformed clip
                raise ValueError(f"invalid WAV channel count {n_ch}")
        elif tag == b"data":
            pcm = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if sample_rate is None or pcm is None:
        raise ValueError("WAV missing fmt or data chunk")
    usable = (len(pcm) // (2 * n_ch)) * 2 * n_ch
    x = np.frombuffer(pcm[:usable], dtype="<i2").reshape(-1, n_ch)
    return int(sample_rate), x


# --- video: REAL RIFF/AVI container codec (pure stdlib, like WAV/PNG) -------
#
# AVI is the RIFF sibling of WAV: the *container* is what a demuxer library
# would otherwise provide, and it needs nothing beyond struct. Frames inside
# the '00dc' chunks use this module's image codecs: PNG frames (fccHandler
# 'MPNG' — a real, standard AVI video codec fourcc) decode with the real
# PNG decoder; fake-JPEG frames ride under 'MJPG'. Files avi_encode writes
# are spec-conformant (hdrl/avih/strl/strh/strf + movi + idx1) and open in
# any AVI-aware tool; avi_decode_frames walks the chunk tree so it also
# reads third-party MJPG/MPNG AVIs (including 'rec '-grouped movi entries).

AVI_MAGIC = b"RIFF"


def _avi_fourcc_for(frame: bytes) -> bytes:
    return b"MPNG" if frame[: len(PNG_MAGIC)] == PNG_MAGIC else b"MJPG"


def avi_encode(frames: list[bytes], fps: int = 30) -> bytes:
    """Pack encoded image frames (PNG or JPEG bytes, identical dims) into a
    standard MJPG/MPNG AVI file."""
    if not frames:
        raise ValueError("avi_encode needs at least one frame")
    handler = _avi_fourcc_for(frames[0])
    _, px0 = decode(frames[0])
    h, w = px0.shape[:2]
    # the stream header describes ONE codec and ONE frame size: a mixed
    # PNG/JPEG or varying-dimension frame list would produce a
    # spec-conformant AVI whose strh/avih misdescribe the stream — reject it
    for i, f in enumerate(frames[1:], start=1):
        if _avi_fourcc_for(f) != handler:
            raise ValueError(
                f"avi_encode: frame {i} container ({_avi_fourcc_for(f).decode()}) "
                f"differs from frame 0 ({handler.decode()}); one codec per stream"
            )
        _, px = decode(f)
        if px.shape[:2] != (h, w):
            raise ValueError(
                f"avi_encode: frame {i} dims {px.shape[1]}x{px.shape[0]} differ "
                f"from frame 0 ({w}x{h}); frames must share identical dims"
            )
    max_sz = max(len(f) for f in frames)

    movi_body = b"movi"
    idx_entries = []
    for f in frames:
        # idx1 offsets are from the 'movi' fourcc to the chunk fourcc
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, len(movi_body), len(f)))
        movi_body += b"00dc" + struct.pack("<I", len(f)) + f + (b"\x00" if len(f) & 1 else b"")

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // max(fps, 1),  # dwMicroSecPerFrame
        max_sz * fps,              # dwMaxBytesPerSec
        0,                         # dwPaddingGranularity
        0x10,                      # dwFlags: AVIF_HASINDEX
        len(frames), 0, 1,         # dwTotalFrames, dwInitialFrames, dwStreams
        max_sz, w, h, 0, 0, 0, 0,  # dwSuggestedBufferSize, dwWidth, dwHeight, rsvd
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H",
        b"vids", handler, 0, 0, 0, 0,
        1, fps,                    # dwScale / dwRate → fps frames per second
        0, len(frames), max_sz, -1 & 0xFFFFFFFF, 0,
        0, 0, w, h,                # rcFrame
    )
    strf = struct.pack(  # BITMAPINFOHEADER
        "<IiiHH4sIiiII", 40, w, h, 1, 24, handler, w * h * 3, 0, 0, 0, 0
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    strl = b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf)
    hdrl = b"hdrl" + chunk(b"avih", avih) + chunk(b"LIST", strl)
    idx1 = b"".join(idx_entries)
    body = (
        b"AVI "
        + chunk(b"LIST", hdrl)
        + chunk(b"LIST", movi_body)
        + chunk(b"idx1", idx1)
    )
    return AVI_MAGIC + struct.pack("<I", len(body)) + body


def _avi_chunks(data: bytes, pos: int, end: int):
    """Iterate (tag, body_start, body_len) over a RIFF chunk run."""
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if pos + 8 + ln > end:
            raise ValueError("truncated AVI chunk")
        yield tag, pos + 8, ln
        pos += 8 + ln + (ln & 1)  # word-aligned


def avi_decode_frames(data: bytes) -> tuple[dict, list[bytes]]:
    """Parse an AVI payload → (meta, frame chunk bytes in stream order).

    meta: {"fps", "n_frames", "w", "h", "handler"} from avih/strh. Frames
    are the raw '00dc'/'00db' chunk bodies of stream 0 — feed each to
    ``decode`` for pixels. Raises ValueError on non-AVI / malformed input.
    """
    if len(data) < 12 or data[:4] != AVI_MAGIC or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    meta = {"fps": None, "n_frames": None, "w": None, "h": None, "handler": None}
    frames: list[bytes] = []

    def walk_movi(pos: int, end: int) -> None:
        for tag, bpos, ln in _avi_chunks(data, pos, end):
            if tag == b"LIST" and data[bpos : bpos + 4] == b"rec ":
                walk_movi(bpos + 4, bpos + ln)
            elif tag in (b"00dc", b"00db"):
                frames.append(data[bpos : bpos + ln])

    def walk_hdrl(pos: int, end: int) -> None:
        for tag, bpos, ln in _avi_chunks(data, pos, end):
            if tag == b"avih" and ln >= 40:
                vals = struct.unpack("<10I", data[bpos : bpos + 40])
                meta["n_frames"], meta["w"], meta["h"] = vals[4], vals[8], vals[9]
            elif tag == b"LIST" and data[bpos : bpos + 4] == b"strl":
                for t2, b2, l2 in _avi_chunks(data, bpos + 4, bpos + ln):
                    if t2 == b"strh" and l2 >= 32:
                        typ, handler = data[b2 : b2 + 4], data[b2 + 4 : b2 + 8]
                        scale, rate = struct.unpack("<II", data[b2 + 20 : b2 + 28])
                        if typ == b"vids":
                            meta["handler"] = handler.decode("ascii", "replace")
                            if scale:
                                meta["fps"] = rate // scale

    for tag, bpos, ln in _avi_chunks(data, 12, len(data)):
        if tag == b"LIST":
            ltype = data[bpos : bpos + 4]
            if ltype == b"hdrl":
                walk_hdrl(bpos + 4, bpos + ln)
            elif ltype == b"movi":
                walk_movi(bpos + 4, bpos + ln)
    if meta["n_frames"] is None or not frames:
        raise ValueError("AVI missing hdrl or movi frames")
    return meta, frames
