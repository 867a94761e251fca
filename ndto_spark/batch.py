"""Arrow batch validators for binary image payloads.

The only rules that cannot be Catalyst expressions: decode the payload,
check decoded dimensions/format against the declared columns, and compare
decoded pixels against the deterministic per-row reference at PSNR ≥ 40 dB
(input_hint per-row invariant), plus exact caption equality. All run as
pandas UDFs over Arrow batches — zero per-row Python crossings, one
JVM→Python round trip per Arrow batch (2048 rows in the bench sessions:
``spark.sql.execution.arrow.maxRecordsPerBatch``, see CLAUDE.md).

The check columns come as one (chk, violations) pair (``_check_columns``).
``images.validate_images`` projects ``chk`` once ahead of the metadata and
check violations (``runner._annotate``), so its one annotated scan reads
``bytes`` once; ``images.validate_images_metadata`` leaves them out and
its scan never reads ``bytes``.
"""

from __future__ import annotations

import re
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import codecs, fixtures
from .pyworker import settle
from .runner import _violation

IMAGE_CHECK_TYPE = T.StructType(
    [
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("err", T.StringType()),
        T.StructField("fmt_detected", T.StringType()),
        T.StructField("w_actual", T.IntegerType()),
        T.StructField("h_actual", T.IntegerType()),
        T.StructField("psnr", T.DoubleType()),
        T.StructField("caption_ok", T.BooleanType()),
    ]
)

_ID_RE = re.compile(r"^img_[0-9a-f]{16}$")


def image_check_udf(seed: int):
    """pandas UDF: (image_id, bytes, caption) → check struct.

    PSNR is computed against pixels regenerated from the row id embedded in
    image_id (fixtures.image_pixels) — the sandbox stand-in for 'the
    reference copy of this image'. Rows whose id cannot be parsed get
    psnr = NULL (unverifiable; the id rules flag those separately).
    """

    @pandas_udf(IMAGE_CHECK_TYPE)
    def check(image_id: pd.Series, data: pd.Series, caption: pd.Series) -> pd.DataFrame:
        settle()
        # Per-row Python is kept to the three genuinely per-row steps:
        # payload decode, reference-pixel regen + PSNR, reference-caption
        # regen (each keyed by a per-row Philox stream). Everything else —
        # output bookkeeping, the id-pattern check, caption equality — is
        # preallocated-array / vectorized work (the round-2 row-at-a-time
        # dict appends measurably widened the Python-side critical path).
        n = len(image_id)
        decode_ok = np.zeros(n, dtype=bool)
        err = np.full(n, None, dtype=object)
        fmtd = np.full(n, None, dtype=object)
        wa = np.full(n, None, dtype=object)
        ha = np.full(n, None, dtype=object)
        ps = np.full(n, None, dtype=object)
        cap_ok = np.full(n, None, dtype=object)
        pixels_list: list[Optional[np.ndarray]] = [None] * n

        payloads = data.to_numpy(dtype=object, copy=False)
        caps = caption.to_numpy(dtype=object, copy=False)
        for i in range(n):
            payload = payloads[i]
            if payload is None:
                err[i] = "null payload"
                continue
            try:
                f, pix = codecs.decode(bytes(payload))
                pixels_list[i] = pix
                decode_ok[i] = True
                fmtd[i] = f
                ha[i] = int(pix.shape[0])
                wa[i] = int(pix.shape[1])
            except Exception as e:  # codecs.decode: ValueError on bad bytes
                err[i] = f"{type(e).__name__}: {e}"

        # vectorized: which rows carry a parseable id (rid recovers the
        # per-row reference stream; unparseable ids → psnr/caption NULL)
        valid = (
            image_id.fillna("").str.match(_ID_RE.pattern)
        ).to_numpy(dtype=bool, copy=False)
        for i in np.flatnonzero(valid):
            rid = fixtures.row_id_of(image_id.iat[i])
            pix = pixels_list[i]
            if pix is not None:
                p = codecs.psnr(fixtures.image_pixels(seed, rid), pix)
                ps[i] = 1e9 if p == float("inf") else float(p)
            cap_ok[i] = bool(caps[i] == fixtures.caption_text(seed, rid))
        return pd.DataFrame(
            {
                "decode_ok": decode_ok,
                "err": err,
                "fmt_detected": fmtd,
                "w_actual": wa,
                "h_actual": ha,
                "psnr": ps,
                "caption_ok": cap_ok,
            }
        )

    return check


def _check_columns(
    seed: int, key: str, min_psnr: float
) -> tuple[Column, Column]:
    """The check UDF call, to be projected as ``chk``, and the violations
    array built from its fields and the declared (w, h, fmt) columns."""
    chk = image_check_udf(seed)(F.col(key), F.col("bytes"), F.col("caption"))
    c = F.col("chk")
    entries = [
        F.when(
            ~c["decode_ok"],
            _violation("bytes", "$.decode", "decode", F.concat(F.lit("Image payload does not decode: "), F.coalesce(c["err"], F.lit("unknown")))),
        ),
        F.when(
            c["decode_ok"] & ((c["w_actual"] != F.col("w")) | (c["h_actual"] != F.col("h"))),
            _violation(
                "bytes",
                "$.dimensions",
                "dimensions",
                F.format_string(
                    "Decoded dimensions %dx%d do not match declared %dx%d",
                    c["w_actual"],
                    c["h_actual"],
                    F.col("w"),
                    F.col("h"),
                ),
            ),
        ),
        F.when(
            c["decode_ok"] & (c["fmt_detected"] != F.col("fmt")),
            _violation(
                "bytes",
                "$.format",
                "format",
                F.format_string(
                    "Detected format %s does not match declared %s",
                    c["fmt_detected"],
                    F.col("fmt"),
                ),
            ),
        ),
        F.when(
            c["decode_ok"] & c["psnr"].isNotNull() & (c["psnr"] < min_psnr),
            _violation(
                "bytes",
                "$.psnr",
                "psnr",
                F.format_string(
                    "Decoded pixels PSNR %.2f dB below required %.2f dB",
                    c["psnr"],
                    F.lit(float(min_psnr)),
                ),
            ),
        ),
        F.when(
            c["caption_ok"].isNotNull() & ~c["caption_ok"],
            _violation("caption", "$.caption_equality", "caption_equality", "Caption does not match the reference caption"),
        ),
    ]
    return chk, F.array_compact(F.array(*entries))

