"""The payload kernel contract (multimodal module docstring) over every
image, audio and video decoder: native id name and type, NULL and
duplicate ids passing through, one result per input row, each operator's
undecodable result, empty input, and an ast guard that keeps one launcher."""

from __future__ import annotations

import ast
import pathlib
from collections import Counter

import numpy as np
import pytest

import ndto_spark
from ndto_spark import codecs, images, multimodal

BIG = 2**62 + 1  # above 2^53: a float64 round trip would change it

_PX = np.full((4, 4, 3), (10, 200, 70), dtype=np.uint8)
_PNG = codecs.png_encode(_PX)
_WAV = codecs.wav_encode(
    np.where((np.arange(600) // 2) % 2 == 0, 9000, -9000).astype(np.int16), 8000
)
_AVI = codecs.avi_encode([_PNG] * 3, fps=10)
_GOOD = {"image": _PNG, "audio": _WAV, "video": _AVI}
_TRUNC = {
    "image": _PNG[: len(_PNG) // 2],
    "audio": _WAV[:20],  # RIFF magic intact: no raw-PCM fallback
    "video": _AVI[: len(_AVI) // 2],
}

# name -> (payload kind, call(df, id_col), rows per decodable payload,
#          undecodable result: "ok_false" (one ok=False row) or "none")
OPS = {
    "decode_image_features": (
        "image", lambda df, c: multimodal.decode_image_features(df, id_col=c),
        1, "ok_false",
    ),
    "resize_images": (
        "image", lambda df, c: multimodal.resize_images(df, 2, 3, id_col=c),
        1, "none",
    ),
    "color_histograms": (  # one non-empty bin per channel
        "image", lambda df, c: multimodal.color_histograms(df, id_col=c),
        3, "none",
    ),
    "embed_images": (
        "image", lambda df, c: multimodal.embed_images(df, id_col=c),
        1, "none",
    ),
    "image_sharpness": (
        "image", lambda df, c: multimodal.image_sharpness(df, id_col=c),
        1, "none",
    ),
    "transform_images": (
        "image", lambda df, c: multimodal.transform_images(df, "hflip", id_col=c),
        1, "none",
    ),
    "metadata_consistency": (
        "image", lambda df, c: images.metadata_consistency(df), 1, "ok_false",
    ),
    "extract_audio_features": (
        "audio", lambda df, c: multimodal.extract_audio_features(df, id_col=c),
        1, "ok_false",
    ),
    "energy_segments": (
        "audio", lambda df, c: multimodal.energy_segments(df, id_col=c),
        1, "none",
    ),
    "sample_video_frames": (  # every_n=2 over 3 frames: frames 0 and 2
        "video",
        lambda df, c: multimodal.sample_video_frames(df, every_n=2, id_col=c),
        2, "none",
    ),
}


def _id_col(op):
    return "image_id" if op == "metadata_consistency" else "x"


def _frame(spark, op, id_type, rows):
    kind = OPS[op][0]
    c = _id_col(op)
    data = [
        (i, bytearray(_GOOD[kind] if p == "good" else _TRUNC[kind])
         if p is not None else None, 4, 4, "png")
        for i, p in rows
    ]
    # one partition: the NULL id and BIG share an Arrow batch
    return spark.createDataFrame(
        data, f"{c} {id_type}, bytes binary, w int, h int, fmt string"
    ).coalesce(1)


def _ids(id_type):
    if id_type == "long":
        return 1, 2, 3, BIG
    return "a", "b", "c", "big"


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("op", list(OPS))
def test_payload_contract(spark, op, id_type):
    kind, call, per_good, bad = OPS[op]
    one, nul, trunc, big = _ids(id_type)
    df = _frame(
        spark, op, id_type,
        [(one, "good"), (one, "good"), (None, "good"), (big, "good"),
         (nul, None), (trunc, "trunc")],
    )
    out = call(df, _id_col(op))
    id_field = out.schema.fields[0]
    assert (id_field.name, id_field.dataType) == (
        _id_col(op), df.schema[_id_col(op)].dataType
    )
    rows = out.collect()
    want = Counter({one: 2 * per_good, None: per_good, big: per_good})
    if bad == "ok_false":
        want.update([nul, trunc])
    assert Counter(r[0] for r in rows) == want
    if bad == "ok_false":
        flag = out.columns[1]  # ok / decode_ok
        for r in rows:
            assert r[flag] is (r[0] not in (nul, trunc))
            if not r[flag]:
                assert all(r[f] is None for f in out.columns[2:] if f != "err")

    empty = call(df.limit(0), _id_col(op))
    assert empty.schema == out.schema
    assert empty.collect() == []


def test_audio_null_payload_is_an_error_row(spark):
    df = _frame(spark, "extract_audio_features", "long", [(7, None)])
    (r,) = multimodal.extract_audio_features(df, id_col="x").collect()
    assert (r.x, r.ok, r.n_channels, r.n_samples) == (7, False, None, None)
    assert "NULL payload" in r.err


def test_metadata_consistency_compares_declared_values(spark):
    df = spark.createDataFrame(
        [
            ("a", bytearray(_PNG), 4, 4, "png"),
            ("b", bytearray(_PNG), None, 4, "jpeg"),
            ("c", bytearray(_PNG), 4, 5, None),
        ],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    got = {r[0]: tuple(r[1:]) for r in images.metadata_consistency(df).collect()}
    assert got == {
        "a": (True, True, True),
        "b": (True, False, False),
        "c": (True, False, False),
    }


@pytest.mark.parametrize("op", ["caption_alignment", "image_dhash"])
def test_image_ops_keep_a_custom_id_col(spark, op):
    df = spark.createDataFrame(
        [(5, bytearray(_PNG), "red cat"), (6, bytearray(b"nope"), "dog")],
        "x long, bytes binary, caption string",
    )
    out = getattr(multimodal, op)(df, id_col="x", grid=2)
    assert out.columns[0] == "x"
    assert [r.x for r in out.collect()] == [5]


def test_video_null_payload_skipped_or_raised(spark):
    df = _frame(
        spark, "sample_video_frames", "string", [("v", "good"), ("n", None)]
    )
    out = multimodal.sample_video_frames(df, every_n=1, id_col="x").collect()
    assert sorted((r.x, r.frame_idx) for r in out) == [
        ("v", 0), ("v", 1), ("v", 2)
    ]
    with pytest.raises(Exception, match="ValueError: NULL payload"):
        multimodal.sample_video_frames(
            df, every_n=1, id_col="x", strict=True
        ).collect()


def _tree(name):
    path = pathlib.Path(ndto_spark.__file__).parent / name
    return ast.parse(path.read_text(), filename=str(path))


def _batch_map_sites(tree):
    """Names of the top-level functions whose bodies call mapInPandas or
    mapInArrow, once per call."""
    return sorted(
        getattr(top, "name", "<module>")
        for top in tree.body
        for node in ast.walk(top)
        if isinstance(node, ast.Attribute)
        and node.attr in ("mapInPandas", "mapInArrow")
    )


def test_batch_maps_only_in_the_launchers():
    assert _batch_map_sites(_tree("multimodal.py")) == ["_map_payloads"]
    assert _batch_map_sites(_tree("images.py")) == []
    assert _batch_map_sites(_tree("fixtures.py")) == ["_synth", "synth_images"]
