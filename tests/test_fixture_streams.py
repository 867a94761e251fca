"""The fixture streams are pinned: ``fixtures._rng`` reuses one Philox, and
its draws must stay those of a fresh ``Generator(Philox(key=[seed, rid]))``
so the synthesized tables (and the caches keyed by FIXTURES_VERSION) stay
valid."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from ndto_spark import fixtures

SEEDS = (0, 42, 42 * 17 + 3)
ROW_IDS = (0, 1, 2**32 + 5, 2**63 - 1)

# sha256 of make_row(42, i) for i < 200 (see _rows_digest), computed with
# a fresh Philox per _rng call
MAKE_ROW_DIGEST = "b916b44a07db87176dded483630c2ee2f5621e930a0fa0ec85fc32b58ebe7741"


def _fresh(seed: int, row_id: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, row_id]))


def _draws(rng: np.random.Generator) -> list:
    """A mix of the draw kinds the fixtures use: bounded int64 scalars,
    buffered uint8 arrays (leave a half-used 32-bit word behind) and
    doubles."""
    return [
        int(rng.integers(8, 25)),
        rng.integers(0, 256, size=7, dtype=np.uint8).tolist(),
        rng.integers(0, 20, 5).tolist(),
        rng.random(3).tolist(),
    ]


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("row_id", ROW_IDS)
def test_rng_draws_equal_a_fresh_philox(seed, row_id):
    assert _draws(fixtures._rng(seed, row_id)) == _draws(_fresh(seed, row_id))


def _ref_pixels(seed: int, row_id: int) -> np.ndarray:
    rng = _fresh(seed, row_id)
    h = int(rng.integers(8, 25))
    w = int(rng.integers(8, 25))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _ref_caption(seed: int, row_id: int) -> str:
    rng = _fresh(seed * 17 + 3, row_id)
    n = int(rng.integers(3, 12))
    vocab = fixtures.CAPTION_VOCAB
    return " ".join(vocab[int(i)] for i in rng.integers(0, len(vocab), n))


@pytest.mark.parametrize("row_id", ROW_IDS)
def test_interleaved_calls_keep_each_stream(row_id):
    # image_pixels, then caption_text, then image_pixels: each call resets
    # the shared generator, whatever the previous one left in its buffer
    a = fixtures.image_pixels(42, row_id)
    cap = fixtures.caption_text(42, row_id)
    b = fixtures.image_pixels(42, row_id + 1)
    assert np.array_equal(a, _ref_pixels(42, row_id))
    assert cap == _ref_caption(42, row_id)
    assert np.array_equal(b, _ref_pixels(42, row_id + 1))

    g1 = fixtures._rng(42, row_id)
    first = g1.integers(0, 256, size=3, dtype=np.uint8).tolist()
    fixtures._rng(42 * 17 + 3, row_id).integers(0, 20, 4)
    g2 = fixtures._rng(42, row_id)
    assert g2.integers(0, 256, size=3, dtype=np.uint8).tolist() == first


def _rows_digest(seed: int, n: int) -> str:
    h = hashlib.sha256()
    for i in range(n):
        row = fixtures.make_row(seed, i)
        for k in sorted(row):
            h.update(k.encode())
            h.update(repr(row[k]).encode())
    return h.hexdigest()


def test_make_row_stream_is_pinned():
    assert fixtures.FIXTURES_VERSION == "v2"
    assert _rows_digest(42, 200) == MAKE_ROW_DIGEST
