"""Seeded input tables for the benchmark.

Every table has the schema and value distribution of the gate testdata
(documents, events, lineitem, embeddings), so the gate queries and their
DuckDB oracles run on it unchanged. Row counts are those of the gate
testdata's parquet files: 500 documents and 500 embeddings at every scale
factor, 1,000,000 x ``sf`` events and 6,000,000 x ``sf`` lineitem rows
(1,000 and 6,000 at sf 0.001). The same (table, sf, seed) always gives
the same rows.

Layout is a parameter: the gate layout is one file holding one row group
(the layout ``dedup._spread`` exists for); ``files``/``row_groups`` split a
table the way a well-laid-out production table is split.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
EPOCH_2024_US = 1_704_067_200_000_000
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, table))])


def documents(n: int, seed: int) -> pa.Table:
    """Bag-of-words texts; every 20th document (on average) is a planted
    near-duplicate: an earlier text plus one trailing word."""
    rng = _rng(seed, "documents")
    lengths = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def user_counts(n: int, n_users: int) -> np.ndarray:
    """Events per user, spread evenly over 0.73-1.27 of the mean (the gate
    testdata's 51-88 at sf 0.001). The spread does not depend on the seed,
    so the heavy-hitter threshold of the gate (75) always falls inside it:
    a random draw of 15 users leaves every user under it on about one seed
    in eight."""
    w = np.linspace(0.75, 1.3, n_users)
    c = np.floor(w / w.sum() * n).astype(np.int64)
    c[: n - c.sum()] += 1
    return c


def events(n: int, seed: int) -> pa.Table:
    """Click-stream rows spread over the 30 days from 2024-01-01, ~67
    events per user (see ``user_counts``); the seed picks which user has
    which count and the order of the rows."""
    rng = _rng(seed, "events")
    n_users = max(1, round(n / 66.67))
    users = rng.permutation(np.repeat(rng.permutation(n_users), user_counts(n, n_users)))
    gap_us = EVENTS_SPAN_US / n
    ts = EPOCH_2024_US + np.cumsum(rng.exponential(gap_us, n)).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def lineitem(n: int, seed: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship0 = datetime.datetime(1995, 1, 2)
    ship = [ship0 + datetime.timedelta(days=int(d)) for d in rng.integers(0, 2498, n)]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900.0, 105_000.0, n), 2), pa.float64()
            ),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n), 2), pa.float64()),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2), pa.float64()),
            "l_returnflag": pa.array(rng.choice(["R", "A", "N"], n), pa.string()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n), pa.string()),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )


def embeddings(n: int, seed: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 Gaussian vectors with a 0-9 label."""
    rng = _rng(seed, "embeddings")
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def images(n: int, seed: int) -> pa.Table:
    """The seeded image+caption table of ``fixtures.make_row``."""
    from ndto_spark import fixtures

    rows = [fixtures.make_row(seed, i) for i in range(n)]
    types = {"w": pa.int32(), "h": pa.int32(), "bytes": pa.binary(), "phash": pa.int64()}
    return pa.table(
        {c: pa.array([r[c] for r in rows], types.get(c, pa.string())) for c in rows[0]}
    )


def feature_images(n: int) -> pa.Table:
    """The table of ``fixtures.synth_feature_images``: two-tone PNGs,
    every 25th payload truncated."""
    from ndto_spark import codecs, fixtures

    every = fixtures.FEATURE_CORRUPT_EVERY
    blobs = []
    for i in range(n):
        png = codecs.png_encode(fixtures.feature_image_pixels(i))
        blobs.append(png[: max(8, len(png) // 3)] if i % every == every - 1 else png)
    return pa.table(
        {
            "image_id": pa.array([f"fi_{i:08d}" for i in range(n)], pa.string()),
            "bytes": pa.array(blobs, pa.binary()),
        }
    )


def table_rows(table: str, sf: float) -> int:
    return {
        "documents": 500,
        "events": round(1_000_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "embeddings": 500,
    }[table]


MAKERS = {
    "documents": documents,
    "events": events,
    "lineitem": lineitem,
    "embeddings": embeddings,
}


def write(t: pa.Table, path: str, files: int = 1, row_groups: int = 1) -> None:
    """Write ``t`` as ``path`` (one file) or as a directory of ``files``
    parquet files, each holding ``row_groups`` row groups."""
    if files == 1:
        pq.write_table(t, path, row_group_size=-(-t.num_rows // row_groups))
        return
    os.makedirs(path, exist_ok=True)
    per_file = -(-t.num_rows // files)
    for f in range(files):
        part = t.slice(f * per_file, per_file)
        pq.write_table(
            part,
            os.path.join(path, f"part-{f:04d}.parquet"),
            row_group_size=-(-part.num_rows // row_groups),
        )


def cached(path: str, make, files: int) -> None:
    """Write ``make()`` to ``path`` once, the way the program's fixture
    caches do (complete when it holds a _SUCCESS marker)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    tmp = f"{path}.tmp-{os.getpid()}"
    write(make(), tmp, files)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.rename(tmp, path)


def testdata_dir(out_dir: str, sf: float, seed: int, tables=tuple(MAKERS)) -> str:
    """A gate-layout sf directory (one single-row-group file per table)."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        write(MAKERS[name](table_rows(name, sf), seed), f"{out_dir}/{name}.parquet")
    return out_dir
