"""Independent references: each gate query's DuckDB ``ORACLE_SQL`` over the
same files Spark reads, compared the way the gate compares them (column
names, row count and order-insensitive values)."""

from __future__ import annotations

import os

TABLES = ["documents", "events", "lineitem", "embeddings"]


def connect(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


def normalize(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    out = pdf[cols].copy()
    for c in cols:
        out[c] = out[c].map(repr)
    return cols, sorted(map(tuple, out.itertuples(index=False, name=None)))


def mismatch(got, want) -> str | None:
    """None when two normalized results agree, else what differs."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"rowcount {len(gr)} != {len(wr)}"
    if gr != wr:
        return f"values differ, first: {next((a, b) for a, b in zip(gr, wr) if a != b)}"
    return None
