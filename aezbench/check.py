"""Correctness checks: every output row that differs from the oracle is one
wrong row. Runs in the parent process, after the timed Spark process."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq

TILE_COLS = ("aez_code", "slope_code", "lu_code", "soil_code")


def wrong_zone_counts(got: list | None, expected: pd.DataFrame) -> int:
    """Rows of (country, aez_code, n_docs) missing, extra or different."""
    exp = {(c, int(a)): int(n) for c, a, n in
           expected[["country", "aez_code", "n_docs"]].itertuples(index=False)}
    if got is None:
        return len(exp)
    g = {(c, int(a)): int(n) for c, a, n in got}
    return sum(1 for k in exp.keys() | g.keys() if exp.get(k) != g.get(k))


def wrong_lines(path: str | None, expected_path: str) -> int:
    """Lines of a CSV that differ byte-wise from the expected file."""
    with open(expected_path, "rb") as f:
        exp = f.read().splitlines()
    if path is None or not os.path.exists(path):
        return len(exp)
    with open(path, "rb") as f:
        got = f.read().splitlines()
    n = max(len(exp), len(got))
    pad = [None] * n
    return sum(1 for a, b in zip((exp + pad)[:n], (got + pad)[:n]) if a != b)


def wrong_tiles(sink: str, expected: pd.DataFrame) -> int:
    """Fine cells whose four tile codes differ from the oracle, or that are
    missing from or extra in the sink."""
    got = pq.read_table(sink, columns=["cell_id", *TILE_COLS]).to_pandas()
    m = expected.merge(got, on="cell_id", how="outer",
                       suffixes=("_exp", "_got"), indicator=True)
    bad = m["_merge"] != "both"
    for c in TILE_COLS:
        bad |= m[f"{c}_exp"] != m[f"{c}_got"]
    return int(bad.sum())


def wrong_pairs(got: list | None, expected: pd.DataFrame) -> int:
    """Rows in exactly one of the two row sets (pairs, fingerprints)."""
    exp = {tuple(int(v) for v in r) for r in expected.itertuples(index=False)}
    g = {tuple(int(v) for v in r) for r in (got or [])}
    return len(exp ^ g)
