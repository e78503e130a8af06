"""Expected outputs from the repo's numpy reference oracle.

Runs in the benchmark's parent process, never in the timed Spark process,
and caches its results by (seed, size) next to the inputs:

* aez.csv: `fixtures.oracle.aez_by_country` in the reference CSV format;
* tiles.parquet: `fixtures.oracle.tile_codes` over the seeded rasters;
* zone_counts.parquet: distinct documents per (country, aez_code) from
  `fixtures.oracle.doc_assignment`;
* lsh_pairs / simhash_fp / simhash_pairs .parquet: the corpus probe's pair
  sets from the DuckDB oracle SQL of `__spark_entry__.oracle_sql()` run on
  the generated corpus.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from aezspark.fixtures import generate as fxgen
from aezspark.fixtures import oracle as fxoracle


def reference_csv(df: pd.DataFrame, path: str) -> None:
    """The reference's sink format: rows sorted by country, %.2f floats."""
    out = df.sort_index(axis="index")
    out.index.name = "Country"
    out.to_csv(path, float_format="%.2f")


def doc_points(fx_dir: str) -> pd.DataFrame:
    """Column-wise equivalent of `fixtures.oracle.doc_points` (same rows,
    same order): geo spans parsed to (doc_id, span_idx, offset, lat, lon).
    The row-at-a-time original takes ~8 s per 100k docs."""
    t = pq.read_table(os.path.join(fx_dir, "documents.parquet"))
    spans = t.column("spans").combine_chunks()
    flat = spans.flatten()
    parent = pc.list_parent_indices(spans).to_numpy()
    starts = spans.offsets.to_numpy()[:-1]
    span_idx = np.arange(len(flat)) - starts[parent]
    geo = (flat.field("kind").to_numpy(zero_copy_only=False) == "geo")
    parts = pc.split_pattern(flat.field("text").filter(pa.array(geo)), ",")
    doc_ids = t.column("doc_id").combine_chunks().to_numpy(zero_copy_only=False)
    return pd.DataFrame({
        "doc_id": doc_ids[parent[geo]],
        "span_idx": span_idx[geo],
        "offset": flat.field("offset").to_numpy(zero_copy_only=False)[geo],
        "lat": pc.cast(pc.list_element(parts, 0), "float64").to_numpy(),
        "lon": pc.cast(pc.list_element(parts, 1), "float64").to_numpy(),
    })


def zone_counts(assign: pd.DataFrame) -> pd.DataFrame:
    """Distinct documents per (country, aez_code) from the oracle's per-point
    assignment: the documents.assign_zone_counts contract."""
    d = assign[["doc_id", "country", "aez_code"]].drop_duplicates()
    return (d.groupby(["country", "aez_code"]).size()
            .reset_index(name="n_docs"))


def _doc_assignment(fx_dir: str, tiles: pd.DataFrame, fine) -> pd.DataFrame:
    """`fixtures.oracle.doc_assignment` (PIP cross-checked against the
    independent winding test, brute-force kNN for unmatched points) with the
    column-wise point parse swapped in."""
    slow = fxoracle.doc_points
    fxoracle.doc_points = doc_points
    try:
        return fxoracle.doc_assignment(fx_dir, 6, tiles, fine)
    finally:
        fxoracle.doc_points = slow


def ensure_expected(fx_dir: str, out: str, with_aez: bool) -> str:
    """Compute (or reuse) the expected outputs for one input directory:
    tiles and zone counts always, the AEZ CSV when asked for."""
    docs_done = os.path.join(out, "DONE_docs")
    aez_done = os.path.join(out, "DONE_aez")
    need_docs = not os.path.exists(docs_done)
    need_aez = with_aez and not os.path.exists(aez_done)
    if not (need_docs or need_aez):
        return out
    os.makedirs(out, exist_ok=True)
    coarse, fine = fxgen.load_grids(fx_dir)
    w = fxoracle.DenseWorld(fx_dir, coarse, fine)
    if need_docs:
        tiles = fxoracle.tile_codes(w)
        tiles.to_parquet(os.path.join(out, "tiles.parquet"))
        zone_counts(_doc_assignment(fx_dir, tiles, fine)).to_parquet(
            os.path.join(out, "zone_counts.parquet"))
        _mark(docs_done)
    if need_aez:
        aez = fxoracle.aez_by_country(w)
        aez.columns = [str(c) for c in aez.columns]
        reference_csv(aez, os.path.join(out, "aez.csv"))
        _mark(aez_done)
    return out


def _mark(path: str) -> None:
    """Written after the outputs it covers: marks a complete cache entry."""
    with open(path, "w") as f:
        f.write("ok\n")


SIMHASH_BLOCKS = 4        # simhash_pairs(max_hamming=3): 4 blocks of 16 bits
HOT_BUCKET_CAP = 64       # corpus.py's default max_bucket_size


def _guarded_simhash_pairs(fp: pd.DataFrame, pairs: pd.DataFrame) -> pd.DataFrame:
    """Apply simhash_pairs' hot-block guard to the uncapped oracle pairs:
    a pair survives when it agrees on at least one block whose
    (block_idx, block_val) bucket has at most HOT_BUCKET_CAP members."""
    v = fp.set_index("doc_id")["simhash"]
    ok = pd.Series(False, index=pairs.index)
    for i in range(SIMHASH_BLOCKS):
        blk = (v.to_numpy() >> (16 * i)) & 0xFFFF
        size = pd.Series(blk).map(pd.Series(blk).value_counts())
        small = pd.Series(size.to_numpy() <= HOT_BUCKET_CAP, index=v.index)
        ba = pd.Series(blk, index=v.index)
        same = (ba.reindex(pairs["doc_a"]).to_numpy()
                == ba.reindex(pairs["doc_b"]).to_numpy())
        ok |= same & small.reindex(pairs["doc_a"]).to_numpy()
    return pairs[ok.to_numpy()].reset_index(drop=True)


def ensure_corpus_expected(corpus_path: str, out: str) -> str:
    """LSH candidate pairs and SimHash fingerprints and pairs for the
    generated corpus, from the DuckDB oracle SQL."""
    done = os.path.join(out, "DONE_corpus")
    if os.path.exists(done):
        return out
    from unittest import mock

    import duckdb
    import __spark_entry__ as entry

    os.makedirs(out, exist_ok=True)
    # oracle_sql() first makes the repo's test fixtures, which the corpus
    # queries never read; skip that so nothing is written outside `out`
    with mock.patch.object(entry, "ensure_fixtures", lambda *a, **k: None):
        sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute("CREATE TABLE documents AS SELECT doc_id, text "
                    f"FROM read_parquet('{corpus_path}')")
        lsh = con.execute(sql["lsh_candidate_pairs"]).df()
        sim = con.execute(sql["simhash"]).df()
    finally:
        con.close()
    lsh.to_parquet(os.path.join(out, "lsh_pairs.parquet"))
    fp = (sim[sim["kind"] == "fp"]
          .rename(columns={"a": "doc_id", "v": "simhash"})[["doc_id", "simhash"]])
    pairs = (sim[sim["kind"] == "pair"]
             .rename(columns={"a": "doc_a", "b": "doc_b", "v": "hamming"})
             [["doc_a", "doc_b", "hamming"]].astype("int64"))
    fp.to_parquet(os.path.join(out, "simhash_fp.parquet"))
    _guarded_simhash_pairs(fp, pairs).to_parquet(
        os.path.join(out, "simhash_pairs.parquet"))
    _mark(done)
    return out
