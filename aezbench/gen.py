"""Seeded input generators for the benchmark.

Every input derives from the command-line seed; the program under test only
ever sees the files written here. Inputs are cached by (seed, size) under the
benchmark's own work directory, so a repeated seed reuses them.

* World: the 11-feature fixture boundaries (the numpy oracle is bound to
  them) plus raster cell tables from `fixtures.generate.gen_rasters` with
  `np.random.default_rng(seed)`.
* Documents: the input_hint schema, doc_id string plus a list of
  (kind, text, media_ref, offset) spans, built column-wise with numpy and
  pyarrow. About 70% of geo points fall inside a random country bbox and
  about 30% off every country bbox. Two orders:
  - uniform: every geo span is drawn independently, docs in random order,
    so each scan split touches every tile shard;
  - clustered: a doc's geo spans lie within 0.5 degrees of one anchor point
    and docs are sorted by the anchor's 16-degree region, so each scan split
    touches a few shards.
* Corpus (traced run only): flat (doc_id, text) docs for the corpus dedup
  pipeline, with ~10% planted near-duplicates and one boilerplate text
  shared by more docs than the 64-member hot-bucket cap.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from aezspark.fixtures import generate as fxgen
from aezspark.fixtures import world as fxworld
from aezspark.grid import GridSpec

_WORDS = fxgen._WORDS
_SPAN_TYPE = fxgen._SPAN_TYPE
_OFF_BBOX_SHARE = 0.30
# Spark splits parquet at row-group granularity: 8k-doc groups spread the
# corpus over every core, and a group is the unit whose shard working set
# meets the kernel's per-worker LRU
ROW_GROUP_DOCS = 4096


def _write_json_atomic(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def ensure_world(work: str, seed: int, coarse_px: float) -> str:
    """Write the seeded fixture world; returns its directory (World-readable:
    grid.json, boundaries.parquet and the cell tables)."""
    out = os.path.join(work, "inputs", f"world_s{seed}_px{coarse_px:g}")
    done = os.path.join(out, "grid.json")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    coarse = GridSpec(grid_id=1, px_deg=coarse_px)
    fine = coarse.refine(3, grid_id=2)
    tables = fxgen.gen_rasters(coarse, fine, np.random.default_rng(seed))
    # every table gen_rasters makes: the oracle's DenseWorld reads them all
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"),
                       row_group_size=16384)
    pq.write_table(pa.Table.from_pylist(fxworld.boundaries_records()),
                   os.path.join(out, "boundaries.parquet"))
    # grid.json last: its presence marks a complete world
    _write_json_atomic(done, {"coarse_px": coarse_px, "coarse_grid_id": 1,
                              "fine_grid_id": 2})
    return out


def country_bboxes() -> np.ndarray:
    """(lat_min, lat_max, lon_min, lon_max) of every feature that survives
    admin normalization."""
    out = []
    for _fid, admin, _a3, (rlons, rlats), _holes in fxworld.raw_features():
        if fxworld.normalize_admin(admin) is None:
            continue
        out.append((rlats.min(), rlats.max(), rlons.min(), rlons.max()))
    return np.asarray(out, dtype=np.float64)


def _off_bbox_points(rng: np.random.Generator, n: int, bb: np.ndarray):
    """n uniform points in lat [-60, 60] x lon [-180, 180) outside every
    country bbox (rejection sampling)."""
    lat = np.empty(0)
    lon = np.empty(0)
    while len(lat) < n:
        m = 2 * (n - len(lat)) + 16
        la = rng.uniform(-60.0, 60.0, m)
        lo = rng.uniform(-180.0, 180.0, m)
        inside = ((la[:, None] >= bb[:, 0]) & (la[:, None] <= bb[:, 1])
                  & (lo[:, None] >= bb[:, 2]) & (lo[:, None] <= bb[:, 3]))
        keep = ~inside.any(axis=1)
        lat = np.concatenate([lat, la[keep]])
        lon = np.concatenate([lon, lo[keep]])
    return lat[:n], lon[:n]


def geo_points(rng: np.random.Generator, n: int):
    """n geo points: ~70% uniform inside a random country bbox, the rest off
    every bbox, interleaved in random (uniform global) order."""
    bb = country_bboxes()
    off = rng.random(n) < _OFF_BBOX_SHARE
    lat = np.empty(n)
    lon = np.empty(n)
    k = int((~off).sum())
    b = bb[rng.integers(0, len(bb), k)]
    lat[~off] = b[:, 0] + (b[:, 1] - b[:, 0]) * rng.random(k)
    lon[~off] = b[:, 2] + (b[:, 3] - b[:, 2]) * rng.random(k)
    lat[off], lon[off] = _off_bbox_points(rng, int(off.sum()), bb)
    return lat, lon


ORDERS = ("uniform", "clustered")
_CLUSTER_JITTER_DEG = 0.5
_CLUSTER_REGION_DEG = 16.0


def _clustered_points(rng: np.random.Generator, n_docs: int,
                      doc_of_span: np.ndarray):
    """Per-doc anchors (same 70/30 mixture), docs ordered by the anchor's
    region, spans jittered around their doc's anchor."""
    alat, alon = geo_points(rng, n_docs)
    region = (np.floor((90.0 - alat) / _CLUSTER_REGION_DEG) * 1000
              + np.floor((alon + 180.0) / _CLUSTER_REGION_DEG))
    order = np.lexsort((alon, region))
    alat, alon = alat[order], alon[order]
    k = len(doc_of_span)
    lat = np.clip(alat[doc_of_span]
                  + rng.uniform(-_CLUSTER_JITTER_DEG, _CLUSTER_JITTER_DEG, k),
                  -89.9, 89.9)
    lon = alon[doc_of_span] + rng.uniform(-_CLUSTER_JITTER_DEG,
                                          _CLUSTER_JITTER_DEG, k)
    lon = (lon + 180.0) % 360.0 - 180.0
    return lat, lon


def documents_table(seed: int, n_docs: int, order: str) -> pa.Table:
    """n_docs interleaved documents: 1-7 spans each, kinds text/geo/media
    with at least one geo span per doc, offsets strictly increasing."""
    if order not in ORDERS:
        raise ValueError(f"unknown document order {order!r}")
    rng = np.random.default_rng([seed, n_docs, ORDERS.index(order)])
    n_spans = rng.integers(1, 8, n_docs)
    total = int(n_spans.sum())
    starts = np.concatenate([[0], np.cumsum(n_spans)[:-1]])
    kind = rng.integers(0, 3, total)  # 0 text, 1 geo, 2 media
    kind[starts + rng.integers(0, n_spans)] = 1
    steps = 1 + rng.integers(0, 50, total)
    cum = np.cumsum(steps)
    # offsets restart at 0 in every doc
    offset = cum - np.repeat(cum[starts], n_spans)

    text = np.full(total, "", dtype=object)
    media = np.full(total, "", dtype=object)
    geo = np.flatnonzero(kind == 1)
    if order == "uniform":
        lat, lon = geo_points(rng, len(geo))
    else:
        doc_of_span = np.repeat(np.arange(n_docs), n_spans)
        lat, lon = _clustered_points(rng, n_docs, doc_of_span[geo])
    text[geo] = [f"{a:.6f},{o:.6f}" for a, o in zip(lat, lon)]
    txt = np.flatnonzero(kind == 0)
    first = rng.integers(0, len(_WORDS), len(txt))
    nw = rng.integers(3, 13, len(txt))
    text[txt] = [" ".join(_WORDS[(f + t) % len(_WORDS)] for t in range(k))
                 for f, k in zip(first, nw)]
    med = np.flatnonzero(kind == 2)
    mkind = np.array(["img", "aud", "vid"])[rng.integers(0, 3, len(med))]
    mnum = rng.integers(0, 65536, len(med))
    media[med] = [f"media://{k}/{v:04d}" for k, v in zip(mkind, mnum)]

    spans = pa.StructArray.from_arrays(
        [pa.array(np.array(["text", "geo", "media"])[kind], pa.string()),
         pa.array(text, pa.string()),
         pa.array(media, pa.string()),
         pa.array(offset.astype(np.int32), pa.int32())],
        fields=list(_SPAN_TYPE))
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32))
    doc_ids = pa.array([f"s{seed}-{i:08d}" for i in range(n_docs)], pa.string())
    return pa.table({"doc_id": doc_ids,
                     "spans": pa.ListArray.from_arrays(offsets, spans)})


def ensure_documents(work: str, seed: int, n_docs: int, order: str,
                     fx_dir: str) -> str:
    """Write the seeded corpus as `documents.parquet` inside a copy-free
    view of the world dir (World and the oracle's doc_assignment both read
    <dir>/documents.parquet). Returns that directory."""
    out = os.path.join(work, "inputs", f"docs_{order}_s{seed}_n{n_docs}")
    path = os.path.join(out, "documents.parquet")
    if os.path.exists(path):
        return out
    os.makedirs(out, exist_ok=True)
    for name in os.listdir(fx_dir):
        if not (name.endswith(".parquet") or name == "grid.json"):
            continue
        dst = os.path.join(out, name)
        if not os.path.lexists(dst):
            os.symlink(os.path.join(fx_dir, name), dst)
    tmp = path + ".tmp"
    pq.write_table(documents_table(seed, n_docs, order), tmp,
                   row_group_size=ROW_GROUP_DOCS)
    os.replace(tmp, path)
    return out


def ensure_drops(work: str, docs_dir: str, n_drops: int) -> str:
    """The corpus's first n_drops row groups as a stream of document drops:
    <out>/stream/drop-NNNN.parquet, one file per micro-batch, plus the same
    documents as <out>/documents.parquet (with the world's tables) for the
    oracle. A clustered corpus gives region-clustered drops."""
    out = docs_dir.rstrip("/") + f"_drops{n_drops}"
    path = os.path.join(out, "documents.parquet")
    if os.path.exists(path):
        return out
    os.makedirs(os.path.join(out, "stream"), exist_ok=True)
    for name in os.listdir(docs_dir):
        if name.endswith(".parquet") and name != "documents.parquet" \
                or name == "grid.json":
            dst = os.path.join(out, name)
            if not os.path.lexists(dst):
                os.symlink(os.path.realpath(os.path.join(docs_dir, name)), dst)
    pf = pq.ParquetFile(os.path.join(docs_dir, "documents.parquet"))
    groups = [pf.read_row_group(g) for g in range(n_drops)]
    for g, tbl in enumerate(groups):
        pq.write_table(tbl, os.path.join(out, "stream", f"drop-{g:04d}.parquet"))
    tmp = path + ".tmp"
    pq.write_table(pa.concat_tables(groups), tmp)
    os.replace(tmp, path)
    return out


def shards_per_split(docs_dir: str, fine: GridSpec, tile_px: int) -> float:
    """Mean number of distinct tile shards the geo points of one parquet
    row group (one scan split) fall in: the working set the kernel's shard
    LRU sees per Arrow batch. Cached next to the corpus."""
    cache = os.path.join(docs_dir, f"shards_per_split_t{tile_px}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    pf = pq.ParquetFile(os.path.join(docs_dir, "documents.parquet"))
    n_tx = (fine.nx + tile_px - 1) // tile_px
    counts = []
    for g in range(pf.num_row_groups):
        spans = pf.read_row_group(g, columns=["spans"]).column(0).combine_chunks()
        flat = spans.flatten()
        geo = flat.filter(pc.equal(flat.field("kind"), "geo"))
        parts = pc.split_pattern(geo.field("text"), ",")
        lat = pc.cast(pc.list_element(parts, 0), "float64").to_numpy()
        lon = pc.cast(pc.list_element(parts, 1), "float64").to_numpy()
        y, x = fine.lonlat_to_yx(lon, lat)
        counts.append(len(np.unique((y // tile_px) * n_tx + x // tile_px)))
    _write_json_atomic(cache, float(np.mean(counts)))
    return float(np.mean(counts))


# ---- text corpus for the corpus dedup probe ----

BOILERPLATE_DOCS = 80     # > the 64-member hot-bucket cap of corpus.py
NEAR_DUP_SHARE = 0.10


def _vocab() -> list[str]:
    """400 pseudo-words, fixed across seeds."""
    rng = np.random.default_rng(0)
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vi", "zo", "da",
           "fe", "gu", "hi", "jo", "pa", "qu", "ri", "so", "tu", "we"]
    words = set()
    while len(words) < 400:
        k = int(rng.integers(2, 5))
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def corpus_table(seed: int, n_docs: int) -> pa.Table:
    """n_docs texts of 20-60 words: unique texts, ~10% near-duplicates of
    them (5% of words replaced, at least one), and BOILERPLATE_DOCS copies
    of one text; shuffled, doc_id 0..n-1."""
    rng = np.random.default_rng([seed, n_docs, 7])
    vocab = np.array(_vocab(), dtype=object)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_base = n_docs - n_near - BOILERPLATE_DOCS
    base = [list(vocab[rng.integers(0, len(vocab), int(rng.integers(20, 61)))])
            for _ in range(n_base)]
    texts = [" ".join(w) for w in base]
    for src in rng.integers(0, n_base, n_near):
        words = list(base[src])
        k = max(1, round(0.05 * len(words)))
        for i in rng.choice(len(words), k, replace=False):
            words[i] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(words))
    boiler = " ".join(vocab[rng.integers(0, len(vocab), 30)])
    texts += [boiler] * BOILERPLATE_DOCS
    order = rng.permutation(len(texts))
    return pa.table({"doc_id": pa.array(np.arange(len(texts)), pa.int64()),
                     "text": pa.array([texts[i] for i in order], pa.string())})


def ensure_corpus(work: str, seed: int, n_docs: int) -> str:
    """Write the seeded text corpus; returns the parquet path."""
    out = os.path.join(work, "inputs", f"corpus_s{seed}_n{n_docs}")
    path = os.path.join(out, "corpus.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out, exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(corpus_table(seed, n_docs), tmp, row_group_size=1024)
    os.replace(tmp, path)
    return path
