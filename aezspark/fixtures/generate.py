"""Deterministic fixture generation: raster cell tables + interleaved documents.

Everything derives from seed=42 and the world in fixtures/world.py. Output is
plain parquet written with pyarrow (generation is engine-independent so the
Spark engine can be tested against files it did not produce).

Raster tables follow FIXTURES.md §3 (long format, sparse: all-water cells are
absent, reproducing the reference's sparse-block skipping, geoutil.py:28-32).
The documents table follows BASELINE.json input_hint exactly:
documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .. import grid as gridmod
from ..grid import GridSpec
from . import world

SEED = 42

# the 37 valid LCCS classes (extract_country_data.py:111-114)
LCCS37 = [10, 11, 12, 20, 30, 40, 50, 60, 61, 62, 70, 71, 72, 80, 81, 82, 90, 100,
          110, 120, 121, 122, 130, 140, 150, 151, 152, 153, 160, 170, 180, 190,
          200, 201, 202, 210, 220]

_WORDS = ("the quick brown fox jumps over lazy dog and runs through green "
          "fields while rain falls on ancient stones near quiet rivers that "
          "flow toward distant mountains under pale morning light").split()

_WORDS_DE = ("der schnelle braune fuchs springt über den faulen hund und läuft "
             "durch grüne felder während regen auf alte steine fällt").split()


def _land_mask(g: GridSpec, rng: np.random.Generator):
    """Boolean (ny, nx): cells that get data rows — union of country bboxes
    (padded by one pixel) plus ~3% random ocean cells (noise outside any
    polygon, so the PIP join is genuinely selective)."""
    ny_, nx_ = g.ny, g.nx
    mask = np.zeros((ny_, nx_), dtype=bool)
    for _fid, _admin, _a3, (rlons, rlats), _holes in world.raw_features():
        y0, x0 = g.lonlat_to_yx(rlons.min(), rlats.max())
        y1, x1 = g.lonlat_to_yx(rlons.max(), rlats.min())
        mask[max(int(y0) - 1, 0):int(y1) + 2, max(int(x0) - 1, 0):int(x1) + 2] = True
    ocean = rng.random((ny_, nx_)) < 0.03
    return mask | ocean


def _zipfish(rng, values, n, a=1.6):
    """Skewed class draw ensuring head classes are hot (skew fixture)."""
    ranks = np.arange(1, len(values) + 1, dtype=np.float64)
    p = ranks ** (-a)
    p /= p.sum()
    return np.asarray(values)[rng.choice(len(values), size=n, p=p)]


def gen_rasters(coarse: GridSpec, fine: GridSpec, rng: np.random.Generator):
    """Return dict name → pyarrow Table for all cell tables."""
    land_c = _land_mask(coarse, rng)
    yc, xc = np.nonzero(land_c)
    n = len(yc)
    cid = coarse.cell_id(yc, xc)

    def coarse_tbl(extra: dict):
        cols = {"cell_id": pa.array(cid, pa.int64()),
                "y": pa.array(yc.astype(np.int32)),
                "x": pa.array(xc.astype(np.int32))}
        cols.update(extra)
        return pa.table(cols)

    out = {}
    # Köppen-Geiger: values 0..30 (0 = invalid/white, skipped by the decoder,
    # extract_country_data.py:67-69); every code appears.
    kg = _zipfish(rng, np.arange(0, 31), n, a=1.1).astype(np.int32)
    kg[:31] = np.arange(0, 31)  # force full coverage
    out["cells_kg"] = coarse_tbl({"kg_class": pa.array(kg)})

    # slope: 8 bands of percentages summing ≤ 100, with occasional 127
    # per-band NoData sentinel (GeomorphoLookup masks 127,
    # extract_country_data.py:130).
    raw = rng.dirichlet(np.full(9, 0.7), size=n)  # 9th component = remainder
    sl = np.floor(raw[:, :8] * 100).astype(np.int32)
    nodata_rows = rng.random(n) < 0.02
    nodata_band = rng.integers(0, 8, size=n)
    sl[nodata_rows, nodata_band[nodata_rows]] = 127
    out["cells_slope"] = coarse_tbl(
        {f"c{i+1}": pa.array(sl[:, i]) for i in range(8)})

    # FAO slope variant: 8 separate single-band tables (multi-file scan S6,
    # extract_country_data.py:147-158), NoData sentinel 255.
    raw2 = rng.dirichlet(np.full(9, 0.7), size=n)
    sl2 = np.floor(raw2[:, :8] * 100).astype(np.int32)
    nodata_rows2 = rng.random(n) < 0.02
    nodata_band2 = rng.integers(0, 8, size=n)
    sl2[nodata_rows2, nodata_band2[nodata_rows2]] = 255
    for i in range(8):
        out[f"cells_slope_fao_b{i+1}"] = coarse_tbl({"pct": pa.array(sl2[:, i])})

    # workability: 1..7 valid, plus sentinels 0 and 255 (skipped by the
    # zonal decoder, extract_country_data.py:177-179).
    wk = _zipfish(rng, np.array([1, 2, 3, 4, 5, 6, 7, 0, 255]), n, a=1.2).astype(np.int32)
    wk[:9] = np.array([1, 2, 3, 4, 5, 6, 7, 0, 255])
    out["cells_wk"] = coarse_tbl({"wk_class": pa.array(wk)})

    # land-productivity-dynamics: 0 = nondegraded, 1..3 degraded
    # (degraded_analysis.py:133-137).
    lpd = _zipfish(rng, np.array([0, 1, 2, 3]), n, a=1.0).astype(np.int32)
    out["cells_lpd"] = coarse_tbl({"lpd": pa.array(lpd)})

    # land cover at the FINE grid (3× coarse, process_imagery.py:267):
    # valid LCCS codes plus 0/255 sentinels (skipped by the zonal decoder,
    # extract_country_data.py:107).
    land_f = np.repeat(np.repeat(land_c, 3, axis=1), 3, axis=0)
    yf, xf = np.nonzero(land_f)
    nf = len(yf)
    lc = _zipfish(rng, np.array(LCCS37 + [0, 255]), nf, a=1.1).astype(np.int32)
    lc[:39] = np.array(LCCS37 + [0, 255])
    out["cells_lc"] = pa.table({
        "cell_id": pa.array(fine.cell_id(yf, xf), pa.int64()),
        "y": pa.array(yf.astype(np.int32)),
        "x": pa.array(xf.astype(np.int32)),
        "lccs": pa.array(lc)})
    return out


# ---- documents (input_hint shape) ----

_SPAN_TYPE = pa.struct([
    pa.field("kind", pa.string()),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32()),
])


def _doc_batch(start: int, count: int, bboxes: list[tuple[float, float, float, float]]):
    """Generate documents [start, start+count) deterministically (sha256-based,
    FIXTURES.md §1): every doc has ≥1 geo span; geo points land inside a
    country bbox 70% of the time."""
    doc_ids, spans_col = [], []
    for i in range(start, start + count):
        doc_id = f"doc-{i:08d}"
        h = hashlib.sha256(doc_id.encode()).digest()
        n_spans = 1 + h[0] % 7
        forced_geo = h[1] % n_spans
        spans = []
        offset = 0
        for j in range(n_spans):
            hj = hashlib.sha256(f"{doc_id}|{j}".encode()).digest()
            kind = ("text", "geo", "media")[hj[0] % 3]
            if j == forced_geo:
                kind = "geo"
            if kind == "geo":
                u1 = int.from_bytes(hj[1:9], "big") / 2**64
                u2 = int.from_bytes(hj[9:17], "big") / 2**64
                u3 = int.from_bytes(hj[17:25], "big") / 2**64
                if u3 < 0.70:
                    bb = bboxes[hj[25] % len(bboxes)]
                    lat = bb[0] + (bb[1] - bb[0]) * u1
                    lon = bb[2] + (bb[3] - bb[2]) * u2
                else:
                    lat = -60.0 + 120.0 * u1
                    lon = -180.0 + 360.0 * u2
                text = f"{lat:.6f},{lon:.6f}"
                media_ref = ""
            elif kind == "text":
                words = _WORDS_DE if hj[1] % 5 == 0 else _WORDS
                k = 3 + hj[2] % 10
                text = " ".join(words[(hj[3] + t) % len(words)] for t in range(k))
                media_ref = ""
            else:
                text = ""
                media_ref = f"media://{('img', 'aud', 'vid')[hj[1] % 3]}/{hj[2] * 256 + hj[3]:04d}"
            spans.append({"kind": kind, "text": text,
                          "media_ref": media_ref, "offset": offset})
            offset += 1 + hj[4] % 50
        doc_ids.append(doc_id)
        spans_col.append(spans)
    return doc_ids, spans_col


def gen_documents(n_docs: int) -> pa.Table:
    bboxes = []
    for _fid, admin, _a3, (rlons, rlats), _holes in world.raw_features():
        if world.normalize_admin(admin) is None:
            continue
        bboxes.append((float(rlats.min()), float(rlats.max()),
                       float(rlons.min()), float(rlons.max())))
    doc_ids, spans = _doc_batch(0, n_docs, bboxes)
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "spans": pa.array(spans, pa.list_(_SPAN_TYPE)),
    })


def gen_raw_slope(ny: int = 240, nx: int = 240) -> pa.Table:
    """Raw-DEM slope fixture for the classify_slope preprocessing decoder
    (data/geomorpho90m/classify_slope.py): continuous per-pixel slope at 10×
    the coarse resolution, with <0 / >90 invalid sentinels, one all-invalid
    block (→ mean_class 127), and ~2% absent pixels (sparse rows).

    Values are exact multiples of 1/64 so every partial sum is exactly
    representable in a double: Spark's and DuckDB's avg() agree bit-for-bit
    regardless of summation order, making floor(mean) engine-portable."""
    rng = np.random.default_rng(SEED + 7)
    y, x = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    y, x = y.ravel(), x.ravel()
    slope = np.round(rng.gamma(2.0, 6.0, size=len(y)) * 64) / 64.0
    inv = rng.random(len(y)) < 0.03
    slope[inv] = -1.0
    hi = rng.random(len(y)) < 0.01
    slope[hi] = 92.5
    block0 = (y < 10) & (x < 10)  # one coarse pixel with zero valid data
    slope[block0] = -1.0
    keep = (rng.random(len(y)) >= 0.02) | block0
    return pa.table({"y": pa.array(y[keep].astype(np.int32)),
                     "x": pa.array(x[keep].astype(np.int32)),
                     "slope": pa.array(slope[keep])})


DEFAULT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "build", "fixtures", "test")


def ensure_fixtures(out_dir: str = DEFAULT_DIR, coarse_px: float = 2.5,
                    n_docs: int = 2000, with_expected: bool = True) -> str:
    """Idempotently generate the fixture world (and, optionally, the numpy
    oracle's expected_* outputs) into out_dir. Returns out_dir."""
    params = {"seed": SEED, "coarse_px": coarse_px, "n_docs": n_docs,
              "with_expected": with_expected, "v": 10}
    if with_expected:
        # expected-output version: bumped when only the numpy oracle's
        # expected_* outputs change (raw tables identical), so the big
        # with_expected=False bench corpora — 30 min to regenerate at 20M
        # docs, and shared with prev-round control worktrees whose code
        # predates this key — keep their manifests untouched
        params["ev"] = 2
    manifest = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            if json.load(f) == params:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    coarse = GridSpec(grid_id=1, px_deg=coarse_px)
    fine = coarse.refine(3, grid_id=2)
    rng = np.random.default_rng(SEED)

    tables = gen_rasters(coarse, fine, rng)
    tables["documents"] = gen_documents(n_docs)
    tables["raw_slope"] = gen_raw_slope()

    brecs = world.boundaries_records()
    tables["boundaries"] = pa.Table.from_pylist(brecs)

    for name, tbl in tables.items():
        # small row groups: Spark assigns parquet splits at row-group
        # granularity — a single-row-group file would pin the whole scan
        # (and the PIP kernel behind it) to ONE task no matter the core count
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=16384)

    with open(os.path.join(out_dir, "grid.json"), "w") as f:
        json.dump({"coarse_px": coarse_px, "coarse_grid_id": 1, "fine_grid_id": 2}, f)

    if with_expected:
        from . import oracle
        oracle.write_expected(out_dir, coarse, fine)

    with open(manifest, "w") as f:
        json.dump(params, f)
    return out_dir


def load_grids(fx_dir: str) -> tuple[GridSpec, GridSpec]:
    with open(os.path.join(fx_dir, "grid.json")) as f:
        cfg = json.load(f)
    coarse = GridSpec(grid_id=cfg["coarse_grid_id"], px_deg=cfg["coarse_px"])
    return coarse, coarse.refine(3, grid_id=cfg["fine_grid_id"])
