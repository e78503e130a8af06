"""Numpy reference-oracle: the reference's exact semantics, re-implemented.

The reference cannot run here (GDAL missing), so this module is the executable
specification the Spark engine is tested against. It reproduces, densely in
numpy, feature-at-a-time, exactly what the reference does:

  * per-feature rasterized masks  → PIP of pixel centers (prepare_feature_masks
    semantics: RasterizeLayer burns pixels whose center is inside the polygon)
  * km² pixel areas               → geoutil.km2_block formula (geoutil.py:10-25)
  * zonal histograms              → the six decoders (extract_country_data.py:33-205)
  * AEZ allocation                → populate_* + yield_AEZs incl. good+prime merge
                                    and AEZ29 barren-exclusion (process_imagery.py:82-198)
  * ×3 upsample / 9 area split    → process_imagery.py:252-272
  * tile codes                    → plurality + last-writer-wins (process_imagery.py:445-492)
  * degraded 56-way cross class   → degraded_analysis.py:35-166
  * region rollup (list-valued)   → extract_country_data.py:254-263

Outputs land as expected_*.parquet (long format, km2 rounded to 2 decimals to
match the reference's %.2f CSV precision) plus reference-formatted CSVs under
expected_csv/ for byte-level sink parity tests.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from ..grid import GridSpec
from ..geometry import BoundaryIndex, point_seg_dist_deg
from .. import cellindex
from . import world


# --------------------------------------------------------------------------
# Independent containment check.
#
# The oracle shares Polygon/BoundaryIndex with the engine for PIP and kNN, so
# a bug in geometry.point_in_ring could in principle pass parity undetected
# (ADVICE r1). Every containment the oracle computes is therefore CROSS-
# CHECKED against this structurally different implementation: Sunday's
# nonzero-winding-number algorithm with isLeft orientation tests (per-point
# loop formulation) instead of the engine's even-odd ray-crossing parity.
# For the simple (non-self-intersecting) fixture polygons the two must agree
# everywhere off the boundary; fixtures avoid on-edge points by design.
# The kNN oracles (doc_assignment's fallback, doc_knn_topk) share only the
# segment metric point_seg_dist_deg with the engine: _dense_feature_dists
# scans each Polygon's own segments, with no BoundaryIndex in the path, so
# neither the engine's dense scan (nearest_bruteforce_k) nor its
# branch-and-bound is under test by itself. point_seg_dist_deg is pinned by
# tests/test_geometry_perf.py's frozen dense formula and
# tests/test_within_distance.py's metric contract.
# --------------------------------------------------------------------------

def _dense_feature_dists(polys, lon, lat) -> np.ndarray:
    """(N, n_features) min boundary distance from each point to each
    feature: a dense scan of every feature's Polygon.segments()."""
    dists = np.full((len(lon), len(polys)), np.inf)
    for f, poly in enumerate(polys):
        dists[:, f] = point_seg_dist_deg(lon, lat, *poly.segments()).min(axis=1)
    return dists


def winding_contains(lon, lat, ring_lons, ring_lats):
    """Nonzero winding number (Sunday's algorithm), vectorized over points."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    rx = np.asarray(ring_lons, dtype=np.float64)
    ry = np.asarray(ring_lats, dtype=np.float64)
    wn = np.zeros(lon.shape, dtype=np.int64)
    for i in range(len(rx) - 1):
        x1, y1, x2, y2 = rx[i], ry[i], rx[i + 1], ry[i + 1]
        is_left = (x2 - x1) * (lat - y1) - (lon - x1) * (y2 - y1)
        up = (y1 <= lat) & (y2 > lat) & (is_left > 0)
        down = (y1 > lat) & (y2 <= lat) & (is_left < 0)
        wn += up.astype(np.int64) - down.astype(np.int64)
    return wn != 0


def contains_checked(poly, lon, lat):
    """Engine containment, cross-checked against the independent winding
    test (holes subtracted the same way). Raises on any disagreement."""
    got = poly.contains(lon, lat)
    ref = winding_contains(lon, lat, poly.ring_lons, poly.ring_lats)
    for hx, hy in zip(poly.hole_lons, poly.hole_lats):
        ref &= ~winding_contains(lon, lat, hx, hy)
    if (got != ref).any():
        n = int((got != ref).sum())
        raise AssertionError(
            f"containment disagreement on {n} points for feature "
            f"{poly.feature_id} ({poly.country}): even-odd ray crossing vs "
            f"winding number — geometry.point_in_ring is suspect")
    return got

KG_CLASSES = ['Af', 'Am', 'Aw', 'BWh', 'BWk', 'BSh', 'BSk', 'Csa', 'Csb', 'Csc',
              'Cwa', 'Cwb', 'Cwc', 'Cfa', 'Cfb', 'Cfc', 'Dsa', 'Dsb', 'Dsc', 'Dsd',
              'Dwa', 'Dwb', 'Dwc', 'Dwd', 'Dfa', 'Dfb', 'Dfc', 'Dfd', 'ET', 'EF']
# Beck legend value i+1 ↔ KG_CLASSES[i]; same order as KGlookup.kg_colors
# (extract_country_data.py:39-51).

LCCS37 = [10, 11, 12, 20, 30, 40, 50, 60, 61, 62, 70, 71, 72, 80, 81, 82, 90, 100,
          110, 120, 121, 122, 130, 140, 150, 151, 152, 153, 160, 170, 180, 190,
          200, 201, 202, 210, 220]

GAEZ_SLOPES = ["0-0.5%", "0.5-2%", "2-5%", "5-10%", "10-15%", "15-30%", "30-45%", ">45%"]
FAO_SLOPES = ["0-0.5%", "0.5-2%", "2-5%", "5-8%", "8-15%", "15-30%", "30-45%", ">45%"]

TMR_ORDER = ['tropical-humid', 'arid', 'tropical-semiarid', 'temperate-humid',
             'temperate-semiarid', 'boreal-humid', 'boreal-semiarid', 'arctic']
TMR_BASE = {t: 30 * i for i, t in enumerate(TMR_ORDER)}  # process_imagery.py:33-41
AEZ_COLS = [f"{t}|AEZ{n}" for t in TMR_ORDER for n in range(1, 30)]

DEG56_COVERS = ['forest', 'cropland', 'grassland', 'bare', 'urban', 'water', 'ice']
DEG56_SOILS = ['good', 'marginal', 'poor', 'verypoor']
DEG56_COLS = [f"{c}:{s}:{d}" for c in DEG56_COVERS
              for d in ['degraded', 'nondegraded'] for s in DEG56_SOILS]
# column declaration order in degraded_analysis.py:37-66 is cover → (all soils
# degraded) → (all soils nondegraded)


def populate_tmr(kg):
    """process_imagery.py:82-96 (Cs* counted temperate-SEMIARID — as-is)."""
    return {
        'invalid': (kg == 0) | (kg > 30),
        'tropical-humid': np.isin(kg, (1, 2, 3)),
        'arid': np.isin(kg, (4, 5)),
        'tropical-semiarid': np.isin(kg, (6, 7)),
        'temperate-semiarid': np.isin(kg, (8, 9, 10)),
        'temperate-humid': np.isin(kg, (11, 12, 13, 14, 15, 16)),
        'boreal-semiarid': np.isin(kg, (17, 18, 19, 20, 21, 22, 23, 24)),
        'boreal-humid': np.isin(kg, (25, 26, 27, 28)),
        'arctic': np.isin(kg, (29, 30)),
    }


def populate_slope(sl):
    """process_imagery.py:99-104; sl is dict band→array (raw values, no 127
    masking in the AEZ path — as-is)."""
    return {
        'minimal': (sl[1] + sl[2] + sl[3] + sl[4]) / 100.0,
        'moderate': (sl[5] + sl[6]) / 100.0,
        'steep': (sl[7] + sl[8]) / 100.0,
    }


FOREST_LC = (12, 50, 60, 61, 62, 70, 71, 72, 80, 81, 82, 90, 100, 160, 170)
GRASS_LC = (11, 40, 110, 120, 121, 122, 130, 150, 151, 152, 153, 180)
BARE_LC = (140, 200, 201, 202)


def populate_land_use(lc):
    """process_imagery.py:107-124."""
    return {
        'forest': np.isin(lc, FOREST_LC),
        'cropland_rainfed': np.isin(lc, (10, 30)),
        'cropland_irrigated': lc == 20,
        'grassland': np.isin(lc, GRASS_LC),
        'bare': np.isin(lc, BARE_LC),
        'urban': lc == 190,
        'water': lc == 210,
        'ice': lc == 220,
    }


def populate_soil_health(wk):
    """process_imagery.py:127-134."""
    return {
        'prime': wk == 1,
        'good': wk == 2,
        'marginal': np.isin(wk, (3, 4, 6)),
        'barren': wk == 5,
        'water': wk == 7,
    }


def yield_aezs(regime, tmr, slope, land_use, soil):
    """process_imagery.py:137-198 — 29 weights. Note AEZ3/4/10/11/17/18/24/25
    merge good+prime; AEZ29 zeroes barren where bare to avoid double count."""
    r = regime[tmr].astype(np.float64)
    gp = (soil['good'].astype(np.float64) + soil['prime'].astype(np.float64))
    lu = {k: v.astype(np.float64) for k, v in land_use.items()}
    sh = {k: v.astype(np.float64) for k, v in soil.items()}
    sl = {k: np.asarray(v, dtype=np.float64) for k, v in slope.items()}
    for use in ('forest', 'grassland', 'cropland_irrigated', 'cropland_rainfed'):
        yield r * lu[use] * sh['prime'] * sl['minimal']
        yield r * lu[use] * sh['good'] * sl['minimal']
        yield r * lu[use] * gp * sl['moderate']
        yield r * lu[use] * gp * sl['steep']
        yield r * lu[use] * sh['marginal'] * sl['minimal']
        yield r * lu[use] * sh['marginal'] * sl['moderate']
        yield r * lu[use] * sh['marginal'] * sl['steep']
    bare = lu['bare'] + lu['ice'] + lu['urban']
    barren = sh['barren'].copy()
    barren[bare.astype(bool)] = 0.0
    yield r * (bare + barren)


# ---- dense world assembly ----

class DenseWorld:
    """Dense numpy arrays for the fixture world (value 0 where no row —
    raster fill semantics)."""

    def __init__(self, fx_dir: str, coarse: GridSpec, fine: GridSpec):
        self.coarse, self.fine = coarse, fine

        def dense(name, col, g, dtype=np.int32):
            t = pq.read_table(os.path.join(fx_dir, f"{name}.parquet"))
            arr = np.zeros((g.ny, g.nx), dtype=dtype)
            y = t["y"].to_numpy()
            x = t["x"].to_numpy()
            arr[y, x] = t[col].to_numpy()
            return arr

        self.kg = dense("cells_kg", "kg_class", coarse)
        self.wk = dense("cells_wk", "wk_class", coarse)
        self.lpd = dense("cells_lpd", "lpd", coarse)
        self.lc = dense("cells_lc", "lccs", fine)
        self.sl = {b: dense("cells_slope", f"c{b}", coarse) for b in range(1, 9)}
        self.sl_fao = {b: dense(f"cells_slope_fao_b{b}", "pct", coarse)
                       for b in range(1, 9)}
        self.km2_c = coarse.km2_row(np.arange(coarse.ny))[:, None] * np.ones((1, coarse.nx))
        self.km2_f = fine.km2_row(np.arange(fine.ny))[:, None] * np.ones((1, fine.nx))

        # per-feature masks (PIP of pixel centers — RasterizeLayer semantics)
        self.features = []  # (feature_id, country, mask_coarse, mask_fine)
        lat_c = coarse.center_lat(np.arange(coarse.ny))
        lon_c = coarse.center_lon(np.arange(coarse.nx))
        lat_f = fine.center_lat(np.arange(fine.ny))
        lon_f = fine.center_lon(np.arange(fine.nx))
        lon_cg, lat_cg = np.meshgrid(lon_c, lat_c)
        lon_fg, lat_fg = np.meshgrid(lon_f, lat_f)
        for poly in world.polygons():
            mc = contains_checked(poly, lon_cg.ravel(), lat_cg.ravel()).reshape(coarse.ny, coarse.nx)
            mf = contains_checked(poly, lon_fg.ravel(), lat_fg.ravel()).reshape(fine.ny, fine.nx)
            self.features.append((poly.feature_id, poly.country, mc, mf))
        self.countries = sorted({c for _f, c, _mc, _mf in self.features})


def rep3(a):
    return np.repeat(np.repeat(a, 3, axis=1), 3, axis=0)


# ---- zonal histograms (extract_country_data decoders) ----

def zonal_kg(w: DenseWorld) -> pd.DataFrame:
    df = pd.DataFrame(0.0, index=w.countries, columns=KG_CLASSES)
    for _fid, country, mc, _mf in w.features:
        for code in range(1, 31):
            sel = mc & (w.kg == code)
            df.loc[country, KG_CLASSES[code - 1]] += w.km2_c[sel].sum()
    return df


def zonal_lc(w: DenseWorld) -> pd.DataFrame:
    """ESA_LC_lookup runs on the 333m (fine) masks (maskdim='333m',
    extract_country_data.py:98)."""
    df = pd.DataFrame(0.0, index=w.countries, columns=LCCS37)
    for _fid, country, _mc, mf in w.features:
        for code in LCCS37:
            sel = mf & (w.lc == code)
            df.loc[country, code] += w.km2_f[sel].sum()
    return df


def zonal_slope(w: DenseWorld) -> pd.DataFrame:
    """GeomorphoLookup: per-band fraction-weighted sums, 127 = NoData
    (extract_country_data.py:127-133)."""
    df = pd.DataFrame(0.0, index=w.countries, columns=GAEZ_SLOPES)
    for _fid, country, mc, _mf in w.features:
        for b in range(1, 9):
            v = w.sl[b].astype(np.float64)
            sel = mc & (v != 127)
            df.loc[country, GAEZ_SLOPES[b - 1]] += (w.km2_c[sel] * v[sel] / 100.0).sum()
    return df


def zonal_slope_fao(w: DenseWorld) -> pd.DataFrame:
    """FaoSlopeLookup: 8 separate files, 255 = NoData
    (extract_country_data.py:140-158)."""
    df = pd.DataFrame(0.0, index=w.countries, columns=FAO_SLOPES)
    for _fid, country, mc, _mf in w.features:
        for b in range(1, 9):
            v = w.sl_fao[b].astype(np.float64)
            sel = mc & (v != 255)
            df.loc[country, FAO_SLOPES[b - 1]] += (w.km2_c[sel] * v[sel] / 100.0).sum()
    return df


def zonal_wk(w: DenseWorld) -> pd.DataFrame:
    df = pd.DataFrame(0.0, index=w.countries, columns=list(range(1, 8)))
    for _fid, country, mc, _mf in w.features:
        for code in range(1, 8):
            sel = mc & (w.wk == code)
            df.loc[country, code] += w.km2_c[sel].sum()
    return df


def zonal_dg(w: DenseWorld) -> pd.DataFrame:
    """DegradedLandLookup (binary): 0 → nondegraded, anything else degraded
    (extract_country_data.py:193-202). The universe is the whole mask."""
    df = pd.DataFrame(0.0, index=w.countries, columns=["degraded", "nondegraded"])
    for _fid, country, mc, _mf in w.features:
        df.loc[country, "degraded"] += w.km2_c[mc & (w.lpd != 0)].sum()
        df.loc[country, "nondegraded"] += w.km2_c[mc & (w.lpd == 0)].sum()
    return df


# ---- AEZ allocation (process_imagery.produce_CSV) ----

def aez_by_country(w: DenseWorld) -> pd.DataFrame:
    df = pd.DataFrame(0.0, index=w.countries, columns=AEZ_COLS)
    lc = w.lc
    kg_f = rep3(w.kg)
    wk_f = rep3(w.wk)
    sl_f = {b: rep3(w.sl[b]).astype(np.float64) for b in range(1, 9)}
    regime = populate_tmr(kg_f)
    slope = populate_slope(sl_f)
    land_use = populate_land_use(lc)
    soil = populate_soil_health(wk_f)
    for _fid, country, mc, _mf in w.features:
        k = w.km2_c.copy()
        k[~mc] = 0.0
        km2_f = rep3(k) / 9.0
        for tmr in TMR_ORDER:
            for n, aez in enumerate(yield_aezs(regime, tmr, slope, land_use, soil), 1):
                df.loc[country, f"{tmr}|AEZ{n}"] += (aez * km2_f).sum()
    return df


# ---- degraded_analysis 56-way ----

def degraded56(w: DenseWorld) -> pd.DataFrame:
    df = pd.DataFrame(0.0, index=w.countries, columns=DEG56_COLS)
    lc = w.lc
    cover = {
        'forest': np.isin(lc, (12, 50, 60, 61, 62, 70, 71, 72, 80, 81, 82, 90, 160, 170)),
        'cropland': np.isin(lc, (10, 30, 20)),
        'grassland': np.isin(lc, (11, 40, 100, 110, 120, 121, 122, 130, 150, 151, 152, 153, 180)),
        'bare': np.isin(lc, BARE_LC),
        'urban': lc == 190,
        'water': lc == 210,
        'ice': lc == 220,
    }  # degraded_analysis.py:115-131 — note 100 moved to grassland, no forest-100
    lpd_f = rep3(w.lpd)
    deg = {'degraded': lpd_f != 0, 'nondegraded': lpd_f == 0}
    wk_f = rep3(w.wk)
    work = {'good': wk_f == 1, 'marginal': wk_f == 2,
            'poor': wk_f == 3, 'verypoor': wk_f == 4}  # degraded_analysis.py:139-145
    for _fid, country, mc, _mf in w.features:
        k = w.km2_c.copy()
        k[~mc] = 0.0
        km2_f = rep3(k) / 9.0
        for cname, cmask in cover.items():
            for dname, dmask in deg.items():
                for sname, smask in work.items():
                    key = f"{cname}:{sname}:{dname}"
                    df.loc[country, key] += ((cmask & dmask & smask) * km2_f).sum()
    return df


# ---- tiles (process_imagery.produce_GeoTIFF, global, no masks) ----

def tile_codes(w: DenseWorld) -> pd.DataFrame:
    lc = w.lc
    kg_f = rep3(w.kg)
    wk_f = rep3(w.wk)
    sl_f = {b: rep3(w.sl[b]).astype(np.float64) for b in range(1, 9)}
    regime = populate_tmr(kg_f)
    sfrac = populate_slope(sl_f)
    plur = {
        'steep': (sfrac['steep'] >= sfrac['moderate']) & (sfrac['steep'] >= sfrac['minimal']),
        'moderate': (sfrac['moderate'] > sfrac['steep']) & (sfrac['moderate'] >= sfrac['minimal']),
        'minimal': (sfrac['minimal'] > sfrac['steep']) & (sfrac['minimal'] >= sfrac['moderate']),
    }  # process_imagery.py:445-452 (>= vs > tie order — as-is)
    land_use = populate_land_use(lc)
    soil = populate_soil_health(wk_f)

    aez_code = np.full(lc.shape, 255, dtype=np.int32)
    for tmr in TMR_ORDER:
        color = TMR_BASE[tmr]
        for aez in yield_aezs(regime, tmr, plur, land_use, soil):
            aez_code[aez.astype(bool)] = color  # last writer wins (py:461-466)
            color += 1

    slope_code = np.full(lc.shape, 3, dtype=np.int32)
    slope_code[plur['minimal']] = 0
    slope_code[plur['moderate']] = 1
    slope_code[plur['steep']] = 2  # overwrite order MIN→MOD→STP (py:469-472)

    lu_code = np.full(lc.shape, 8, dtype=np.int32)
    for i, k in enumerate(('forest', 'cropland_rainfed', 'cropland_irrigated',
                           'grassland', 'bare', 'urban', 'water', 'ice')):
        lu_code[land_use[k]] = i

    # soil tile reproduces the reference's shifted codes (prime→0, good→1,
    # marginal→2, barren→4, water→5 — process_imagery.py:486-491, blank=3
    # because it reuses C_SLP_BLNK — as-is, golden bug)
    soil_code = np.full(lc.shape, 3, dtype=np.int32)
    soil_code[soil['prime']] = 0
    soil_code[soil['good']] = 1
    soil_code[soil['marginal']] = 2
    soil_code[soil['barren']] = 4
    soil_code[soil['water']] = 5

    yy, xx = np.meshgrid(np.arange(w.fine.ny), np.arange(w.fine.nx), indexing="ij")
    return pd.DataFrame({
        "cell_id": w.fine.cell_id(yy.ravel(), xx.ravel()),
        "aez_code": aez_code.ravel(),
        "slope_code": slope_code.ravel(),
        "lu_code": lu_code.ravel(),
        "soil_code": soil_code.ravel(),
    })


# ---- region rollup (extract_country_data.output_by_region; list-valued) ----

def region_rollup(df: pd.DataFrame) -> pd.DataFrame:
    out = pd.DataFrame(0.0, index=world.REGIONS, columns=df.columns)
    out.index.name = "Region"
    for country, row in df.iterrows():
        regions = world.REGION_MAPPING.get(country)
        if regions is None:
            continue
        out.loc[regions, :] += row  # list index: adds to EVERY listed region
    return out


# ---- assignments + documents ----

def assignment_df(w: DenseWorld, level: str = "coarse") -> pd.DataFrame:
    """Many-to-many cell→feature containment (the mask directory's moral
    equivalent). Overlaps preserved (double-counting semantics)."""
    g = w.coarse if level == "coarse" else w.fine
    rows = []
    for fid, country, mc, mf in w.features:
        m = mc if level == "coarse" else mf
        y, x = np.nonzero(m)
        rows.append(pd.DataFrame({
            "cell_id": g.cell_id(y, x), "y": y.astype(np.int32),
            "x": x.astype(np.int32),
            "feature_id": np.full(len(y), fid, dtype=np.int32),
            "country": country}))
    return pd.concat(rows, ignore_index=True)


def doc_points(fx_dir: str) -> pd.DataFrame:
    """Geo spans exploded to points: (doc_id, span_idx, offset, lat, lon)."""
    t = pq.read_table(os.path.join(fx_dir, "documents.parquet"))
    doc_ids = t["doc_id"].to_pylist()
    spans = t["spans"].to_pylist()
    rows = []
    for did, sp in zip(doc_ids, spans):
        for idx, s in enumerate(sp):
            if s["kind"] == "geo":
                lat_s, lon_s = s["text"].split(",")
                rows.append((did, idx, s["offset"], float(lat_s), float(lon_s)))
    return pd.DataFrame(rows, columns=["doc_id", "span_idx", "offset", "lat", "lon"])


def doc_assignment(fx_dir: str, index_res: int, tiles: pd.DataFrame,
                   fine: GridSpec) -> pd.DataFrame:
    """PIP matches per geo point, kNN nearest-zone for unmatched points
    (SURVEY §2.9 #3/#4), plus the AEZ tile code at the point's fine cell."""
    pts = doc_points(fx_dir)
    polys = world.polygons()
    bidx = BoundaryIndex(polys)
    lonv = pts["lon"].to_numpy()
    latv = pts["lat"].to_numpy()
    pt_i, poly_pos = bidx.pip(lonv, latv, many_to_many=True)
    # cross-check the full PIP match set (bucket prefilter + ring test)
    # against the independent winding containment — validates both
    # point_in_ring and the candidate-generation completeness
    for pos, poly in enumerate(polys):
        expected = np.flatnonzero(contains_checked(poly, lonv, latv))
        got = np.sort(pt_i[poly_pos == pos])
        if not np.array_equal(expected, got):
            raise AssertionError(
                f"BoundaryIndex.pip match set differs from independent "
                f"containment for feature {poly.feature_id}")
    fids = bidx.feature_ids()
    countries = bidx.countries()
    matched = pts.iloc[pt_i].reset_index(drop=True)
    matched["feature_id"] = fids[poly_pos].astype(np.int32)
    matched["country"] = countries[poly_pos]
    matched["method"] = "pip"

    unmatched_mask = np.ones(len(pts), dtype=bool)
    unmatched_mask[np.unique(pt_i)] = False
    un = pts[unmatched_mask].reset_index(drop=True)
    if len(un):
        # a dense per-feature scan outside BoundaryIndex: the engine's
        # nearest (its dense path on every fixture batch, and its
        # branch-and-bound) is never its own oracle; argmin keeps the lowest
        # position on ties, the engine's tie-break
        pos = _dense_feature_dists(polys, un["lon"].to_numpy(),
                                   un["lat"].to_numpy()).argmin(axis=1)
        un["feature_id"] = fids[pos].astype(np.int32)
        un["country"] = countries[pos]
        un["method"] = "knn"
    out = pd.concat([matched, un], ignore_index=True)

    y, x = fine.lonlat_to_yx(out["lon"].to_numpy(), out["lat"].to_numpy())
    out["fine_cell_id"] = fine.cell_id(y, x)
    out["index_cell"] = cellindex.encode(out["lat"].to_numpy(),
                                         out["lon"].to_numpy(), index_res)
    tile_map = tiles.set_index("cell_id")["aez_code"]
    out["aez_code"] = tile_map.reindex(out["fine_cell_id"]).fillna(255).astype(np.int32).to_numpy()
    return out.sort_values(["doc_id", "span_idx", "feature_id"]).reset_index(drop=True)


def doc_within_distance(fx_dir: str, d_deg: float) -> pd.DataFrame:
    """Range-join oracle: all (geo span, feature) pairs with the point inside
    the feature (dist 0) or within d_deg of its boundary. Containment via the
    independent winding test (cross-checked); distances via a DENSE
    points×segments scan per feature — structurally independent of the
    engine's bbox-pruned within()."""
    from ..geometry import KM_PER_DEG, point_seg_dist_deg

    pts = doc_points(fx_dir)
    lonv = pts["lon"].to_numpy()
    latv = pts["lat"].to_numpy()
    rows = []
    for poly in world.polygons():
        inside = contains_checked(poly, lonv, latv)
        x1, y1, x2, y2 = poly.segments()
        dist = point_seg_dist_deg(lonv, latv, x1, y1, x2, y2).min(axis=1)
        match = inside | (dist <= d_deg)
        d_out = np.where(inside, 0.0, dist)
        for i in np.flatnonzero(match):
            dd = round(float(d_out[i]), 6)
            rows.append((pts["doc_id"].iloc[i], int(pts["span_idx"].iloc[i]),
                         int(poly.feature_id), poly.country,
                         dd, round(dd * KM_PER_DEG, 6)))
    return pd.DataFrame(rows, columns=["doc_id", "span_idx", "feature_id",
                                       "country", "dist_deg", "dist_km"])


def doc_knn_topk(fx_dir: str, k: int = 3) -> pd.DataFrame:
    """kNN top-k oracle: for every geo span contained in NO polygon
    (containment via the independent winding test), the k nearest features by
    boundary distance with rank 1..k ordered by (dist, feature position) —
    a DENSE per-feature scan (_dense_feature_dists) outside BoundaryIndex,
    so independent of both of nearest_k's paths."""
    from ..geometry import KM_PER_DEG

    pts = doc_points(fx_dir)
    lonv = pts["lon"].to_numpy()
    latv = pts["lat"].to_numpy()
    polys = world.polygons()
    matched = np.zeros(len(pts), dtype=bool)
    for poly in polys:
        matched |= contains_checked(poly, lonv, latv)
    dists = _dense_feature_dists(polys, lonv, latv)
    un = np.flatnonzero(~matched)
    k_eff = min(k, len(polys))
    fpos = np.broadcast_to(np.arange(len(polys)), (len(un), len(polys)))
    order = np.lexsort((fpos, dists[un]))[:, :k_eff]
    rows = []
    for i, p in enumerate(un):
        for r in range(k_eff):
            f = int(order[i, r])
            dd = round(float(dists[p, f]), 6)
            rows.append((pts["doc_id"].iloc[p], int(pts["span_idx"].iloc[p]),
                         int(polys[f].feature_id), polys[f].country,
                         dd, round(dd * KM_PER_DEG, 6), r + 1))
    return pd.DataFrame(rows, columns=["doc_id", "span_idx", "feature_id",
                                       "country", "dist_deg", "dist_km",
                                       "rank"])


# ---- top-level writer ----

def _long(df: pd.DataFrame, value_name: str = "km2") -> pd.DataFrame:
    out = df.stack().reset_index()
    out.columns = ["country", "class", value_name]
    out["class"] = out["class"].astype(str)
    out[value_name] = out[value_name].round(2)
    return out


def write_expected(fx_dir: str, coarse: GridSpec, fine: GridSpec,
                   index_res: int = 6) -> None:
    w = DenseWorld(fx_dir, coarse, fine)
    csv_dir = os.path.join(fx_dir, "expected_csv")
    os.makedirs(csv_dir, exist_ok=True)

    def emit(name, df, csv_name=None, region=True):
        _long(df).to_parquet(os.path.join(fx_dir, f"expected_{name}.parquet"))
        sorted_df = df.sort_index(axis="index")
        sorted_df.index.name = "Country"
        if csv_name:
            sorted_df.to_csv(os.path.join(csv_dir, csv_name), float_format="%.2f")
        if region:
            reg = region_rollup(df)
            lr = reg.stack().reset_index()
            lr.columns = ["region", "class", "km2"]
            lr["class"] = lr["class"].astype(str)
            lr["km2"] = lr["km2"].round(2)
            lr.to_parquet(os.path.join(fx_dir, f"expected_region_{name}.parquet"))
            if csv_name:
                reg.to_csv(os.path.join(csv_dir, f"region_{csv_name}"),
                           float_format="%.2f")

    emit("kg", zonal_kg(w), "Köppen-Geiger-present-by-country.csv")
    emit("lc", zonal_lc(w), "Land-Cover-by-country.csv")
    emit("sl", zonal_slope(w), "Slope-by-country.csv")
    emit("slfao", zonal_slope_fao(w), "FAO-Slope-by-country.csv")
    emit("wk", zonal_wk(w), "Workability-by-country.csv")
    emit("dg", zonal_dg(w), "Degraded-by-country.csv")
    emit("aez", aez_by_country(w), "AEZ-by-country.csv")
    emit("deg56", degraded56(w), "degraded-cover-by-country.csv")

    assignment_df(w, "coarse").to_parquet(os.path.join(fx_dir, "expected_assignment.parquet"))
    assignment_df(w, "fine").to_parquet(os.path.join(fx_dir, "expected_assignment_fine.parquet"))

    tiles = tile_codes(w)
    tiles.to_parquet(os.path.join(fx_dir, "expected_tiles.parquet"))

    da = doc_assignment(fx_dir, index_res, tiles, fine)
    da.to_parquet(os.path.join(fx_dir, "expected_doc_assignment.parquet"))

    dw = doc_within_distance(fx_dir, d_deg=4.0)
    dw.to_parquet(os.path.join(fx_dir, "expected_doc_within.parquet"))

    kt = doc_knn_topk(fx_dir, k=3)
    kt.to_parquet(os.path.join(fx_dir, "expected_knn_topk.parquet"))
