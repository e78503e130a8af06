"""H3/S2-style hierarchical cell index — pure numpy + Spark Column exprs.

The h3/s2 wheels are unavailable in this environment, so the engine ships its
own deterministic hierarchical lat/lon cell scheme (mandated by BASELINE.json
north_rule: "H3/S2-style cell index"): a quadtree over the global grid where
resolution r has pixel size 0.5°/2^r (r=0 is the reference's 0.5° test grid,
test_extract_country_data.py:257-258).

    cell = (r << 57) | (y << 29) | x
    y = floor((90 - lat) / px),  x = floor((lon + 180) / px),  px = 0.5 / 2^r

x is the wide axis (720 columns at r=0 vs 360 rows), so it gets the wider
field: at r=19, x < 720·2^19 < 2^29 and y < 360·2^19 < 2^28. A symmetric
28/28 split (the original layout) silently overflowed x into the y field for
lon ≥ 76° at r=19 — caught by hypothesis (children() collapsing to 2
distinct ids at res 18→19); res ≤ 19 fits bits 57..61, sign bit untouched.

Ops: encode, decode-to-center, parent, children, k-ring neighbors (with
longitude wrap-around, latitude clamp). All vectorized; the Spark variants are
pure Column arithmetic so they run JVM-side in whole-stage codegen.
"""

from __future__ import annotations

import numpy as np

BASE_DEG = 0.5
MAX_RES = 19  # x < 720·2^19 < 2^29, y < 360·2^19 < 2^28 — packing safe
Y_SHIFT = 29
RES_SHIFT = 57
X_MASK = (1 << 29) - 1
Y_MASK = (1 << 28) - 1


def res_px(res: int) -> float:
    return BASE_DEG / (1 << res)


def nx(res: int) -> int:
    return 720 << res


def ny(res: int) -> int:
    return 360 << res


def encode(lat, lon, res: int):
    """lat/lon (degrees) → cell id at resolution res. Vectorized."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    px = res_px(res)
    x = np.floor((lon + 180.0) / px).astype(np.int64)
    y = np.floor((90.0 - lat) / px).astype(np.int64)
    x = np.clip(x, 0, nx(res) - 1)
    y = np.clip(y, 0, ny(res) - 1)
    return (np.int64(res) << RES_SHIFT) | (y << Y_SHIFT) | x


def decode(cell):
    """cell id → (res, y, x). Vectorized."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> RES_SHIFT
    y = (cell >> Y_SHIFT) & Y_MASK
    x = cell & X_MASK
    return res, y, x


def center(cell):
    """cell id → (lat, lon) of the cell center. Vectorized."""
    res, y, x = decode(cell)
    px = BASE_DEG / np.power(2.0, res.astype(np.float64))
    lat = 90.0 - (y.astype(np.float64) + 0.5) * px
    lon = -180.0 + (x.astype(np.float64) + 0.5) * px
    return lat, lon


def parent(cell, parent_res: int):
    """Ancestor cell at a coarser resolution. Vectorized."""
    res, y, x = decode(cell)
    shift = res - np.int64(parent_res)
    if np.any(shift < 0):
        raise ValueError("parent_res must be coarser (smaller) than cell res")
    return (np.int64(parent_res) << RES_SHIFT) | ((y >> shift) << Y_SHIFT) | (x >> shift)


def children(cell_scalar: int):
    """The 4 children of a single cell at res+1."""
    res, y, x = decode(np.int64(cell_scalar))
    res, y, x = int(res), int(y), int(x)
    out = []
    for dy in (0, 1):
        for dx in (0, 1):
            out.append(((res + 1) << RES_SHIFT) | ((2 * y + dy) << Y_SHIFT) | (2 * x + dx))
    return np.array(out, dtype=np.int64)


def kring(cell, k: int = 1):
    """k-ring neighborhood (square ring, like H3 gridDisk): all cells within
    Chebyshev distance k. Longitude wraps; latitude clamps at the poles.

    Returns shape (n, (2k+1)^2) for n input cells (duplicates possible at the
    lat clamp; callers dedupe). Used for kNN candidate generation (SURVEY §2.9).
    """
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res, y, x = decode(cell)
    r = int(res[0])
    w, h = nx(r), ny(r)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dy, dx = np.meshgrid(offs, offs, indexing="ij")
    dy = dy.ravel()[None, :]
    dx = dx.ravel()[None, :]
    yy = np.clip(y[:, None] + dy, 0, h - 1)
    xx = (x[:, None] + dx) % w
    return (np.int64(r) << RES_SHIFT) | (yy << Y_SHIFT) | xx


# ---- Spark Column variants (JVM-side, codegen-friendly) ----

def encode_col(lat_col, lon_col, res: int):
    from pyspark.sql import functions as F

    px = res_px(res)
    x = F.floor((lon_col + F.lit(180.0)) / F.lit(px))
    y = F.floor((F.lit(90.0) - lat_col) / F.lit(px))
    x = F.greatest(F.lit(0), F.least(F.lit(nx(res) - 1), x)).cast("long")
    y = F.greatest(F.lit(0), F.least(F.lit(ny(res) - 1), y)).cast("long")
    return (F.lit(res << RES_SHIFT).cast("long")
            + F.shiftleft(y, Y_SHIFT) + x)


def parent_col(cell_col, cell_res: int, parent_res: int):
    from pyspark.sql import functions as F

    shift = cell_res - parent_res
    y = F.shiftright(cell_col, Y_SHIFT).bitwiseAND(F.lit(Y_MASK))
    x = cell_col.bitwiseAND(F.lit(X_MASK))
    return (F.lit(parent_res << RES_SHIFT).cast("long")
            + F.shiftleft(F.shiftright(y, shift), Y_SHIFT) + F.shiftright(x, shift))
