"""Raster grid model: grid specs, cell_id codec, per-row km² pixel area.

The reference's "fact table" is a GDAL raster: a dense 2-D array of pixels on a
global WGS84 lat/lon grid (extract_country_data.py:55-57). We model it as a
long/narrow table of cells `(cell_id, y, x, value...)` in partitioned parquet;
`cell_id` packs (grid_id, y, x) into one long:

    cell_id = (grid_id << 56) | (y << 28) | x        (y, x < 2^28)

Pixel area in km² is a function of the row index `y` alone (latitude), so it is
a pure Column expression — the exact WGS84 formula of geoutil.py:10-25 — and
never needs a UDF or a join.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

Y_SHIFT = 28
GRID_SHIFT = 56
XY_MASK = (1 << 28) - 1

# WGS84 constants used by the reference (geoutil.py:18-22)
_A_KM = 6378.137
_E2 = 0.00669437999014


@dataclass(frozen=True)
class GridSpec:
    """A global north-up WGS84 lat/lon raster grid.

    grid_id: small int packed into the top byte of cell_id. Convention:
      grid_id g covers lon [-180, 180), lat [90, -90), pixel size px_deg,
      x east from lon_min, y south from lat_max (row-major, north-up) —
      same orientation as the reference's GeoTIFFs (geoutil.py:12-15).
    """

    grid_id: int
    px_deg: float
    lon_min: float = -180.0
    lat_max: float = 90.0
    lon_span: float = 360.0
    lat_span: float = 180.0

    @property
    def nx(self) -> int:
        return int(round(self.lon_span / self.px_deg))

    @property
    def ny(self) -> int:
        return int(round(self.lat_span / self.px_deg))

    def refine(self, factor: int, grid_id: int) -> "GridSpec":
        """The k× finer grid (reference's 1km↔300m coupling is factor=3,
        process_imagery.py:255-267)."""
        return GridSpec(grid_id=grid_id, px_deg=self.px_deg / factor,
                        lon_min=self.lon_min, lat_max=self.lat_max,
                        lon_span=self.lon_span, lat_span=self.lat_span)

    # ---- numpy codec (used by fixtures + oracle + pandas UDFs) ----

    def cell_id(self, y, x):
        y = np.asarray(y, dtype=np.int64)
        x = np.asarray(x, dtype=np.int64)
        return (np.int64(self.grid_id) << GRID_SHIFT) | (y << Y_SHIFT) | x

    def yx(self, cell_id):
        cell_id = np.asarray(cell_id, dtype=np.int64)
        return (cell_id >> Y_SHIFT) & XY_MASK, cell_id & XY_MASK

    def lonlat_to_yx(self, lon, lat):
        """Containing pixel of a lon/lat point; clamped to grid bounds."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        x = np.floor((lon - self.lon_min) / self.px_deg).astype(np.int64)
        y = np.floor((self.lat_max - lat) / self.px_deg).astype(np.int64)
        x = np.clip(x, 0, self.nx - 1)
        y = np.clip(y, 0, self.ny - 1)
        return y, x

    def center_lon(self, x):
        return self.lon_min + (np.asarray(x, dtype=np.float64) + 0.5) * self.px_deg

    def center_lat(self, y):
        return self.lat_max - (np.asarray(y, dtype=np.float64) + 0.5) * self.px_deg

    # ---- km² pixel area (exact reference formula, geoutil.py:10-25) ----

    def km2_row(self, y):
        """Pixel area (km²) for row(s) y — numpy version.

        Mirrors geoutil.km2_block: the latitude used is the pixel-center
        latitude of the row (lat_max + y*(-px) - px/2).
        """
        y = np.asarray(y, dtype=np.float64)
        lat = np.radians(self.lat_max - y * self.px_deg - self.px_deg / 2.0)
        xlen = self.px_deg * (np.cos(lat) * math.pi * _A_KM /
                              (180.0 * np.sqrt(1.0 - _E2 * np.sin(lat) ** 2)))
        ylen = self.px_deg * (111.132954 - 0.559822 * np.cos(2 * lat)
                              + 0.001175 * np.cos(4 * lat))
        return xlen * ylen


def km2_col(grid: GridSpec, y_col):
    """Spark Column: pixel area in km² given the row index column.

    Same formula as GridSpec.km2_row / geoutil.py:10-25, expressed with
    built-in pyspark.sql.functions so it stays inside whole-stage codegen.
    """
    from pyspark.sql import functions as F

    lat = F.radians(F.lit(grid.lat_max) - y_col.cast("double") * F.lit(grid.px_deg)
                    - F.lit(grid.px_deg / 2.0))
    xlen = F.lit(grid.px_deg) * (F.cos(lat) * F.lit(math.pi * _A_KM / 180.0)
                                 / F.sqrt(F.lit(1.0) - F.lit(_E2) * F.pow(F.sin(lat), F.lit(2.0))))
    ylen = F.lit(grid.px_deg) * (F.lit(111.132954)
                                 - F.lit(0.559822) * F.cos(F.lit(2.0) * lat)
                                 + F.lit(0.001175) * F.cos(F.lit(4.0) * lat))
    return xlen * ylen


def cell_id_col(grid_id: int, y_col, x_col):
    """Spark Column: pack (grid_id, y, x) into cell_id."""
    from pyspark.sql import functions as F

    return (F.lit(int(grid_id) << GRID_SHIFT).cast("long")
            + F.shiftleft(y_col.cast("long"), Y_SHIFT) + x_col.cast("long"))


def lonlat_to_cell_col(grid: GridSpec, lat_col, lon_col):
    """Spark Column: containing pixel cell_id for lon/lat point columns
    (clamped to grid bounds) — mirrors GridSpec.lonlat_to_yx."""
    from pyspark.sql import functions as F

    x = F.floor((lon_col - F.lit(grid.lon_min)) / F.lit(grid.px_deg))
    y = F.floor((F.lit(grid.lat_max) - lat_col) / F.lit(grid.px_deg))
    x = F.greatest(F.lit(0), F.least(F.lit(grid.nx - 1), x))
    y = F.greatest(F.lit(0), F.least(F.lit(grid.ny - 1), y))
    return cell_id_col(grid.grid_id, y, x)


# Canonical grids for the fixture world. The coarse grid mimics the reference's
# 0.5° test raster (Beck_KG_V1_present_0p5.tif, 720×360 px — test_geoutil.py:14
# uses the 1km 43200×21600 grid; tests there scale the same formula). We default
# to a smaller 2.5° coarse grid for speed; generators accept any GridSpec.
COARSE = GridSpec(grid_id=1, px_deg=2.5)          # 144 × 72
FINE = COARSE.refine(3, grid_id=2)                # 432 × 216 (×3 coupling)
