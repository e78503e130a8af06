"""Pipeline wiring: fixture dir → DataFrame results for every reference query.

One `World` per (spark, fx_dir): loads the cell tables, builds the broadcast
boundary index and the cell→country assignment tables (the engine's analog of
the reference's masks/ directory — computed once, reused by every zonal
pipeline, like prepare_feature_masks.py's offline build feeding every
process_map run) — and, on first use, the tile sink's shard manifest
that the fused flagship kernel looks AEZ codes up in.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import sources, zonal, tiles as tilesmod, regions as regionsmod
from .fixtures import generate as genmod
from .io import write_tiles
from .joins import build_assignment, broadcast_index, tile_shard_lookup
from .geometry import BoundaryIndex


class World:
    def __init__(self, spark: SparkSession, fx_dir: str | None = None,
                 cache_assignment: bool = True):
        self.spark = spark
        self.fx_dir = fx_dir or genmod.ensure_fixtures()
        self.coarse, self.fine = genmod.load_grids(self.fx_dir)
        # boundaries DF: lazily constructed (it backs the regions dim); the
        # broadcast index itself is built from a driver-side pyarrow read —
        # same rows, no Spark actions in World construction (which sits
        # inside the flagship's timed first run)
        self._boundaries: DataFrame | None = None
        self.index = sources.boundary_index_from_path(self.fx_dir)
        self.bidx = broadcast_index(spark, self.index)
        self._regions_dim: DataFrame | None = None
        self._asg: DataFrame | None = None
        self._asg_fine: DataFrame | None = None
        self._tile_lookup = None
        self._docs_cache: dict = {}
        self._cache = cache_assignment

    def cells(self, name: str) -> DataFrame:
        return sources.read_cells(self.spark, self.fx_dir, name)

    @property
    def boundaries(self) -> DataFrame:
        if self._boundaries is None:
            self._boundaries = sources.read_boundaries(self.spark, self.fx_dir)
        return self._boundaries

    @property
    def countries_list(self) -> list[str]:
        """Driver-side distinct-country list from the boundary index — the
        same post-normalization set as sources.countries_dim, with no
        boundaries scan. zonal.seed_zeros builds its seeding grid from it."""
        return sorted({p.country for p in self.index.polygons})

    @property
    def regions_dim(self) -> DataFrame:
        if self._regions_dim is None:
            self._regions_dim = sources.regions_dim(self.spark, self.boundaries)
        return self._regions_dim

    @property
    def asg(self) -> DataFrame:
        """Coarse cell→country assignment (1km-mask analog)."""
        if self._asg is None:
            self._asg = build_assignment(self.spark, self.coarse, self.index)
            if self._cache:
                self._asg = self._asg.cache()
        return self._asg

    @property
    def asg_fine(self) -> DataFrame:
        """Fine cell→country assignment (333m-mask analog, used by the LC
        zonal which runs at 300m — extract_country_data.py:98)."""
        if self._asg_fine is None:
            self._asg_fine = build_assignment(self.spark, self.fine, self.index)
            if self._cache:
                self._asg_fine = self._asg_fine.cache()
        return self._asg_fine

    # ---- reference queries ----

    def zonal(self, dataset: str) -> DataFrame:
        """Long-format zonal histogram for one dataset (process_map analogs)."""
        if dataset == "kg":
            return zonal.zonal_kg(self.asg, self.cells("cells_kg"),
                                  self.coarse, self.countries_list)
        if dataset == "lc":
            return zonal.zonal_lc(self.asg_fine, self.cells("cells_lc"),
                                  self.fine, self.countries_list)
        if dataset == "sl":
            return zonal.zonal_slope(self.asg, self.cells("cells_slope"),
                                     self.coarse, self.countries_list)
        if dataset == "slfao":
            return zonal.zonal_slope_fao(
                self.asg, sources.read_slope_fao(self.spark, self.fx_dir),
                self.coarse, self.countries_list)
        if dataset == "wk":
            return zonal.zonal_wk(self.asg, self.cells("cells_wk"),
                                  self.coarse, self.countries_list)
        if dataset == "dg":
            return zonal.zonal_dg(self.asg, self.cells("cells_lpd"),
                                  self.coarse, self.countries_list)
        raise KeyError(dataset)

    def zonal_classes(self, dataset: str) -> list[str]:
        from . import decoders as D
        return {
            "kg": D.KG_CLASSES,
            "lc": [str(c) for c in D.LCCS37],
            "sl": D.GAEZ_SLOPES,
            "slfao": D.FAO_SLOPES,
            "wk": [str(i) for i in range(1, 8)],
            "dg": ["degraded", "nondegraded"],
        }[dataset]

    def aez(self) -> DataFrame:
        return zonal.aez_long(self.asg, self.cells("cells_kg"),
                              self.cells("cells_slope"), self.cells("cells_wk"),
                              self.cells("cells_lc"), self.coarse, self.fine,
                              self.countries_list)

    def degraded56(self) -> DataFrame:
        return zonal.degraded56_long(self.asg, self.cells("cells_lc"),
                                     self.cells("cells_lpd"), self.cells("cells_wk"),
                                     self.coarse, self.fine, self.countries_list)

    def region_rollup(self, long_df: DataFrame, classes: list[str]) -> DataFrame:
        return regionsmod.rollup(long_df, self.regions_dim, classes)

    def tiles(self) -> DataFrame:
        return tilesmod.tile_codes(
            self.spark, self.cells("cells_kg"), self.cells("cells_slope"),
            self.cells("cells_wk"), self.cells("cells_lc"),
            self.coarse, self.fine)

    def tile_lookup(self):
        """Broadcast shard manifest (joins.tile_shard_lookup) over this
        world's tile table: the fused kernel's raster→vector lookup.

        Built on first call: self.tiles() is written through io.write_tiles
        into a fresh temporary directory, removed at interpreter exit. A sink
        left by an earlier run is never reused — fixture regeneration does
        not clear extra directories, so it could be stale."""
        if self._tile_lookup is None:
            root = tempfile.mkdtemp(prefix="aezspark-tiles-")
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            sink = write_tiles(self.tiles(), os.path.join(root, "tiles"))
            self._tile_lookup = tile_shard_lookup(self.spark, sink, self.fine)
        return self._tile_lookup

    def documents(self) -> DataFrame:
        """The interleaved documents corpus, read through the snapshot-table
        layer by default (north rule: "over Iceberg tables"): the fixture
        parquet is zero-copy imported (Iceberg add_files-style — manifest
        registration, no rewrite) into build/tables/ keyed by the source's
        content fingerprint, and the scan is planned from the manifest's
        file list instead of a directory listing. Same physical files, same
        plan shape → zero read overhead (bench prev-commit control ≈ 1.0).
        AEZSPARK_RAW_PARQUET=1 opts out (A/B + oracle independence)."""
        from .tables import imported_read

        src = os.path.join(self.fx_dir, "documents.parquet")
        raw = os.environ.get("AEZSPARK_RAW_PARQUET") == "1"
        if raw not in self._docs_cache:
            self._docs_cache[raw] = imported_read(self.spark, src)
        return self._docs_cache[raw]

    def expected(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.fx_dir, f"expected_{name}.parquet"))
