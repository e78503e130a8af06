"""Spatial joins: broadcast PIP, assignment build, kNN nearest-zone.

The reference's only join is containment via pre-rasterized per-country masks
(prepare_feature_masks.py:9-63 build; extract_country_data.py:231-245 probe).
Here it is a true broadcast point-in-polygon join (north_rule): the polygon
dim — rings + bbox-bucket index (geometry.BoundaryIndex) — is broadcast to all
executors, and an Arrow-batched mapInPandas kernel evaluates the vectorized
crossing-number test per batch. No shuffle happens in the join itself; the
downstream grouped aggregations absorb hot countries/cells in their map-side
partial aggregate.

Two probe shapes:
  * assign_points: arbitrary (lat, lon) rows → many-to-many feature matches,
    with optional kNN nearest-zone fallback for points inside no polygon
    (cell-ring candidate expansion, then exact min boundary distance), and
    an optional AEZ tile lookup fused into the same kernel. The lookup has
    one form: a broadcast shard manifest of the clustered tile sink
    (tile_shard_lookup), whose memory is bounded by a per-worker LRU at any
    grid size.
  * build_assignment: enumerate every grid cell inside each feature's bbox
    (driver emits only per-feature bbox row-range chunks, as one Arrow local
    relation; executors explode them with sequence()), PIP-filter the
    (cell, feature) pairs. This is the distributed equivalent of the
    reference's whole mask build (prepare_feature_masks.py:66-91) as one
    Spark job, and its output —
    assignment(cell_id, y, x, feature_id, country) — is the moral equivalent
    of the masks/ directory: a reusable CTAS index for all zonal pipelines.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .geometry import BoundaryIndex
from .grid import GridSpec
from .sources import local_dim


def broadcast_index(spark: SparkSession, index: BoundaryIndex):
    return spark.sparkContext.broadcast(index)


# ---------------------------------------------------------------- assignment

def build_assignment(spark: SparkSession, grid: GridSpec,
                     index: BoundaryIndex) -> DataFrame:
    """cell→country containment table over `grid` (many-to-many; overlapping
    features both keep the cell — the double-counting semantics of per-country
    masks, SURVEY §7).

    Plan shape: a local_dim of per-feature bbox row-range chunks (a
    LocalTableScan) → explode(sequence) twice (row, col) → mapInPandas PIP
    filter, with no Exchange. No driver loops over cells; scales with
    Σ bbox areas, not features × grid.
    """
    # Work distribution WITHOUT an Exchange: each feature's y-range is split
    # into bbox-area-proportional chunks (~3 chunks/core overall), so a large
    # feature spreads over several tasks. The chunk rows are one local_dim;
    # its LocalTableScan slices them contiguously over the default
    # parallelism, which starts the explode + PIP kernel stage balanced with
    # no repartition. Driver cost stays O(features × chunks), never O(cells).
    bboxes = []
    for pos, poly in enumerate(index.polygons):
        lat_min, lat_max, lon_min, lon_max = poly.bbox
        y0, x0 = grid.lonlat_to_yx(lon_min, lat_max)
        y1, x1 = grid.lonlat_to_yx(lon_max, lat_min)
        bboxes.append((pos, poly.feature_id, poly.country,
                       int(y0), int(y1), int(x0), int(x1)))
    total_area = sum((y1 - y0 + 1) * (x1 - x0 + 1)
                     for _p, _f, _c, y0, y1, x0, x1 in bboxes) or 1
    target = int(spark.conf.get("spark.sql.shuffle.partitions")) * 3
    rows = []
    for pos, fid, country, y0, y1, x0, x1 in bboxes:
        area = (y1 - y0 + 1) * (x1 - x0 + 1)
        n_chunks = max(1, min(y1 - y0 + 1,
                              round(target * area / total_area)))
        span = (y1 - y0 + 1) / n_chunks
        for k in range(n_chunks):
            ya = y0 + int(k * span)
            yb = y0 + int((k + 1) * span) - 1 if k < n_chunks - 1 else y1
            rows.append((pos, fid, country, ya, yb, x0, x1))
    cols = ["poly_pos", "feature_id", "country", "y0", "y1", "x0", "x1"]
    dim = local_dim(spark, pd.DataFrame(rows, columns=cols),
                    "poly_pos INT, feature_id INT, country STRING, "
                    "y0 INT, y1 INT, x0 INT, x1 INT")

    cand = (dim
            .withColumn("y", F.explode(F.sequence("y0", "y1")))
            .withColumn("x", F.explode(F.sequence("x0", "x1")))
            .select("poly_pos", "feature_id", "country", "y", "x")
            .withColumn("lat", F.lit(grid.lat_max)
                        - (F.col("y") + F.lit(0.5)) * F.lit(grid.px_deg))
            .withColumn("lon", F.lit(grid.lon_min)
                        + (F.col("x") + F.lit(0.5)) * F.lit(grid.px_deg)))

    bidx = broadcast_index(spark, index)
    schema = T.StructType([
        T.StructField("cell_id", T.LongType()),
        T.StructField("y", T.IntegerType()),
        T.StructField("x", T.IntegerType()),
        T.StructField("feature_id", T.IntegerType()),
        T.StructField("country", T.StringType()),
    ])
    gid = grid.grid_id

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: BoundaryIndex = bidx.value
        for pdf in batches:
            if not len(pdf):
                continue
            lon = pdf["lon"].to_numpy()
            lat = pdf["lat"].to_numpy()
            keep = np.zeros(len(pdf), dtype=bool)
            for pos in np.unique(pdf["poly_pos"].to_numpy()):
                sel = pdf["poly_pos"].to_numpy() == pos
                keep[sel] = idx.polygons[int(pos)].contains(lon[sel], lat[sel])
            out = pdf.loc[keep]
            y = out["y"].to_numpy(dtype=np.int64)
            x = out["x"].to_numpy(dtype=np.int64)
            yield pd.DataFrame({
                "cell_id": (np.int64(gid) << 56) | (y << 28) | x,
                "y": out["y"].astype("int32"),
                "x": out["x"].astype("int32"),
                "feature_id": out["feature_id"].astype("int32"),
                "country": out["country"],
            })

    return cand.mapInPandas(kernel, schema)


# ------------------------------------------------------------- point assign

POINT_ASSIGN_FIELDS = [
    T.StructField("feature_id", T.IntegerType()),
    T.StructField("country", T.StringType()),
    T.StructField("method", T.StringType()),
]

# emit='zone_counts' kernel: pending deduped (combo, doc) pairs above this
# are compacted in place (4M int64 pairs ≈ 64 MB); see zc_kernel
ZC_DEDUP_BUDGET_ROWS = 4_000_000


def _validate_projection(points: DataFrame, project: list[str] | None,
                         appended: list[str], op: str) -> list[str]:
    """Shared guard for the broadcast-kernel joins: every `project` entry must
    exist in the input schema (silent drops hide typos), and the appended
    output fields must not collide with kept input columns (the kernel would
    silently overwrite them)."""
    names = [f.name for f in points.schema.fields]
    if project is not None:
        missing = [c for c in project if c not in names]
        if missing:
            raise ValueError(f"{op}: project columns not in input schema: "
                             f"{missing} (have {names})")
    keep = names if project is None else list(project)
    clash = [c for c in keep if c in appended]
    if clash:
        raise ValueError(f"{op}: input columns {clash} collide with appended "
                         f"output fields {appended}; rename or project them away")
    return keep


def _match_arrays(idx: BoundaryIndex, lon, lat, knn_fallback: bool,
                  many_to_many: bool):
    """Shared match core of the fused kernels: (take, ppos, isknn) where
    `take` indexes the batch rows (a row appears once per containing feature,
    plus once for its kNN fallback), `ppos` is the matched polygon position,
    and `isknn` flags the fallback rows. PIP matches first, kNN after — the
    historical kernel order."""
    pt, pp = idx.pip(lon, lat, many_to_many=many_to_many)
    if not knn_fallback:
        return pt, pp, np.zeros(len(pt), dtype=bool)
    un = np.ones(len(lon), dtype=bool)
    if len(pt):
        un[np.unique(pt)] = False
    if not un.any():
        return pt, pp, np.zeros(len(pt), dtype=bool)
    un_idx = np.flatnonzero(un)
    pos, _d = idx.nearest(lon[un], lat[un])
    take = np.concatenate([pt, un_idx])
    ppos = np.concatenate([pp, np.asarray(pos, dtype=np.int64)])
    isknn = np.zeros(len(take), dtype=bool)
    isknn[len(pt):] = True
    return take, ppos, isknn


class TileShardLookup:
    """Shard MANIFEST of a clustered tile sink (io.write_tiles layout: one
    cell-sorted parquet file per tile_id partition): the fused kernel's
    raster→vector lookup, and its only one.

    The broadcast carries just {tile_id → shard paths} (a few MB at 90k
    tiles), never tile cells: at the reference's full 300 m grid
    (129600×64800 ≈ 2.4 B land cells, data/copernicus/README.txt:3) a
    driver-collected cell dim would be tens of GB. Each kernel batch computes
    its points' tile_ids arithmetically and loads JUST those shards via
    pyarrow, through a worker-process-persistent LRU (`max_cached_shards`,
    default 64 × ~1 MB/shard) — per-worker memory is bounded by the LRU, not
    the grid, while per-executor I/O stays ≤ one read of the tile table
    (minus the shards nobody's points touch). A small world is just an LRU
    large enough to hold every shard. Geo-clustered inputs drop shard
    touches to near-minimal. A randomly ordered batch that touches more
    shards than the LRU holds probes its cached shards first (_tile_codes),
    so it reads only the shards it needs that are not cached — never every
    shard, never more memory than the LRU (GeoBlocks' block-granular cell
    cache shape).

    Lookup inside a shard is a searchsorted over sorted cell ids —
    write_tiles sorts cells within each tile file exactly so this (and
    parquet row-group pruning) works. Blank (255) cells resolve either by
    shard hit (the sink stores them) or by missing-tile fallback, so a
    land-only sink gives identical answers."""

    def __init__(self, shard_paths: dict[int, tuple[str, ...]], tile_px: int,
                 n_tiles_x: int, max_cached_shards: int = 64):
        self.shard_paths = shard_paths
        self.tile_px = tile_px
        self.n_tiles_x = n_tiles_x
        self.max_cached_shards = max_cached_shards


# worker-process-persistent shard cache: Spark reuses Python workers across
# tasks, so each worker re-reads a shard only after LRU eviction
_SHARD_CACHE: "dict[str, tuple[np.ndarray, np.ndarray]]" = {}


def _load_shard(path: str, max_cached: int):
    ent = _SHARD_CACHE.pop(path, None)
    if ent is None:
        import pyarrow.parquet as pq

        # one known file: ParquetFile skips read_table's dataset discovery
        with pq.ParquetFile(path) as f:
            t = f.read(columns=["cell_id", "aez_code"])
        cells = t.column("cell_id").to_numpy().astype(np.int64)
        codes = t.column("aez_code").to_numpy().astype(np.int32)
        if len(cells) > 1 and not bool(np.all(cells[:-1] <= cells[1:])):
            order = np.argsort(cells)  # unclustered shard: sort once, cached
            cells, codes = cells[order], codes[order]
        ent = (cells, codes)
    _SHARD_CACHE[path] = ent  # re-insert = move to MRU end (dicts are ordered)
    while len(_SHARD_CACHE) > max_cached:
        _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)))
    return ent


def _tile_codes(tsl: TileShardLookup, fine: GridSpec, lon, lat) -> np.ndarray:
    """Fused raster→vector lookup: AEZ code of each point's fine-grid pixel
    through the shard manifest; blank/miss = 255 (C_TMR_BLNK,
    process_imagery.py:41).

    Points are grouped by tile once (a stable argsort, then contiguous
    slices). Tiles whose shards are all cached are probed first, then the
    rest in ascending tile id: the hit phase loads nothing, so no cached
    shard is evicted before this batch uses it. A fixed ascending order
    would flood the LRU whenever a batch touches more shards than it holds,
    missing on every access. With write_tiles' one shard per tile, a batch
    that needs K shards reads exactly K − |cached ∩ needed| of them. A
    tile's own paths keep their order, so a later shard still overrides an
    earlier one."""
    fy, fx = fine.lonlat_to_yx(lon, lat)
    fcell = fine.cell_id(fy, fx)
    tid = (fy // tsl.tile_px) * tsl.n_tiles_x + (fx // tsl.tile_px)
    out = np.full(len(fcell), 255, dtype=np.int32)
    order = np.argsort(tid, kind="stable")
    tids, starts = np.unique(tid[order], return_index=True)
    groups = zip(map(tsl.shard_paths.get, tids.tolist()),
                 np.split(order, starts[1:]))
    # tiles absent from the sink stay all-blank (255)
    todo = [(paths, m) for paths, m in groups if paths]
    todo.sort(key=lambda pm: not all(p in _SHARD_CACHE for p in pm[0]))
    for paths, m in todo:
        fc = fcell[m]
        sub = out[m]
        for path in paths:
            cells_sorted, codes = _load_shard(path, tsl.max_cached_shards)
            if not len(cells_sorted):
                continue
            pos = np.searchsorted(cells_sorted, fc)
            pos_c = np.minimum(pos, len(cells_sorted) - 1)
            hit = cells_sorted[pos_c] == fc
            sub = np.where(hit, codes[pos_c], sub)
        out[m] = sub
    return out


def tile_shard_lookup(spark: SparkSession, tiles_path: str, fine: GridSpec,
                      tile_px: int = 256, max_cached_shards: int = 64,
                      tables_root: str | None = None):
    """Build + broadcast a TileShardLookup over a write_tiles sink.

    With `tables_root`, the shard list is planned from a snapshot-table
    manifest (tables.ensure_imported_table — zero-copy add_files import,
    staleness-keyed by source fingerprint) instead of a directory walk: at
    object-store scale, listing 90k partition dirs is O(files) LISTs and
    races with writers; the manifest is one GET. Falls back to the walk for
    plain directories (tests, local runs).

    Validates the tile geometry against one real shard: a wrong tile_px or
    grid would mis-route every lookup to the wrong shard (silent all-255),
    so the constructor recomputes a sample file's tile_id from its min cell
    and refuses on mismatch."""
    if tables_root is not None:
        from .tables import ensure_imported_table

        files = ensure_imported_table(spark, tiles_path, tables_root
                                      ).snapshot()["files"]
    else:
        files = []
        for dirpath, _dirs, fnames in os.walk(tiles_path):
            for f in sorted(fnames):
                if f.endswith(".parquet"):
                    files.append(os.path.join(dirpath, f))
    shard_paths: dict[int, tuple[str, ...]] = {}
    for path in sorted(files):
        tid = _tile_id_of_path(path)
        shard_paths[tid] = shard_paths.get(tid, ()) + (path,)
    if not shard_paths:
        raise FileNotFoundError(f"no tile_id=N parquet shards under {tiles_path}")
    n_tiles_x = (fine.nx + tile_px - 1) // tile_px
    _validate_shard_geometry(shard_paths, fine, tile_px, n_tiles_x)
    return spark.sparkContext.broadcast(
        TileShardLookup(shard_paths, tile_px, n_tiles_x, max_cached_shards))


def _tile_id_of_path(path: str) -> int:
    for part in path.split(os.sep):
        if part.startswith("tile_id="):
            return int(part.split("=", 1)[1])
    raise ValueError(f"not a write_tiles layout (no tile_id= dir): {path}")


def _validate_shard_geometry(shard_paths: dict, fine: GridSpec,
                             tile_px: int, n_tiles_x: int) -> None:
    import pyarrow.parquet as pq

    # probe the HIGHEST tile id: tile 0's min cell maps to tile 0 under any
    # tile_px, so only a nonzero tile falsifies a wrong geometry
    tid, paths = max(shard_paths.items())
    meta = pq.read_metadata(paths[0])
    ci = [c for c in range(meta.num_columns)
          if meta.schema.column(c).name == "cell_id"]
    if not ci:
        raise ValueError(f"{paths[0]}: no cell_id column")
    first_cell = min(meta.row_group(g).column(ci[0]).statistics.min
                     for g in range(meta.num_row_groups))
    y, x = fine.yx(np.asarray([first_cell]))
    got = int((y[0] // tile_px) * n_tiles_x + (x[0] // tile_px))
    if got != tid:
        raise ValueError(
            f"tile geometry mismatch: shard dir says tile_id={tid} but its "
            f"min cell maps to tile {got} under tile_px={tile_px}, "
            f"nx={fine.nx} — wrong tile_px or grid for this sink")


def _check_tile_lookup(tile_lookup, fine: GridSpec | None) -> None:
    """A wrong tile_lookup (e.g. a broadcast of bare arrays) would otherwise
    fail only inside a Python worker, as an AttributeError."""
    if not isinstance(tile_lookup, Broadcast):
        got = type(tile_lookup).__name__
    elif not isinstance(tile_lookup.value, TileShardLookup):
        got = f"a Broadcast of {type(tile_lookup.value).__name__}"
    else:
        got = None
    if got is not None:
        raise ValueError(
            f"assign_points: tile_lookup must be a Broadcast of "
            f"TileShardLookup (World.tile_lookup() or joins.tile_shard_lookup), "
            f"got {got}")
    if fine is None:
        raise ValueError("assign_points: tile_lookup requires the fine grid")


def assign_points(points: DataFrame, index, lat_col: str = "lat",
                  lon_col: str = "lon", knn_fallback: bool = True,
                  many_to_many: bool = True, tile_lookup=None,
                  fine: GridSpec | None = None,
                  project: list[str] | None = None,
                  emit: str = "rows", doc_col: str = "doc_id") -> DataFrame:
    """Broadcast PIP join of arbitrary points; optional kNN nearest-zone
    fallback for points inside no polygon (SURVEY §2.9 #4).

    `index` is a BoundaryIndex or an existing Broadcast of one. Output keeps
    every input column and appends (feature_id, country, method) where method
    ∈ {'pip','knn'}; many-to-many preserves overlapping claims.

    tile_lookup (+ fine): optional Broadcast of a TileShardLookup
    (World.tile_lookup() or tile_shard_lookup) — the AEZ raster→vector
    lookup fused into this same kernel, adding an aez_code column with zero
    extra stages. Anything else is refused here, at plan-build time, not
    inside a Python worker. Leave None and equi-join the tiles table
    (documents.with_aez) for the composed form.

    project: input columns to keep in the output (default: all). Projecting
    INSIDE the kernel matters at scale — dropped columns never cross the
    Arrow boundary back to the JVM nor enter the downstream shuffle.

    emit='zone_counts' fuses a partition-local distinct-doc zonal count
    INTO this kernel: match rows never cross the Arrow boundary at all —
    each partition emits only its (country, aez_code, n_docs) partials;
    finish with groupBy(country, aez_code).sum. Requires tile_lookup and a
    `doc_col` input column (default doc_id; pass an int64 surrogate — e.g.
    xxhash64(doc_id) — to keep the Arrow payload and the dedup integer-only:
    distinctness is all the count needs, and the kernel then hash-dedups
    int64 pairs instead of object rows). Precondition: every row of one doc
    lives in ONE input partition, else the doc is counted once per partition
    (tests/test_doc_zone_counts.py pins the scrambled-input counterexample).
    Points derived from a documents scan by narrow ops
    (documents.geo_key_points) meet it by construction. Aggregation pushed
    into the join — the 10¹²-doc shape where the join output (≈ input rows ×
    match multiplicity) is the dominant data volume."""
    if emit not in ("rows", "zone_counts"):
        raise ValueError(f"assign_points: unknown emit mode {emit!r}")
    if emit == "zone_counts":
        if tile_lookup is None:
            raise ValueError("assign_points(emit='zone_counts') requires tile_lookup")
        if doc_col not in [f.name for f in points.schema.fields]:
            raise ValueError(f"assign_points(emit='zone_counts') requires a "
                             f"{doc_col!r} column")
    spark = points.sparkSession
    bidx = index if hasattr(index, "value") else broadcast_index(spark, index)

    extra = list(POINT_ASSIGN_FIELDS)
    if tile_lookup is not None:
        _check_tile_lookup(tile_lookup, fine)
        extra = extra + [T.StructField("aez_code", T.IntegerType())]
    keep = _validate_projection(points, project, [f.name for f in extra],
                                "assign_points")
    schema = T.StructType([f for f in points.schema.fields if f.name in keep]
                          + extra)
    out_cols = [f.name for f in schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: BoundaryIndex = bidx.value
        fids = idx.feature_ids().astype(np.int32)
        countries = idx.countries()
        tl = tile_lookup.value if tile_lookup is not None else None
        for pdf in batches:
            if not len(pdf):
                continue
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            take, ppos, isknn = _match_arrays(idx, lon, lat, knn_fallback,
                                              many_to_many)
            out = pdf.iloc[take].reset_index(drop=True)
            out["feature_id"] = fids[ppos]
            out["country"] = countries[ppos]
            out["method"] = np.where(isknn, "knn", "pip")
            if tl is not None:
                out["aez_code"] = _tile_codes(tl, fine, lon[take], lat[take])
            yield out[out_cols]

    if emit == "rows":
        return points.mapInPandas(kernel, schema)

    if doc_col not in keep:
        raise ValueError(f"assign_points(emit='zone_counts'): {doc_col!r} "
                         f"must survive the projection")
    zc_schema = T.StructType([
        T.StructField("country", T.StringType()),
        T.StructField("aez_code", T.IntegerType()),
        T.StructField("n_docs", T.LongType())])

    # read at plan-build time and captured in the closure, so a driver-side
    # change to ZC_DEDUP_BUDGET_ROWS reaches the workers
    zc_budget = ZC_DEDUP_BUDGET_ROWS

    def zc_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Integer dedup path: country → small int code (position in the
        # sorted unique-country array, shared by construction across every
        # batch of every partition), packed with the aez code into ONE int64
        # (combo = ccode·512 + aez). Distinct (combo, doc_key) pairs per
        # partition via pandas hash-dedup over two int64 columns (measured
        # 7.8x faster than np.unique(axis=0) and ~an order of magnitude
        # faster than object-row dedup). String doc keys run the same path
        # with slower object hashing (the production path feeds an int64
        # surrogate key).
        #
        # MEMORY BOUND: the irreducible per-partition working set is this
        # partition's TRUE distinct (combo, key) set — ≤ the partition's
        # match-row count ≤ (split rows × match multiplicity), i.e. tens of
        # MB as int64 pairs at the 64 MB local / core-aware split sizing
        # (session.py). Transient growth ABOVE that (per-batch-deduped
        # frames accumulating cross-batch duplicates) is capped by
        # incremental compaction at ZC_DEDUP_BUDGET_ROWS (4M pairs ≈
        # 64 MB): when the pending frames exceed the budget they
        # are concat+dedup-compacted in place; if the compacted distinct set
        # itself exceeds the budget, the budget doubles (amortized O(n)
        # compaction work) — the kernel then degrades gracefully toward the
        # irreducible bound instead of holding every duplicate until EOF.
        idx: BoundaryIndex = bidx.value
        countries = idx.countries()
        # null-country polygons: astype(str) would mint the literal 'None';
        # encode nulls as a sentinel code and decode back to true null on
        # emit so the fused path agrees with the rows/composed path
        null_sentinel = "\x00<null-country>"
        cstr = np.array([null_sentinel if pd.isna(c) else str(c)
                         for c in countries], dtype=object)
        c_uniq, poly_ccode = np.unique(cstr, return_inverse=True)
        tl = tile_lookup.value
        budget = zc_budget
        parts: list[pd.DataFrame] = []
        pending_rows = 0
        for pdf in batches:
            if not len(pdf):
                continue
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            take, ppos, _ = _match_arrays(idx, lon, lat, knn_fallback,
                                          many_to_many)
            if not len(take):
                continue
            aez = _tile_codes(tl, fine, lon[take], lat[take]).astype(np.int64)
            if aez.size and (aez.min() < 0 or aez.max() >= 512):
                raise ValueError("assign_points(emit='zone_counts'): aez code "
                                 "outside [0, 512) breaks the packed dedup key")
            combo = poly_ccode[ppos].astype(np.int64) * 512 + aez
            keys = pdf[doc_col].to_numpy()[take]
            if np.issubdtype(keys.dtype, np.integer):
                keys = keys.astype(np.int64)
            # hash-based dedup (int64 columns): measured 7.8x faster than
            # np.unique(axis=0) (void-dtype sort) at 2M pairs; object doc
            # keys take the same path, just with slower object hashing
            bdf = pd.DataFrame({"combo": combo, "k": keys}).drop_duplicates()
            parts.append(bdf)
            pending_rows += len(bdf)
            if pending_rows > budget:
                parts = [pd.concat(parts, ignore_index=True)
                         .drop_duplicates()]
                pending_rows = len(parts[0])
                if pending_rows > budget:
                    budget = pending_rows * 2
        if not parts:
            return
        allp = pd.concat(parts, ignore_index=True).drop_duplicates()
        agg = allp.groupby("combo", sort=False).size()
        combos = agg.index.to_numpy(dtype=np.int64)
        counts = agg.to_numpy()
        country_out = c_uniq[combos // 512].astype(object)
        country_out[country_out == null_sentinel] = None
        yield pd.DataFrame({"country": country_out,
                            "aez_code": (combos % 512).astype("int32"),
                            "n_docs": counts.astype("int64")})

    return points.mapInPandas(zc_kernel, zc_schema)


def within_distance_join(points: DataFrame, index, d_deg: float,
                         lat_col: str = "lat", lon_col: str = "lon",
                         project: list[str] | None = None) -> DataFrame:
    """Spatial RANGE join: every (point, feature) pair where the point lies
    inside the feature or within d_deg (scaled degrees) of its boundary —
    the buffer/within-distance query (no reference counterpart; engine
    range-join primitive). Many-to-many; appends (feature_id, country,
    dist_deg, dist_km) with dist 0 for contained points — dist_km is the
    user-facing unit (dist_deg × geometry.KM_PER_DEG, the haversine-derived
    arc factor, computed from the 6dp-rounded deg so both engines derive it
    from the identical value). Same broadcast-kernel shape as assign_points:
    zero shuffle in the join, bbox lower-bound pruning inside the Arrow
    kernel."""
    from .geometry import KM_PER_DEG

    spark = points.sparkSession
    bidx = index if hasattr(index, "value") else broadcast_index(spark, index)
    keep = _validate_projection(points, project,
                                ["feature_id", "country", "dist_deg",
                                 "dist_km"],
                                "within_distance_join")
    schema = T.StructType(
        [f for f in points.schema.fields if f.name in keep]
        + [T.StructField("feature_id", T.IntegerType()),
           T.StructField("country", T.StringType()),
           T.StructField("dist_deg", T.DoubleType()),
           T.StructField("dist_km", T.DoubleType())])
    out_cols = [f.name for f in schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: BoundaryIndex = bidx.value
        fids = idx.feature_ids().astype(np.int32)
        countries = idx.countries()
        for pdf in batches:
            if not len(pdf):
                continue
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            pt, pp, dist = idx.within(lon, lat, d_deg)
            out = pdf.iloc[pt].reset_index(drop=True)
            out["feature_id"] = fids[pp]
            out["country"] = countries[pp]
            dd = np.round(dist, 6)
            out["dist_deg"] = dd
            out["dist_km"] = np.round(dd * KM_PER_DEG, 6)
            yield out[out_cols]

    return points.mapInPandas(kernel, schema)


def knn_topk_join(points: DataFrame, index, k: int,
                  lat_col: str = "lat", lon_col: str = "lon",
                  unmatched_only: bool = True,
                  project: list[str] | None = None,
                  stats_acc=None) -> DataFrame:
    """kNN spatial join with k > 1 (SURVEY §2.5 rank-by-distance): for each
    point, the k nearest features by boundary distance, as (feature_id,
    country, dist_deg, rank) rows with rank 1..k ordered by (dist asc,
    feature position asc) — dense-scan-identical including tie-breaks.

    unmatched_only=True restricts to points contained in NO polygon (the
    nearest-zone fallback population, same rule as assign_points' kNN path);
    False ranks every point. Appends (feature_id, country, dist_deg,
    dist_km, rank) — dist_km = dist_deg × geometry.KM_PER_DEG from the
    6dp-rounded deg, the user-facing unit. Same broadcast-kernel shape as
    assign_points: zero shuffle, candidate generation via the bbox
    branch-and-bound with a k-element bound
    (geometry.BoundaryIndex.nearest_k). stats_acc: optional dict collected
    per-batch for candidate-reduction assertions (test use —
    single-partition inputs only)."""
    from .geometry import KM_PER_DEG

    spark = points.sparkSession
    bidx = index if hasattr(index, "value") else broadcast_index(spark, index)
    keep = _validate_projection(points, project,
                                ["feature_id", "country", "dist_deg",
                                 "dist_km", "rank"],
                                "knn_topk_join")
    schema = T.StructType(
        [f for f in points.schema.fields if f.name in keep]
        + [T.StructField("feature_id", T.IntegerType()),
           T.StructField("country", T.StringType()),
           T.StructField("dist_deg", T.DoubleType()),
           T.StructField("dist_km", T.DoubleType()),
           T.StructField("rank", T.IntegerType())])
    out_cols = [f.name for f in schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: BoundaryIndex = bidx.value
        fids = idx.feature_ids().astype(np.int32)
        countries = idx.countries()
        for pdf in batches:
            if not len(pdf):
                continue
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            if unmatched_only:
                pt, _pp = idx.pip(lon, lat, many_to_many=False)
                sel = np.ones(len(pdf), dtype=bool)
                sel[pt] = False
                pdf = pdf.loc[sel].reset_index(drop=True)
                lon, lat = lon[sel], lat[sel]
            if not len(pdf):
                continue
            stats = {} if stats_acc is not None else None
            pos, dist = idx.nearest_k(lon, lat, k, stats=stats)
            if stats_acc is not None:
                for key, v in stats.items():
                    stats_acc[key] = stats_acc.get(key, 0) + v
            k_eff = pos.shape[1]
            rep = np.repeat(np.arange(len(pdf)), k_eff)
            out = pdf.iloc[rep].reset_index(drop=True)
            out["feature_id"] = fids[pos.ravel()]
            out["country"] = countries[pos.ravel()]
            dd = np.round(dist.ravel(), 6)
            out["dist_deg"] = dd
            out["dist_km"] = np.round(dd * KM_PER_DEG, 6)
            out["rank"] = np.tile(np.arange(1, k_eff + 1, dtype=np.int32),
                                  len(pdf))
            yield out[out_cols]

    return points.mapInPandas(kernel, schema)
