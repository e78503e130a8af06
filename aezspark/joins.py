"""Spatial joins: broadcast PIP, assignment build, kNN nearest-zone.

The reference's only join is containment via pre-rasterized per-country masks
(prepare_feature_masks.py:9-63 build; extract_country_data.py:231-245 probe).
Here it is a true broadcast point-in-polygon join (north_rule): the polygon
dim — rings + bbox-bucket index (geometry.BoundaryIndex) — is broadcast to all
executors, and an Arrow-batched kernel (mapInPandas over points, mapInArrow
over documents) evaluates the vectorized crossing-number test per batch. No
shuffle happens in the join itself; the downstream grouped aggregations
absorb hot countries/cells in their map-side partial aggregate.

Three join shapes:
  * the probe joins: arbitrary (lat, lon) rows → feature matches, all through
    one Arrow kernel (_probe_join) that differs only in its per-batch match
    function. assign_points matches many-to-many by PIP, with optional kNN
    nearest-zone fallback for points inside no polygon, and an optional AEZ
    tile lookup fused into the same kernel. The lookup has one form: a
    broadcast shard manifest of the clustered tile sink
    (tile_shard_lookup), whose memory is bounded by a per-worker LRU at any
    grid size. within_distance_join (range) and knn_topk_join (top-k by
    boundary distance) are the other two match functions.
  * the flagship's distinct-doc zone count (doc_zone_partials): one
    mapInArrow kernel over document rows that explodes and parses the geo
    spans in pyarrow.compute, then runs the same match core (_match_arrays)
    and tile lookup, dedups docs and emits only per-partition partials.
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
import sys
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .geometry import KM_PER_DEG, BoundaryIndex
from .grid import GridSpec
from .sources import local_dim


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

    bidx = spark.sparkContext.broadcast(index)
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

# the fields every probe join appends first: the matched polygon's id and
# country; then its own (DIST_FIELDS for the distance joins)
MATCH_FIELDS = [T.StructField("feature_id", T.IntegerType()),
                T.StructField("country", T.StringType())]
DIST_FIELDS = [T.StructField("dist_deg", T.DoubleType()),
               T.StructField("dist_km", T.DoubleType())]

# zone-count kernel: pending deduped (combo, doc) pairs above this are
# compacted in place (4M int64 pairs ≈ 64 MB); see doc_zone_partials
ZC_DEDUP_BUDGET_ROWS = 4_000_000

# what Java's String.trim (and so Spark's string → double cast) strips from
# both ends: every code point up to U+0020
_JAVA_TRIM = "".join(map(chr, range(0x21)))


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


def _match_arrays(idx: BoundaryIndex, lon, lat, knn_fallback: bool):
    """Shared match core of the fused kernels: (take, ppos, isknn) where
    `take` indexes the batch rows (a row appears once per containing feature,
    plus once for its kNN fallback), `ppos` is the matched polygon position,
    and `isknn` flags the fallback rows. PIP matches first, kNN after — the
    historical kernel order."""
    pt, pp = idx.pip(lon, lat, many_to_many=True)
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
                      tile_px: int = 256, max_cached_shards: int = 64, *,
                      tables_root: str):
    """Build + broadcast a TileShardLookup over a write_tiles sink.

    The shard list is planned from a snapshot-table manifest kept under
    `tables_root` (tables.ensure_imported_table — zero-copy add_files
    import, staleness-keyed by source fingerprint) instead of a directory
    walk: at object-store scale, listing 90k partition dirs is O(files)
    LISTs and races with writers; the manifest is one GET.

    Validates the tile geometry against one real shard: a wrong tile_px or
    grid would mis-route every lookup to the wrong shard (silent all-255),
    so the constructor recomputes a sample file's tile_id from its min cell
    and refuses on mismatch."""
    from .tables import ensure_imported_table

    files = ensure_imported_table(spark, tiles_path, tables_root
                                  ).snapshot()["files"]
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


def _check_tile_lookup(tile_lookup, fine: GridSpec | None, op: str) -> None:
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
            f"{op}: tile_lookup must be a Broadcast of "
            f"TileShardLookup (World.tile_lookup() or joins.tile_shard_lookup), "
            f"got {got}")
    if fine is None:
        raise ValueError(f"{op}: tile_lookup requires the fine grid")


def _one_wave(points: DataFrame) -> DataFrame:
    """Plan a small kernel input as one wave of Python tasks, one per core:
    the inverse of corpus._spread. Every Python task pays a fixed cost (the
    worker hand-off, Arrow stream set-up, and in the fused kernel a tile
    lookup per batch that can touch most shards), while the session's 3-waves
    scan sizing (session.py) cuts even a few-MB documents file into 3 ×
    cores splits. So when the optimizer's size estimate of `points` is below
    one max-size scan split (Spark's spark.sql.files.maxPartitionBytes) the
    input is coalesced to defaultParallelism partitions; at or above it the
    scan's own 3-waves plan stands, because there the kernel work dominates
    and the waves balance it.

    coalesce is narrow: it adds no Exchange and merges whole partitions, and
    an input with ≤ cores partitions keeps them. The size is a property of
    the optimized logical plan: no physical plan and no .rdd are built. A
    streaming input has no finite size and passes through.

    The estimate is of the kernel input, so where the threshold falls in
    corpus bytes depends on what that input carries. The flagship's is the
    document projection (documents.keyed_spans: doc_key plus two span-field
    lists), estimated at 0.82 of the documents file's bytes on the aezbench
    corpus (2.9 MB), where the parsed (doc_key, lat, lon) points it replaced
    estimated at 0.35 (1.2 MB). At the default 128 MB split, documents files
    below ~156 MB are now coalesced, against ~366 MB before; the 0.7 and
    1.4 GB scaling corpora keep their 3-wave plan."""
    if points.isStreaming:
        return points
    spark = points.sparkSession
    size = int(points._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if size >= max_split:
        return points
    return points.coalesce(spark.sparkContext.defaultParallelism)


def _probe_input(points: DataFrame, index, project: list[str] | None,
                 appended: list, op: str):
    """Shared prologue of the probe joins: plan the input as one wave
    (_one_wave), broadcast `index` unless it already is a Broadcast, check
    the projection, and build the output schema (kept input columns, then
    the `appended` fields). Returns (points, broadcast index, schema)."""
    points = _one_wave(points)
    bidx = (index if isinstance(index, Broadcast)
            else points.sparkSession.sparkContext.broadcast(index))
    keep = _validate_projection(points, project, [f.name for f in appended], op)
    schema = T.StructType([f for f in points.schema.fields if f.name in keep]
                          + appended)
    return points, bidx, schema


def _probe_join(points: DataFrame, index, op: str, fields: list, match,
                lat_col: str, lon_col: str,
                project: list[str] | None) -> DataFrame:
    """The one row-emitting probe-join kernel. Per Arrow batch,
    `match(idx, lon, lat)` returns (take, poly_pos, {col: values}): `take`
    indexes the batch rows to emit (a row repeats once per match),
    `poly_pos` the matched polygon positions, and the dict the values of
    `fields`, aligned with `take`. The kernel appends feature_id and country
    of each matched polygon, then those columns."""
    points, bidx, schema = _probe_input(points, index, project,
                                        MATCH_FIELDS + fields, op)
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
            take, ppos, cols = match(idx, lon, lat)
            out = pdf.iloc[take].reset_index(drop=True)
            out["feature_id"] = fids[ppos]
            out["country"] = countries[ppos]
            for name, values in cols.items():
                out[name] = values
            yield out[out_cols]

    return points.mapInPandas(kernel, schema)


def _dist_cols(dist) -> dict:
    """dist_deg rounded to 6 dp, and dist_km derived from the rounded value
    (× geometry.KM_PER_DEG), so both engines derive it identically."""
    dd = np.round(dist, 6)
    return {"dist_deg": dd, "dist_km": np.round(dd * KM_PER_DEG, 6)}


def assign_points(points: DataFrame, index, lat_col: str = "lat",
                  lon_col: str = "lon", knn_fallback: bool = True,
                  tile_lookup=None,
                  fine: GridSpec | None = None,
                  project: list[str] | None = None) -> DataFrame:
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
    Arrow boundary back to the JVM nor enter the downstream shuffle. A
    distinct-doc zone count aggregates inside its own kernel instead
    (doc_zone_partials), so no match row leaves Python at all."""
    fields = [T.StructField("method", T.StringType())]
    if tile_lookup is not None:
        _check_tile_lookup(tile_lookup, fine, "assign_points")
        fields.append(T.StructField("aez_code", T.IntegerType()))

    def match(idx: BoundaryIndex, lon, lat):
        take, ppos, isknn = _match_arrays(idx, lon, lat, knn_fallback)
        cols = {"method": np.where(isknn, "knn", "pip")}
        if tile_lookup is not None:
            cols["aez_code"] = _tile_codes(tile_lookup.value, fine,
                                           lon[take], lat[take])
        return take, ppos, cols

    return _probe_join(points, index, "assign_points", fields, match,
                       lat_col, lon_col, project)


def _geo_spans(batch: pa.RecordBatch):
    """The zone-count kernel's span parse: (doc_key, lat, lon) numpy arrays
    of every geo span with text in one batch of (doc_key, kinds, texts)
    document rows, in span order. Null or empty span lists and spans with a
    null kind yield nothing.

    The 'lat,lon' parse gives documents.geo_key_points' values: split on
    commas, fields 0 and 1 trimmed and cast to float64, any further field
    ignored. A malformed span raises (pyarrow.lib.ArrowInvalid), as Spark's
    ANSI cast does, rather than being dropped. The trim removes what Java's
    String.trim removes (the code points U+0000..U+0020, ASCII only): a
    Unicode trim would also strip a no-break space (U+00A0), which the JVM
    rejects. Java-only float syntax ('1d', '0x1p3') is the one difference,
    and it raises here (tests/test_doc_zone_counts.py pins both)."""
    kinds = batch.column("kinds")
    # each span's document row. Not list_parent_indices: it also counts the
    # slots a null list may keep in its offsets, which list_flatten skips
    n_spans = pc.fill_null(pc.list_value_length(kinds), 0).to_numpy()
    parent = pa.array(np.repeat(np.arange(len(n_spans)), n_spans))
    text = pc.list_flatten(batch.column("texts"))
    geo = pc.and_(pc.equal(pc.list_flatten(kinds), "geo"), pc.is_valid(text))
    parts = pc.split_pattern(text.filter(geo), ",")
    lat, lon = (pc.cast(pc.ascii_trim(pc.list_element(parts, i), _JAVA_TRIM),
                        pa.float64()).to_numpy()
                for i in (0, 1))
    keys = pc.take(batch.column("doc_key"), parent.filter(geo))
    return keys.to_numpy(), lat, lon


def _zone_partials(batches: Iterator[pa.RecordBatch], idx: BoundaryIndex,
                   tl: TileShardLookup, fine: GridSpec, budget: int,
                   slice_rows: int) -> Iterator[pa.RecordBatch]:
    """doc_zone_partials' kernel over one partition's document batches: one
    RecordBatch of (country, aez_code, n_docs) over the partition's distinct
    (zone, doc) pairs, or none when nothing matched. Each _match_arrays call
    gets at most `slice_rows` parsed points.

    Integer dedup path: country → small int code (position in the sorted
    unique-country array, shared by construction across every batch of
    every partition), packed with the aez code into ONE int64 (combo =
    ccode·512 + aez). Distinct (combo, doc_key) pairs per partition via
    pandas hash-dedup over two int64 columns (measured 7.8x faster than
    np.unique(axis=0)).

    MEMORY BOUND: the irreducible per-partition working set is this
    partition's TRUE distinct (combo, key) set — ≤ the partition's match-row
    count ≤ (partition points × match multiplicity), i.e. tens of MB as
    int64 pairs: a partition holds one core-aware scan split (session.py)
    or, coalesced by _one_wave, less than one max-size split of input in
    total. Transient growth ABOVE that (per-slice-deduped frames
    accumulating cross-slice duplicates) is capped by incremental
    compaction at `budget` (ZC_DEDUP_BUDGET_ROWS): when the pending frames
    exceed it they are concat+dedup-compacted in place; if the compacted
    distinct set itself exceeds it, the budget doubles (amortized O(n)
    compaction work), so the kernel degrades gracefully toward the
    irreducible bound instead of holding every duplicate until EOF."""
    # null-country polygons: astype(str) would mint the literal 'None';
    # encode nulls as a sentinel code and decode back to true null on emit
    # so the fused path agrees with the rows/composed path
    null_sentinel = "\x00<null-country>"
    cstr = np.array([null_sentinel if pd.isna(c) else str(c)
                     for c in idx.countries()], dtype=object)
    c_uniq, poly_ccode = np.unique(cstr, return_inverse=True)
    parts: list[pd.DataFrame] = []
    pending_rows = 0
    for batch in batches:
        keys_all, lat_all, lon_all = _geo_spans(batch)
        for s in range(0, len(keys_all), slice_rows):
            lon = lon_all[s:s + slice_rows]
            lat = lat_all[s:s + slice_rows]
            take, ppos, _ = _match_arrays(idx, lon, lat, True)
            if not len(take):
                continue
            aez = _tile_codes(tl, fine, lon[take], lat[take]).astype(np.int64)
            if aez.size and (aez.min() < 0 or aez.max() >= 512):
                raise ValueError("doc_zone_partials: aez code outside "
                                 "[0, 512) breaks the packed dedup key")
            combo = poly_ccode[ppos].astype(np.int64) * 512 + aez
            keys = keys_all[s:s + slice_rows][take]
            bdf = pd.DataFrame({"combo": combo, "k": keys}).drop_duplicates()
            parts.append(bdf)
            pending_rows += len(bdf)
            if pending_rows > budget:
                parts = [pd.concat(parts, ignore_index=True).drop_duplicates()]
                pending_rows = len(parts[0])
                if pending_rows > budget:
                    budget = pending_rows * 2
    if not parts:
        return
    allp = pd.concat(parts, ignore_index=True).drop_duplicates()
    agg = allp.groupby("combo", sort=False).size()
    combos = agg.index.to_numpy(dtype=np.int64)
    country_out = c_uniq[combos // 512].astype(object)
    country_out[country_out == null_sentinel] = None
    yield pa.RecordBatch.from_arrays(
        [pa.array(country_out, pa.string()),
         pa.array((combos % 512).astype(np.int32)),
         pa.array(agg.to_numpy().astype(np.int64))],
        names=["country", "aez_code", "n_docs"])


def doc_zone_partials(docs: DataFrame, index, tile_lookup,
                      fine: GridSpec) -> DataFrame:
    """The fused distinct-doc zone count over document rows: one mapInArrow
    kernel takes (doc_key BIGINT, kinds ARRAY<STRING>, texts ARRAY<STRING>)
    rows (documents.keyed_spans) and per partition emits only (country,
    aez_code, n_docs) partials; finish with groupBy(country, aez_code).sum.

    Per Arrow batch the kernel explodes and parses the geo spans itself
    (_geo_spans), then runs PIP with kNN fallback (_match_arrays), the shard
    tile lookup (_tile_codes) and a hash-dedup of (zone, doc_key) pairs. No
    span row, match row or doc id crosses the Arrow boundary or a shuffle.
    One input row is one document, so every doc is deduped within one
    partition by construction. mapInArrow, not mapInPandas: pandas would
    turn each list cell into a Python object.

    A batch holds up to maxRecordsPerBatch documents, so it can parse into
    more points than that. The parsed points are matched in slices of at
    most the session's spark.sql.execution.arrow.maxRecordsPerBatch (read
    here, at plan-build time), which keeps each kNN call at the point count
    a points batch had, on the dense side of BoundaryIndex.SEG_CHUNK."""
    _check_tile_lookup(tile_lookup, fine, "doc_zone_partials")
    docs = _one_wave(docs)
    spark = docs.sparkSession
    bidx = (index if isinstance(index, Broadcast)
            else spark.sparkContext.broadcast(index))
    # read at plan-build time and captured in the closure, so a driver-side
    # change to ZC_DEDUP_BUDGET_ROWS or the batch size reaches the workers
    zc_budget = ZC_DEDUP_BUDGET_ROWS
    slice_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if slice_rows <= 0:  # Spark's "no limit"
        slice_rows = sys.maxsize

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _zone_partials(batches, bidx.value, tile_lookup.value, fine,
                              zc_budget, slice_rows)

    return docs.mapInArrow(kernel, "country STRING, aez_code INT, n_docs BIGINT")


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
    from the identical value). The probe-join kernel of assign_points: zero
    shuffle in the join, bbox lower-bound pruning inside the Arrow kernel."""
    def match(idx: BoundaryIndex, lon, lat):
        pt, pp, dist = idx.within(lon, lat, d_deg)
        return pt, pp, _dist_cols(dist)

    return _probe_join(points, index, "within_distance_join", DIST_FIELDS,
                       match, lat_col, lon_col, project)


def knn_topk_join(points: DataFrame, index, k: int,
                  lat_col: str = "lat", lon_col: str = "lon",
                  unmatched_only: bool = True,
                  project: list[str] | None = None) -> DataFrame:
    """kNN spatial join with k > 1 (SURVEY §2.5 rank-by-distance): for each
    point, the k nearest features by boundary distance, as (feature_id,
    country, dist_deg, rank) rows with rank 1..k ordered by (dist asc,
    feature position asc) — dense-scan-identical including tie-breaks.

    unmatched_only=True restricts to points contained in NO polygon (the
    nearest-zone fallback population, same rule as assign_points' kNN path);
    False ranks every point. Appends (feature_id, country, dist_deg,
    dist_km, rank) — dist_km = dist_deg × geometry.KM_PER_DEG from the
    6dp-rounded deg, the user-facing unit. The probe-join kernel of
    assign_points: zero shuffle, candidate generation via the bbox
    branch-and-bound with a k-element bound
    (geometry.BoundaryIndex.nearest_k)."""
    def match(idx: BoundaryIndex, lon, lat):
        sel = np.arange(len(lon))
        if unmatched_only:
            pt, _pp = idx.pip(lon, lat, many_to_many=False)
            un = np.ones(len(lon), dtype=bool)
            un[pt] = False
            sel = sel[un]
        pos, dist = idx.nearest_k(lon[sel], lat[sel], k)
        k_eff = pos.shape[1]
        cols = _dist_cols(dist.ravel())
        cols["rank"] = np.tile(np.arange(1, k_eff + 1, dtype=np.int32),
                               len(sel))
        return np.repeat(sel, k_eff), pos.ravel(), cols

    return _probe_join(points, index, "knn_topk_join",
                       DIST_FIELDS + [T.StructField("rank", T.IntegerType())],
                       match, lat_col, lon_col, project)
