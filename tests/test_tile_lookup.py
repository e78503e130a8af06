"""The fused assign kernel (PIP + kNN + shard-manifest tile lookup) must
produce exactly the same rows as the two-stage path (assign → with_aez
equi-join)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aezspark import documents as docs_mod, io as aio, joins, tiles
from aezspark.joins import assign_points, tile_shard_lookup

COLS = ["doc_id", "span_idx", "feature_id", "country", "method", "aez_code"]
KEY = ["doc_id", "span_idx", "feature_id"]


def _join_path(world):
    return (docs_mod.with_aez(
        docs_mod.assign_documents(world.documents(), world.bidx),
        world.tiles(), world.fine)
        .select(*COLS).toPandas().sort_values(KEY).reset_index(drop=True))


def _fused(world, pts, tl, **kw):
    return (assign_points(pts, world.bidx, tile_lookup=tl, fine=world.fine,
                          **kw)
            .select(*COLS).toPandas().sort_values(KEY).reset_index(drop=True))


def _sink(world):
    """Root of the sink World.tile_lookup() wrote: its shard paths are
    <root>/tile_id=N/part-*.parquet."""
    paths = next(iter(world.tile_lookup().value.shard_paths.values()))
    return os.path.dirname(os.path.dirname(paths[0]))


@pytest.fixture(scope="module")
def sink36(world, tmp_path_factory):
    """A sink with dozens of shards (36 px tiles): more than a small LRU
    holds, unlike the default 256 px sink's 2."""
    return aio.write_tiles(tiles.tile_codes(
        world.spark, world.cells("cells_kg"), world.cells("cells_slope"),
        world.cells("cells_wk"), world.cells("cells_lc"), world.coarse,
        world.fine, tile_px=36), str(tmp_path_factory.mktemp("t36") / "tiles"))


def test_fused_kernel_matches_join_path(world):
    """Same rows with the kernel-side projection (only the identity columns
    cross back from the kernel)."""
    pts = docs_mod.geo_points(world.documents())
    got = _fused(world, pts, world.tile_lookup(), project=["doc_id", "span_idx"])
    pd.testing.assert_frame_equal(got, _join_path(world), check_dtype=False)


def test_shard_lookup_matches_broadcast_rows(world, sink36):
    """The shard-manifest lookup must produce the with_aez broadcast join's
    rows at the default LRU and with an adversarially tiny LRU (1 shard),
    which can only cost re-reads, never answers — also when the points
    arrive in shuffled order, so consecutive rows keep evicting shards.
    The 36 px sink with an 8-shard LRU mixes cached and uncached shards in
    one batch, the case where hit-first probing reorders the tiles."""
    want = _join_path(world)
    pts = docs_mod.indexed_points(world.documents())
    shuffled = pts.orderBy(F.rand(seed=7))
    lru1 = tile_shard_lookup(world.spark, _sink(world), world.fine,
                             max_cached_shards=1)
    lru8 = tile_shard_lookup(world.spark, sink36, world.fine, tile_px=36,
                             max_cached_shards=8)
    for tl, points in [(world.tile_lookup(), pts), (lru1, pts),
                       (lru1, shuffled), (lru8, shuffled)]:
        pd.testing.assert_frame_equal(_fused(world, points, tl), want,
                                      check_dtype=False)


def test_shard_lookup_miss_bound(world, sink36, monkeypatch):
    """A batch needing K shards, with C < K of them cached, reads exactly
    K - C shards: cached shards are probed before any miss can evict them.
    Probing in ascending tile order instead would miss all K on the repeat
    call (sequential flooding of the LRU). Driver-side, no Spark job."""
    rng = np.random.default_rng(0)
    lon = rng.uniform(-180.0, 180.0, 20_000)
    lat = rng.uniform(-89.9, 89.9, 20_000)
    big = tile_shard_lookup(world.spark, sink36, world.fine, tile_px=36,
                            max_cached_shards=10_000).value
    fy, fx = world.fine.lonlat_to_yx(lon, lat)
    tid = np.unique((fy // 36) * big.n_tiles_x + fx // 36).tolist()
    k = sum(len(big.shard_paths.get(t, ())) for t in tid)
    c = k // 3
    small = tile_shard_lookup(world.spark, sink36, world.fine, tile_px=36,
                              max_cached_shards=c).value

    load, reads = joins._load_shard, []

    def counting_load(path, max_cached):
        if path not in joins._SHARD_CACHE:
            reads.append(path)
        return load(path, max_cached)

    monkeypatch.setattr(joins, "_SHARD_CACHE", {})
    monkeypatch.setattr(joins, "_load_shard", counting_load)
    want = joins._tile_codes(big, world.fine, lon, lat)
    assert len(reads) == k and 0 < c < k
    joins._SHARD_CACHE.clear()
    joins._tile_codes(small, world.fine, lon, lat)  # leaves C shards cached
    reads.clear()
    got = joins._tile_codes(small, world.fine, lon, lat)
    assert len(reads) == k - c
    np.testing.assert_array_equal(got, want)
    assert (want != 255).any()


def test_shard_lookup_zone_counts_parity(world):
    """sp_doc_zone_counts parity with the shard path forced: the fused
    emit='zone_counts' kernel over the shard lookup — at the default LRU and
    at a 1-shard LRU — equals the composed with_aez broadcast join exactly,
    so the engine's best plan needs no tile broadcast at the real 300 m
    grid."""
    def counts(df):
        return (df.toPandas().sort_values(["country", "aez_code"])
                .reset_index(drop=True))

    enriched = docs_mod.with_aez(
        docs_mod.assign_documents(world.documents(), world.bidx),
        world.tiles(), world.fine)
    want = counts(docs_mod.doc_zone_counts(enriched))
    lru1 = tile_shard_lookup(world.spark, _sink(world), world.fine,
                             max_cached_shards=1)
    for tl in (world.tile_lookup(), lru1):
        got = counts(docs_mod.assign_zone_counts(
            world.documents(), world.bidx, tl, world.fine))
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_shard_lookup_broadcasts_only_the_manifest(world):
    """The broadcast payload is the shard MANIFEST (paths + geometry), not
    tile data: it must stay KB-scale and contain no cell arrays."""
    import pickle

    v = world.tile_lookup().value
    assert set(map(type, v.shard_paths.keys())) == {int}
    assert all(isinstance(p, tuple) for p in v.shard_paths.values())
    # payload is O(paths): a fat payload here would mean tile data leaked in
    assert len(pickle.dumps(v)) < 64_000


def test_shard_lookup_manifest_planned(world, tmp_path):
    """tables_root routes shard planning through the snapshot-table import
    (manifest read, no directory walk at scale); results are identical."""
    manifest = tile_shard_lookup(world.spark, _sink(world), world.fine,
                                 tables_root=str(tmp_path / "tables"))
    assert (manifest.value.shard_paths
            == world.tile_lookup().value.shard_paths)


def test_shard_lookup_refuses_wrong_geometry(world):
    """A wrong tile_px would silently route every lookup to the wrong shard
    (all-255): the constructor validates against a real shard and refuses."""
    with pytest.raises(ValueError, match="tile geometry mismatch"):
        tile_shard_lookup(world.spark, _sink(world), world.fine, tile_px=64)
