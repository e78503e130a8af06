"""doc_zone_counts doc_local path: the partition-local distinct-doc dedup
(zero doc_id shuffle — the round-3 scaling fix) must equal the global
distinct exactly when docs are partition-local, and its precondition must be
demonstrably load-bearing (a scrambled input over-counts)."""

from pyspark.sql import functions as F

from aezspark import documents as docs_mod, joins


def _enriched(world):
    assigned = docs_mod.assign_documents(world.documents(), world.bidx)
    return docs_mod.with_aez(assigned, world.tiles(), world.fine)


def _as_dict(df):
    return {(r.country, r.aez_code): r.n_docs for r in df.collect()}


def test_doc_local_equals_global_on_colocated_input(spark, world):
    """The engine's whole assignment chain is narrow (scan → posexplode →
    mapInPandas → broadcast tile join), so docs never cross partitions and
    the partition-local dedup is globally exact."""
    enriched = _enriched(world)
    exact = _as_dict(docs_mod.doc_zone_counts(enriched))
    local = _as_dict(docs_mod.doc_zone_counts(enriched, doc_local=True))
    assert local == exact and sum(exact.values()) > 0


def test_doc_local_plan_has_no_wide_shuffle_of_doc_ids(spark, world):
    """The doc_local plan's only Exchange carries (country, aez_code, n)
    partials — doc_id must not appear in any exchanged schema."""
    plan = (docs_mod.doc_zone_counts(_enriched(world), doc_local=True)
            ._jdf.queryExecution().executedPlan().toString())
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "doc_id" not in line, line


def test_doc_local_precondition_is_load_bearing(spark):
    """Counter-example: rows of one doc spread across partitions are counted
    once per partition — doc_local on a scrambled input over-counts, which is
    exactly why the precondition is documented."""
    schema = "country STRING, aez_code INT, doc_id STRING"
    # deterministic split: parallelize with 2 slices puts d1's first row in
    # partition 0 and its second in partition 1 (slice boundaries are fixed;
    # a plain union of coalesced frames gets re-collapsed by AQE)
    rows = [("X", 1, "d1"), ("X", 1, "d1"), ("X", 1, "d2")]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    assert df.rdd.getNumPartitions() == 2
    exact = _as_dict(docs_mod.doc_zone_counts(df))
    local = _as_dict(docs_mod.doc_zone_counts(df, doc_local=True))
    assert exact[("X", 1)] == 2
    assert local[("X", 1)] > exact[("X", 1)]


def test_fused_kernel_equals_composed(spark, world):
    """assign_points(emit='zone_counts') — dedup + partial count fused into
    the assign kernel, tile codes from the shard-manifest lookup — must
    equal the composed pipeline (broadcast with_aez join) exactly."""
    fused = _as_dict(docs_mod.assign_zone_counts(
        world.documents(), world.bidx, world.tile_lookup(), world.fine))
    composed = _as_dict(docs_mod.doc_zone_counts(_enriched(world)))
    assert fused == composed and sum(fused.values()) > 0


def test_fused_kernel_validates_inputs(spark, world):
    import numpy as np
    import pytest
    from aezspark.joins import assign_points

    pts = docs_mod.indexed_points(world.documents())
    with pytest.raises(ValueError, match="requires tile_lookup"):
        assign_points(pts, world.bidx, emit="zone_counts")
    tl = world.tile_lookup()
    with pytest.raises(ValueError, match="doc_id.*must survive"):
        assign_points(pts, world.bidx, tile_lookup=tl, fine=world.fine,
                      project=["span_idx"], emit="zone_counts")
    # anything but a Broadcast of TileShardLookup — an old (cells, codes)
    # array broadcast, or an unbroadcast manifest — is refused at plan-build
    # time, not as an AttributeError inside a Python worker
    arrays = spark.sparkContext.broadcast(
        (np.array([], dtype=np.int64), np.array([], dtype=np.int32)))
    for bad in (arrays, tl.value):
        with pytest.raises(ValueError, match="World.tile_lookup"):
            assign_points(pts, world.bidx, tile_lookup=bad, fine=world.fine,
                          emit="zone_counts")


def test_doc_local_counts_null_keys_like_spark(spark):
    """A null group key must count identically in both advertised-identical
    forms: pandas groupby defaults to dropna=True, which would silently drop
    null-country rows only in the doc_local kernel."""
    schema = "country STRING, aez_code INT, doc_id STRING"
    rows = [("X", 1, "d1"), (None, 1, "d2"), (None, 1, "d3"), ("X", 2, "d1")]
    df = spark.createDataFrame(rows, schema).coalesce(1)
    exact = docs_mod.doc_zone_counts(df)
    local = docs_mod.doc_zone_counts(df, doc_local=True)
    as_set = lambda d: {tuple(r) for r in d.collect()}
    got = as_set(local)
    assert got == as_set(exact)
    assert (None, 1, 2) in got


def test_fused_kernel_compaction_budget_parity(spark, world, monkeypatch):
    """The incremental-compaction path (pending pairs > budget → in-place
    concat+dedup) must be output-identical to the unlimited path — budget=1
    forces a compaction after every batch."""
    tl = world.tile_lookup()
    base = _as_dict(docs_mod.assign_zone_counts(world.documents(),
                                                world.bidx, tl, world.fine))
    monkeypatch.setattr(joins, "ZC_DEDUP_BUDGET_ROWS", 1)
    tight = _as_dict(docs_mod.assign_zone_counts(world.documents(),
                                                 world.bidx, tl, world.fine))
    assert tight == base and sum(base.values()) > 0


def test_fused_kernel_null_country_is_true_null(spark, world):
    """A null-country polygon must emit country=NULL from the fused
    zone_counts path, matching the rows path — not the literal 'None'
    (round-4 ADVICE: astype(str) minted 'None')."""
    import numpy as np
    from pyspark.sql import functions as F

    from aezspark.geometry import BoundaryIndex, Polygon
    from aezspark.joins import assign_points

    sq = lambda x0: (np.array([x0, x0 + 8.0, x0 + 8.0, x0, x0]),
                     np.array([0.0, 0.0, 8.0, 8.0, 0.0]))
    polys = [Polygon(1, None, *sq(0.0)), Polygon(2, "X", *sq(20.0))]
    idx = BoundaryIndex(polys)
    pts = spark.createDataFrame([(1, 4.0, 4.0), (2, 24.0, 4.0)],
                                "doc_id LONG, lon DOUBLE, lat DOUBLE")
    tl = world.tile_lookup()
    fused = assign_points(pts, idx, tile_lookup=tl, fine=world.fine,
                          emit="zone_counts", project=["doc_id"])
    counts = {r.country: r.n_docs
              for r in fused.groupBy("country")
              .agg(F.sum("n_docs").alias("n_docs")).collect()}
    assert counts == {None: 1, "X": 1}
    rows = assign_points(pts, idx, tile_lookup=tl, fine=world.fine)
    assert {r.country for r in rows.select("country").collect()} == {None, "X"}
