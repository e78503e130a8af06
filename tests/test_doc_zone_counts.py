"""The flagship doc count has one production path, the fused kernel
(documents.assign_zone_counts: assign_points(emit='zone_counts') dedups
docs partition-locally inside the assign kernel, so no doc id crosses a
shuffle). It must equal the composed reference
doc_zone_counts(with_aez(assign_documents(...))) exactly, and its
co-location precondition must be demonstrably load-bearing (a scrambled
input over-counts)."""

from pyspark.sql import functions as F

from aezspark import documents as docs_mod, joins


def _enriched(world):
    assigned = docs_mod.assign_documents(world.documents(), world.bidx)
    return docs_mod.with_aez(assigned, world.tiles(), world.fine)


def _as_dict(df):
    return {(r.country, r.aez_code): r.n_docs for r in df.collect()}


def test_fused_plan_has_no_wide_shuffle_of_doc_ids(spark, world):
    """The fused plan's only Exchange carries (country, aez_code, n)
    partials — neither doc_id nor its doc_key surrogate may appear in any
    exchanged schema."""
    plan = (docs_mod.assign_zone_counts(world.documents(), world.bidx,
                                        world.tile_lookup(), world.fine)
            ._jdf.queryExecution().executedPlan().toString())
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchanges
    for line in exchanges:
        assert "doc_key" not in line and "doc_id" not in line, line


def test_fused_precondition_is_load_bearing(spark, world):
    """Counter-example: rows of one doc spread across partitions are counted
    once per partition — the in-kernel dedup on a scrambled input
    over-counts, which is exactly why the precondition is documented."""
    import numpy as np

    from aezspark.geometry import BoundaryIndex, Polygon
    from aezspark.joins import assign_points

    idx = BoundaryIndex([Polygon(1, "X", np.array([0.0, 8.0, 8.0, 0.0, 0.0]),
                                 np.array([0.0, 0.0, 8.0, 8.0, 0.0]))])
    # deterministic split: parallelize with 2 slices puts doc 1's first row in
    # partition 0 and its second in partition 1 (slice boundaries are fixed;
    # a plain union of coalesced frames gets re-collapsed by AQE)
    rows = [(1, 4.0, 4.0), (1, 4.0, 4.0), (2, 4.0, 4.0)]
    pts = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
                                "doc_id LONG, lon DOUBLE, lat DOUBLE")
    assert pts.rdd.getNumPartitions() == 2
    tl = world.tile_lookup()
    exact = _as_dict(docs_mod.doc_zone_counts(
        assign_points(pts, idx, tile_lookup=tl, fine=world.fine)))
    fused = _as_dict(assign_points(pts, idx, tile_lookup=tl, fine=world.fine,
                                   emit="zone_counts", project=["doc_id"])
                     .groupBy("country", "aez_code")
                     .agg(F.sum("n_docs").alias("n_docs")))
    assert list(exact.values()) == [2]
    assert fused.keys() == exact.keys()
    assert sum(fused.values()) > 2


def test_fused_kernel_equals_composed(spark, world):
    """assign_points(emit='zone_counts') — dedup + partial count fused into
    the assign kernel, tile codes from the shard-manifest lookup — must
    equal the composed pipeline (broadcast with_aez join) exactly."""
    fused = _as_dict(docs_mod.assign_zone_counts(
        world.documents(), world.bidx, world.tile_lookup(), world.fine))
    composed = _as_dict(docs_mod.doc_zone_counts(_enriched(world)))
    assert fused == composed and sum(fused.values()) > 0


def test_entry_equals_composed(spark, world):
    """The driver's flagship entry() runs the fused kernel; over the same
    interleaved docs it must return the composed reference's rows, row for
    row in its (country, aez_code) order."""
    import __spark_entry__ as E

    docs = E._interleaved_docs(spark)
    composed = docs_mod.doc_zone_counts(docs_mod.with_aez(
        docs_mod.assign_documents(docs, world.bidx), world.tiles(),
        world.fine))
    got = E.entry(spark).collect()
    assert got == composed.orderBy("country", "aez_code").collect()
    assert got and got[0].asDict().keys() == {"country", "aez_code", "n_docs"}


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
