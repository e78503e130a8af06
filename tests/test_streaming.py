"""Streaming ingestion: the file-source stream, enriched micro-batch by
micro-batch with the same fused kernel into the snapshot-table sink, must
reproduce the batch pipeline's zone counts exactly — and resume from its
checkpoint when new files land."""

import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from aezspark import documents as docs_mod, streaming as st


def _write_drops(world, in_dir, n_drops=3):
    docs = world.documents()
    os.makedirs(in_dir, exist_ok=True)
    for i in range(n_drops):
        # coalesce(1): each drop must be exactly ONE file — the expiry test
        # counts stream batches (maxFilesPerTrigger=1), and the scan's split
        # count is a session tuning detail (r7 lowered the split-size floor,
        # which made un-coalesced writes emit one part per split)
        (docs.filter(F.pmod(F.xxhash64("doc_id"), n_drops) == i)
         .coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(in_dir, f"drop_{i}.parquet")))
    # file source wants files directly under the dir
    for i in range(n_drops):
        src = os.path.join(in_dir, f"drop_{i}.parquet")
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                shutil.move(os.path.join(src, f), os.path.join(in_dir, f"file_{i}_{f}"))
        shutil.rmtree(src)


def _counts(df):
    return (df.toPandas().sort_values(["country", "aez_code"])
            .reset_index(drop=True))


def test_stream_resumes_from_checkpoint(world, tmp_path):
    """Late files land after a finished run: the resumed availableNow run on
    the SAME checkpoint appends snapshots for the late files only, and the
    merged counts equal the batch counts over every file."""
    from aezspark.tables import SnapshotTable

    in_dir = str(tmp_path / "in")
    tbl_dir = str(tmp_path / "tbl")
    cp_dir = str(tmp_path / "cp")
    late_dir = tmp_path / "late"
    _write_drops(world, in_dir, n_drops=3)
    late_dir.mkdir()
    late = [f for f in os.listdir(in_dir) if f.startswith("file_2_")]
    for f in late:
        shutil.move(os.path.join(in_dir, f), str(late_dir / f))

    tl = world.tile_lookup()

    def run():
        st.enrich_stream_to_table(st.stream_documents(world.spark, in_dir),
                                  world.bidx, tl, world.fine, tbl_dir,
                                  cp_dir).start().awaitTermination()

    run()
    tbl = SnapshotTable(world.spark, tbl_dir)
    snaps_first = [s["snapshot_id"] for s in tbl.snapshots()]
    assert snaps_first

    for f in late:
        shutil.move(str(late_dir / f), os.path.join(in_dir, f))
    run()
    snaps = [s["snapshot_id"] for s in tbl.snapshots()]
    assert snaps[:len(snaps_first)] == snaps_first
    assert len(snaps) > len(snaps_first)  # new snapshots appended

    # the appended snapshots hold exactly the late files' counts
    appended = (tbl.read_appends(snaps_first[-1])
                .groupBy("country", "aez_code")
                .agg(F.sum("n_docs").alias("n_docs")))
    late_docs = world.spark.read.schema(st.DOC_SCHEMA).parquet(
        *[os.path.join(in_dir, f) for f in late])
    want_late = _counts(docs_mod.assign_zone_counts(late_docs, world.bidx, tl,
                                                    world.fine))
    got_late = _counts(appended)
    pd.testing.assert_frame_equal(got_late, want_late[got_late.columns.tolist()],
                                  check_dtype=False)

    got = _counts(st.read_zone_counts_table(world.spark, tbl_dir))
    exp = _counts(docs_mod.assign_zone_counts(world.documents(), world.bidx,
                                              tl, world.fine))
    pd.testing.assert_frame_equal(got, exp[got.columns.tolist()],
                                  check_dtype=False)


def test_stream_to_snapshot_table_matches_batch(world, tmp_path):
    """The snapshot-table streaming sink (one atomic append per micro-batch)
    must produce the same merged counts as the batch fused pipeline."""
    in_dir = str(tmp_path / "in")
    tbl_dir = str(tmp_path / "tbl")
    cp_dir = str(tmp_path / "cp")
    _write_drops(world, in_dir)

    tl = world.tile_lookup()
    st.enrich_stream_to_table(st.stream_documents(world.spark, in_dir),
                              world.bidx, tl, world.fine, tbl_dir,
                              cp_dir).start().awaitTermination()

    got = _counts(st.read_zone_counts_table(world.spark, tbl_dir))
    exp = _counts(docs_mod.assign_zone_counts(world.documents(), world.bidx,
                                              tl, world.fine))
    pd.testing.assert_frame_equal(got, exp[got.columns.tolist()],
                                  check_dtype=False)


def test_stream_table_sink_replay_is_idempotent(world, tmp_path):
    """foreachBatch is at-least-once; the sink must make it exactly-once at
    the table level: replaying the WHOLE stream (fresh checkpoint, same
    files → same batch_ids) commits nothing — batch_ids already recorded in
    the snapshot chain are skipped."""
    from aezspark.tables import SnapshotTable

    in_dir = str(tmp_path / "in")
    tbl_dir = str(tmp_path / "tbl")
    _write_drops(world, in_dir, n_drops=2)

    tl = world.tile_lookup()

    def run(cp):
        st.enrich_stream_to_table(
            st.stream_documents(world.spark, in_dir, max_files_per_trigger=1),
            world.bidx, tl, world.fine, tbl_dir,
            str(tmp_path / cp)).start().awaitTermination()

    run("cp1")
    tbl = SnapshotTable(world.spark, tbl_dir)
    snaps_before = [s["snapshot_id"] for s in tbl.snapshots()]
    counts_before = _counts(st.read_zone_counts_table(world.spark, tbl_dir))
    assert len(snaps_before) >= 2  # one atomic append per micro-batch

    run("cp2")  # full replay: fresh checkpoint, identical batch mapping
    assert [s["snapshot_id"] for s in tbl.snapshots()] == snaps_before
    counts_after = _counts(st.read_zone_counts_table(world.spark, tbl_dir))
    pd.testing.assert_frame_equal(counts_after, counts_before)


def test_downstream_incremental_consume_and_compact(world, tmp_path):
    """A downstream pipeline tails the streaming sink's table with
    read_appends: per-micro-batch partials are consumed exactly once, the
    incremental union re-aggregates to the full table, and compacting the
    table is invisible to the consumer (replace adds no logical rows)."""
    from aezspark.tables import SnapshotTable

    in_dir = str(tmp_path / "in")
    tbl_dir = str(tmp_path / "tbl")
    _write_drops(world, in_dir)

    tl = world.tile_lookup()
    st.enrich_stream_to_table(
        st.stream_documents(world.spark, in_dir, max_files_per_trigger=1),
        world.bidx, tl, world.fine, tbl_dir,
        str(tmp_path / "cp")).start().awaitTermination()

    tbl = SnapshotTable(world.spark, tbl_dir)
    snaps = [s["snapshot_id"] for s in tbl.snapshots()]
    assert len(snaps) >= 2
    # consumer saw up to the first micro-batch; tail the rest incrementally
    tail = tbl.read_appends(snaps[0])
    first = tbl.read(snapshot_id=snaps[0])
    merged = (first.unionByName(tail)
              .groupBy("country", "aez_code")
              .agg(F.sum("n_docs").alias("n_docs")))
    got = _counts(merged)
    exp = _counts(st.read_zone_counts_table(world.spark, tbl_dir))
    pd.testing.assert_frame_equal(got, exp[got.columns.tolist()],
                                  check_dtype=False)

    # maintenance compaction must not re-deliver rows to the consumer
    c = tbl.compact()
    assert c is not None and tbl.snapshot(c)["operation"] == "replace"
    tail2 = tbl.read_appends(snaps[0], until_snapshot_id=snaps[-1])
    assert tail2.count() == tail.count()
    assert tbl.read_appends(c).count() == 0


def test_zone_counts_table_country_read_prunes_and_matches(world, tmp_path):
    """The sink records country min/max per micro-batch file; a country-
    filtered read must (a) equal the filtered full read and (b) prune files
    whose recorded country range provably misses. The strict pruning pin
    uses two deterministic single-country appends (string-typed stats)."""
    from aezspark.tables import SnapshotTable

    tbl_dir = str(tmp_path / "tbl")
    t = SnapshotTable(world.spark, tbl_dir, stat_cols=("country",))
    mk = lambda c, n: world.spark.createDataFrame(
        [(c, a, n + a) for a in (1, 2)],
        "country STRING, aez_code INT, n_docs LONG").coalesce(1)
    t.append(mk("Alphaland", 10))
    t.append(mk("Betaland", 20))
    assert len(t.snapshot()["files"]) == 2
    # string min/max: the Betaland probe plans exactly one of two files
    assert len(t.planned_files(where={"country": ("Betaland", "Betaland")})) == 1
    got = (st.read_zone_counts_table(world.spark, tbl_dir, country="Betaland")
           .toPandas().sort_values("aez_code").reset_index(drop=True))
    full = (st.read_zone_counts_table(world.spark, tbl_dir).toPandas()
            .query("country == 'Betaland'")
            .sort_values("aez_code").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, full[got.columns.tolist()],
                                  check_dtype=False)


def test_stream_table_sink_replay_safe_after_expiry(world, tmp_path):
    """Exactly-once must survive snapshot maintenance (ADVICE r5): after
    compact() + expire_snapshots() removed the per-batch append manifests,
    a FRESH-checkpoint full replay (batch ids restart at 0) still commits
    nothing — the max_stream_batch_id table property rode the replace
    commit forward, so the watermark outlives the manifests that set it.
    The check is also O(1): one manifest read, not a chain scan."""
    from aezspark.tables import SnapshotTable

    in_dir = str(tmp_path / "in")
    tbl_dir = str(tmp_path / "tbl")
    _write_drops(world, in_dir, n_drops=2)

    tl = world.tile_lookup()

    def run(cp):
        st.enrich_stream_to_table(
            st.stream_documents(world.spark, in_dir, max_files_per_trigger=1),
            world.bidx, tl, world.fine, tbl_dir,
            str(tmp_path / cp)).start().awaitTermination()

    run("cp1")
    tbl = SnapshotTable(world.spark, tbl_dir)
    assert tbl.properties()["max_stream_batch_id"] == 1
    assert tbl.compact(target_file_bytes=1 << 40) is not None
    tbl.expire_snapshots(keep_last=1)
    assert len(tbl.snapshots()) == 1  # the batch_id summaries are GONE
    assert tbl.snapshots()[0]["operation"] == "replace"
    counts_before = _counts(st.read_zone_counts_table(world.spark, tbl_dir))

    run("cp2")  # fresh checkpoint: full replay, batch ids 0..1 again
    assert len(tbl.snapshots()) == 1  # nothing committed
    counts_after = _counts(st.read_zone_counts_table(world.spark, tbl_dir))
    pd.testing.assert_frame_equal(counts_after, counts_before)


def test_stream_sink_schema_evolution_mid_stream(world, tmp_path, monkeypatch):
    """A sink upgrade mid-stream (VERDICT r5 #8): a later micro-batch that
    ADDS a nullable column must evolve the table (older rows read as NULL),
    and one that CHANGES a column type must refuse loudly — the streaming
    sink inherits the batch append's evolution contract, verified through
    the actual foreachBatch path, not just direct appends."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from aezspark import streaming as st_mod
    from aezspark.tables import SnapshotTable

    in_dir = str(tmp_path / "in")
    tbl_dir = str(tmp_path / "tbl")
    cp = str(tmp_path / "cp")
    _write_drops(world, in_dir, n_drops=2)
    tl = world.tile_lookup()

    def run():
        st.enrich_stream_to_table(
            st.stream_documents(world.spark, in_dir, max_files_per_trigger=1),
            world.bidx, tl, world.fine, tbl_dir, cp).start().awaitTermination()

    run()  # v1 sink: base schema
    tbl = SnapshotTable(world.spark, tbl_dir)
    base_cols = set(tbl.read().columns)
    assert "pipeline_ver" not in base_cols

    # v2 sink deploy: the enrichment now tags rows with a nullable column
    orig = st_mod.docs_mod.assign_zone_counts

    def v2(*a, **kw):
        # nullif: a NULLABLE literal — a plain F.lit is non-nullable, which
        # the evolution contract rightly refuses (old files can't satisfy it)
        return orig(*a, **kw).withColumn("pipeline_ver",
                                         F.expr("nullif('v2', '')"))

    monkeypatch.setattr(st_mod.docs_mod, "assign_zone_counts", v2)
    # new drop under a new filename -> new batch on the SAME checkpoint
    docs = world.documents().limit(40)
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "d3"))
    import shutil
    for f in os.listdir(str(tmp_path / "d3")):
        if f.endswith(".parquet"):
            shutil.move(os.path.join(str(tmp_path / "d3"), f),
                        os.path.join(in_dir, f"file_v2_{f}"))
    run()
    got = tbl.read()
    assert "pipeline_ver" in got.columns  # schema evolved
    vals = {r.pipeline_ver for r in got.select("pipeline_ver").distinct().collect()}
    assert vals == {None, "v2"}  # old files surface NULL, new files v2

    # v3 sink that widens a column type must be REFUSED loudly
    def v3(*a, **kw):
        # keeps v2's column (dropping it would be refused as a column drop);
        # the one violation is the n_docs type change
        return v2(*a, **kw).withColumn("n_docs", F.col("n_docs").cast("double"))

    monkeypatch.setattr(st_mod.docs_mod, "assign_zone_counts", v3)
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "d4"))
    for f in os.listdir(str(tmp_path / "d4")):
        if f.endswith(".parquet"):
            shutil.move(os.path.join(str(tmp_path / "d4"), f),
                        os.path.join(in_dir, f"file_v3_{f}"))
    with pytest.raises(StreamingQueryException, match="type"):
        run()
