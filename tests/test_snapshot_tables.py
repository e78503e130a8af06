"""Iceberg-style snapshot tables: atomic commits, snapshot isolation, time
travel, orphan detection."""

import os

import pytest
from pyspark.sql import functions as F

from aezspark.tables import SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.overwrite(_df(spark, 0, 10))
    s2 = t.append(_df(spark, 10, 25))
    assert (s1, s2) == (1, 2)
    assert t.read().count() == 25                 # current
    assert t.read(snapshot_id=s1).count() == 10   # time travel
    assert t.snapshot()["parent_id"] == s1
    assert t.snapshot()["operation"] == "append"


def test_overwrite_isolates_prior_reader(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 10))
    reader = t.read()          # planned from snapshot 1's manifest
    t.overwrite(_df(spark, 0, 3))
    # the old reader's plan still points at snapshot 1's immutable files
    assert reader.count() == 10
    assert t.read().count() == 3


def test_crash_before_commit_leaves_table_intact(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 10))
    # simulate a writer dying after data files land but before the commit:
    # write data files directly, never commit
    t._write_data_files(_df(spark, 100, 200))
    assert t.read().count() == 10                 # readers see snapshot 1 only
    orphans = t.orphan_files()
    assert orphans                                 # debris is detectable
    referenced = set(t.snapshot()["files"])
    assert not referenced.intersection(orphans)


def test_read_never_lists_directory(spark, tmp_path):
    """A stray parquet dropped into data/ without a commit must be invisible
    (manifest-planned scan, not directory listing)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 5))
    stray = _df(spark, 0, 100)
    stray.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stray"))
    for f in os.listdir(str(tmp_path / "stray")):
        if f.endswith(".parquet"):
            os.rename(os.path.join(str(tmp_path / "stray"), f),
                      os.path.join(t.data_dir, "zz_stray.parquet"))
    assert t.read().count() == 5


def test_expire_and_vacuum(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 10))
    t.overwrite(_df(spark, 0, 3))     # snapshot 1's files now only held by s1
    assert t.orphan_files() == []     # both snapshots retained → no orphans
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1]
    # default grace window protects young files (an in-flight append's
    # staged-but-uncommitted data must survive a concurrent vacuum)
    assert t.vacuum() == []
    assert t.read(snapshot_id=2).count() == 3
    removed = t.vacuum(grace_seconds=0)   # maintenance window: no writers
    assert removed                    # snapshot 1's files were reclaimed
    assert t.read().count() == 3      # current snapshot untouched
    assert t.orphan_files() == []


def test_vacuum_removes_abandoned_staging_dir(spark, tmp_path):
    """A writer killed mid-write leaves its _staging_<uuid> dir beside
    data/; vacuum removes it under the same grace rule as orphan files."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    stray = os.path.join(t.table_dir, "_staging_dead")
    _df(spark, 5, 10).write.parquet(stray)
    assert t.vacuum() == []
    assert t.vacuum(grace_seconds=0) == ["_staging_dead"]
    assert not os.path.exists(stray)
    assert t.read().count() == 5


def test_concurrent_commit_loses_loudly(spark, tmp_path):
    """Two writers racing to the same snapshot id: exactly one wins; the
    loser gets ConcurrentCommitError instead of silently clobbering the
    winner's manifest (lost commit)."""
    from aezspark.tables import ConcurrentCommitError

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 10))
    files_a = t._write_data_files(_df(spark, 10, 20))
    files_b = t._write_data_files(_df(spark, 20, 40))
    base = t.snapshot()["files"]
    schema = _df(spark, 0, 1).schema.json()
    # writer A commits first at sid=2
    t._commit(base + files_a, schema, "append")
    # writer B computed the same parent before A's commit → same sid → loses
    import json, os as _os
    with pytest.raises(ConcurrentCommitError):
        # replay B's stale view: force sid collision by restoring the hint
        hint = _os.path.join(t.meta_dir, "version-hint.txt")
        with open(hint, "w") as f:
            f.write("1")
        t._commit(base + files_b, schema, "append")
    # recovery: recompute parent (re-read hint) and retry
    with open(_os.path.join(t.meta_dir, "version-hint.txt"), "w") as f:
        f.write("2")
    sid = t._commit(t.snapshot()["files"] + files_b, schema, "append")
    assert sid == 3
    assert t.read().count() == 10 + 10 + 20


def test_documents_pipeline_over_snapshot_table(spark, world, tmp_path):
    """The interleaved-documents input path works identically from a
    snapshot table (north_rule: 'Iceberg tables of interleaved documents')."""
    from aezspark import documents as docs_mod

    t = SnapshotTable(spark, str(tmp_path / "docs"))
    t.overwrite(world.documents())
    assigned = docs_mod.assign_documents(t.read(), world.bidx)
    direct = docs_mod.assign_documents(world.documents(), world.bidx)
    assert assigned.count() == direct.count()


def _write_src(spark, path, lo, hi):
    _df(spark, lo, hi).write.mode("overwrite").parquet(path)


def test_imported_table_zero_copy_and_staleness(spark, tmp_path):
    """ensure_imported_table registers the EXISTING parquet files (no
    rewrite) and re-keys on the source fingerprint: regenerating the source
    in place yields a NEW table instead of serving the old import."""
    from aezspark.tables import ensure_imported_table, source_fingerprint

    src = str(tmp_path / "src.parquet")
    root = str(tmp_path / "tables")
    _write_src(spark, src, 0, 50)
    t1 = ensure_imported_table(spark, src, root)
    assert t1.read().count() == 50
    # zero-copy: the manifest references the source's own files, data/ empty
    assert all(f.startswith(os.sep) for f in t1.snapshot()["files"])
    assert not os.listdir(t1.data_dir)
    # idempotent: same source → same table dir, no second commit
    t1b = ensure_imported_table(spark, src, root)
    assert t1b.table_dir == t1.table_dir
    assert t1b.current_snapshot_id() == 1
    # regenerate the source in place → fingerprint changes → fresh table
    fp_before = source_fingerprint(src)
    _write_src(spark, src, 0, 80)
    assert source_fingerprint(src) != fp_before
    t2 = ensure_imported_table(spark, src, root)
    assert t2.table_dir != t1.table_dir
    assert t2.read().count() == 80


def test_world_documents_reads_snapshot_table_by_default(spark, world,
                                                         tmp_path,
                                                         monkeypatch):
    """North rule: the flagship documents substrate IS the snapshot-table
    layer — same rows as the raw parquet, import materialized under
    AEZSPARK_TABLES_ROOT."""
    from aezspark.pipelines import World

    root = str(tmp_path / "tables")
    monkeypatch.setenv("AEZSPARK_TABLES_ROOT", root)
    # fresh World: the fixture-scoped one memoizes documents()
    fresh = World(spark, world.fx_dir, cache_assignment=False)
    via_table = fresh.documents()
    assert os.listdir(root)  # the import happened here
    raw = spark.read.parquet(os.path.join(world.fx_dir, "documents.parquet"))
    assert via_table.count() == raw.count()
    assert via_table.schema == raw.schema
    assert via_table.exceptAll(raw).count() == 0


def test_compact_rewrites_files_same_rows(spark, tmp_path):
    """Bin-pack compaction: identical logical rows, fewer files, a `replace`
    snapshot; pre-compaction readers are isolated; expire+vacuum reclaims
    the replaced small files and the table stays readable."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in range(0, 50, 10):                    # 5 micro-batch appends
        t.append(_df(spark, lo, lo + 10))
    n_files_before = len(t.snapshot()["files"])
    assert n_files_before >= 5
    old_reader = t.read()                          # planned pre-compaction
    sid = t.compact()                              # 128 MB target -> 1 file
    assert sid == t.current_snapshot_id()
    snap = t.snapshot()
    assert snap["operation"] == "replace"
    assert len(snap["files"]) < n_files_before
    rows = sorted(r.id for r in t.read().collect())
    assert rows == list(range(50))
    assert sorted(r.id for r in old_reader.collect()) == rows
    # maintenance: expire everything but the compacted snapshot, vacuum now
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum(grace_seconds=0)
    assert len(removed) >= n_files_before - 1
    assert sorted(r.id for r in t.read().collect()) == rows


def test_compact_noop_when_already_compact(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 10).coalesce(1))
    assert t.compact() is None
    assert t.snapshot()["operation"] == "overwrite"


def test_compact_keeps_concurrent_append(spark, tmp_path, monkeypatch):
    """An append that commits between the rewrite and the compaction commit
    wins the CAS; compaction retries, keeping the appended file and
    replacing only the files it actually rewrote."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in range(0, 50, 10):
        t.append(_df(spark, lo, lo + 10))
    orig = SnapshotTable._write_data_files
    state = {"raced": False}

    def race(self, df):
        files = orig(self, df)
        if not state["raced"]:                     # fire exactly once
            state["raced"] = True
            SnapshotTable(spark, self.table_dir).append(_df(spark, 100, 110))
        return files

    monkeypatch.setattr(SnapshotTable, "_write_data_files", race)
    sid = t.compact()
    assert sid is not None
    snap = t.snapshot(sid)
    assert snap["operation"] == "replace"
    rows = sorted(r.id for r in t.read().collect())
    assert rows == list(range(50)) + list(range(100, 110))
    # the racing append's file survived un-rewritten
    appended = set(t.added_files(sid - 1))
    assert appended.issubset(set(snap["files"]))


def test_compact_aborts_on_concurrent_overwrite(spark, tmp_path, monkeypatch):
    """If the files being rewritten vanish (concurrent overwrite), compaction
    must raise — never clobber the other writer's table."""
    from aezspark.tables import ConcurrentCommitError

    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in range(0, 30, 10):
        t.append(_df(spark, lo, lo + 10))
    orig = SnapshotTable._write_data_files
    state = {"raced": False}

    def race(self, df):
        files = orig(self, df)
        if not state["raced"]:
            state["raced"] = True
            SnapshotTable(spark, self.table_dir).overwrite(_df(spark, 0, 3))
        return files

    monkeypatch.setattr(SnapshotTable, "_write_data_files", race)
    with pytest.raises(ConcurrentCommitError):
        t.compact()
    assert t.read().count() == 3                   # overwrite won, untouched
    assert t.orphan_files()                        # rewrite output -> vacuum


def test_incremental_read_appends_only(spark, tmp_path):
    """read_appends: manifest-planned changelog of appended rows; compaction
    (replace) contributes zero logical rows; overwrite in range refuses."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 10))
    t.append(_df(spark, 10, 20))
    s3 = t.append(_df(spark, 20, 30))
    got = sorted(r.id for r in t.read_appends(s1).collect())
    assert got == list(range(10, 30))
    assert sorted(r.id for r in t.read_appends(0).collect()) == list(range(30))

    c = t.compact()
    assert c is not None
    # compaction is invisible to an incremental consumer
    got = sorted(r.id for r in t.read_appends(s1).collect())
    assert got == list(range(10, 30))
    assert t.read_appends(s3).count() == 0         # nothing appended since s3
    assert t.read_appends(c).count() == 0

    s5 = t.append(_df(spark, 30, 35))
    got = sorted(r.id for r in t.read_appends(c).collect())
    assert got == list(range(30, 35))
    # bounded range: (s1, s3] excludes the later append
    got = sorted(r.id for r in t.read_appends(s1, until_snapshot_id=s3).collect())
    assert got == list(range(10, 30))

    t.overwrite(_df(spark, 0, 5))
    with pytest.raises(ValueError):
        t.read_appends(s5).collect()


def _kdf(spark, lo, hi):
    return (spark.range(lo, hi)
            .selectExpr("id AS k", "id * 2 AS v").coalesce(1))


def test_manifest_stats_prune_files(spark, tmp_path):
    """Iceberg-style scan planning: per-file min/max recorded at commit lets
    a range read open ONE of three files; results stay exact (the range is
    also a Spark filter) and an all-miss range returns schema-correct empty."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stat_cols=("k",))
    t.append(_kdf(spark, 0, 10))
    t.append(_kdf(spark, 10, 20))
    t.append(_kdf(spark, 20, 30))
    assert len(t.snapshot()["files"]) == 3
    planned = t.planned_files(where={"k": (12, 15)})
    assert len(planned) == 1
    assert t.snapshot()["stats"][planned[0]]["k"] == [10, 19]
    got = t.read(where={"k": (12, 15)})
    assert sorted(r.k for r in got.collect()) == list(range(12, 16))
    full = t.read().filter("k BETWEEN 12 AND 15")
    assert (sorted((r.k, r.v) for r in got.collect())
            == sorted((r.k, r.v) for r in full.collect()))
    assert t.planned_files(where={"k": (100, 200)}) == []
    empty = t.read(where={"k": (100, 200)})
    assert empty.count() == 0
    assert empty.columns == ["k", "v"]
    # half-open ranges
    assert len(t.planned_files(where={"k": (20, None)})) == 1
    assert len(t.planned_files(where={"k": (None, 9)})) == 1
    # incremental changelog read prunes + filters the same way
    inc = t.read_appends(1, where={"k": (12, 15)})
    assert sorted(r.k for r in inc.collect()) == list(range(12, 16))
    assert t.read_appends(1, where={"k": (0, 5)}).count() == 0  # pre-range


def test_stats_survive_compaction_and_time_travel(spark, tmp_path):
    """compact() recomputes stats for the rewritten file, and the pre-compact
    snapshot's stats remain readable via time travel."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stat_cols=("k",))
    for lo in range(0, 40, 10):
        t.append(_kdf(spark, lo, lo + 10))
    pre = t.current_snapshot_id()
    assert len(t.planned_files(where={"k": (5, 6)}, snapshot_id=pre)) == 1
    sid = t.compact(target_file_bytes=1 << 40)  # bin-packs to one file
    assert sid is not None
    files = t.snapshot()["files"]
    assert len(files) == 1
    assert t.snapshot()["stats"][files[0]]["k"] == [0, 39]
    assert t.read(where={"k": (5, 6)}).count() == 2
    # time travel still prunes against the OLD manifest's stats
    assert len(t.planned_files(where={"k": (5, 6)}, snapshot_id=pre)) == 1


def test_pruning_safe_without_stats(spark, tmp_path):
    """A writer that recorded no stats (or a column outside stat_cols) must
    never cause wrong skips: planning keeps every file, the filter is exact."""
    t = SnapshotTable(spark, str(tmp_path / "t"))  # no stat_cols
    t.append(_kdf(spark, 0, 10))
    t.append(_kdf(spark, 10, 20))
    assert t.planned_files(where={"k": (3, 4)}) == t.snapshot()["files"]
    assert t.read(where={"k": (3, 4)}).count() == 2
    # stats on k only: a where over v falls back to filter-only
    t2 = SnapshotTable(spark, str(tmp_path / "t2"), stat_cols=("k",))
    t2.append(_kdf(spark, 0, 10))
    t2.append(_kdf(spark, 10, 20))
    assert t2.planned_files(where={"v": (0, 2)}) == t2.snapshot()["files"]
    assert t2.read(where={"v": (0, 2)}).count() == 2


def test_schema_evolution_add_nullable_column(spark, tmp_path):
    """Iceberg add-column: an append may add nullable columns; reads plan
    with the TABLE schema so older files surface the new column as NULL
    (instead of Spark inferring from one arbitrary footer and silently
    dropping it)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 10))                       # (id, v)
    t.append(_df(spark, 10, 20).withColumn(
        "lang", F.when(F.col("id") % 2 == 0, F.lit("en"))))  # + lang (nullable)
    cur = t.read()
    assert set(cur.columns) == {"id", "v", "lang"}
    assert cur.count() == 20
    # all 10 pre-evolution rows read as NULL lang; 5 of the new 10 are 'en'
    assert cur.filter(F.col("lang").isNull()).count() == 15
    # incremental read of the OLD append under the new schema: lang is NULL
    inc = t.read_appends(0, until_snapshot_id=s1)
    assert "lang" not in inc.columns or inc.count() == 10  # planned from s1
    # time travel keeps the old schema
    assert set(t.read(snapshot_id=s1).columns) == {"id", "v"}
    # compaction carries the evolved schema through the rewrite
    assert t.compact(target_file_bytes=1 << 40) is not None
    back = t.read()
    assert set(back.columns) == {"id", "v", "lang"}
    assert back.filter(F.col("lang").isNull()).count() == 15


def test_schema_evolution_refuses_incompatible(spark, tmp_path):
    from aezspark.tables import SchemaEvolutionError

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))  # (id bigint, v bigint)
    with pytest.raises(SchemaEvolutionError):   # type change
        t.append(_df(spark, 10, 20).withColumn("v", F.col("v").cast("int")))
    with pytest.raises(SchemaEvolutionError):   # dropped column
        t.append(_df(spark, 10, 20).drop("v"))
    with pytest.raises(SchemaEvolutionError):   # new NON-nullable column
        t.append(_df(spark, 10, 20).withColumn("flag", F.lit(1)))
    # overwrite restates the schema freely
    t.overwrite(_df(spark, 0, 5).drop("v"))
    assert t.read().columns == ["id"]


def test_imported_table_stats_prune(spark, tmp_path):
    """add_files import with stat_cols: footer-only min/max of the EXISTING
    files goes into the manifest (zero rewrite), so imported tables get the
    same read(where=) file skipping as native ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aezspark.tables import ensure_imported_table

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"k": list(range(0, 10))}), src / "a.parquet")
    pq.write_table(pa.table({"k": list(range(10, 20))}), src / "b.parquet")
    t = ensure_imported_table(spark, str(src), str(tmp_path / "tables"),
                              stat_cols=("k",))
    assert len(t.snapshot()["files"]) == 2
    planned = t.planned_files(where={"k": (12, 15)})
    assert len(planned) == 1 and planned[0].endswith("b.parquet")
    got = sorted(r.k for r in t.read(where={"k": (12, 15)}).collect())
    assert got == list(range(12, 16))


def test_stat_cols_persist_as_table_property(spark, tmp_path):
    """The writer's stat_cols are a persisted table property (ADVICE r5):
    a fresh handle with no stat_cols — the maintenance-CLI situation —
    inherits them, so compact() run through it recomputes manifest min/max
    for the rewritten files instead of committing a stat-less replace."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stat_cols=("k",))
    for lo in range(0, 30, 10):
        t.append(_kdf(spark, lo, lo + 10))
    assert t.properties()["stat_cols"] == ["k"]

    maint = SnapshotTable(spark, str(tmp_path / "t"))  # no stat_cols passed
    assert maint.stat_cols == ("k",)
    sid = maint.compact(target_file_bytes=1 << 40)
    assert sid is not None
    files = maint.snapshot()["files"]
    assert maint.snapshot()["stats"][files[0]]["k"] == [0, 29]
    # appends through the stat-less handle also keep recording stats
    maint.append(_kdf(spark, 100, 110))
    f_new = maint.added_files(maint.current_snapshot_id())[0]
    assert maint.snapshot()["stats"][f_new]["k"] == [100, 109]
    assert len(maint.planned_files(where={"k": (105, 106)})) == 1


def test_properties_carried_through_maintenance_and_expiry(spark, tmp_path):
    """Table properties ride every commit — append, replace, overwrite —
    and survive expire_snapshots (only the current snapshot must carry
    them), the Iceberg table-properties contract."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5), properties={"max_stream_batch_id": 0})
    t.append(_df(spark, 5, 10), properties={"max_stream_batch_id": 1})
    assert t.properties()["max_stream_batch_id"] == 1
    assert t.compact(target_file_bytes=1 << 40) is not None  # replace commit
    assert t.properties()["max_stream_batch_id"] == 1
    t.expire_snapshots(keep_last=1)  # the append manifests are gone
    assert len(t.snapshots()) == 1
    assert t.properties()["max_stream_batch_id"] == 1
    t.overwrite(_df(spark, 0, 3))
    assert t.properties()["max_stream_batch_id"] == 1


def test_compact_retry_cap_raises_loudly(spark, tmp_path, monkeypatch):
    """A compaction that keeps losing the commit CAS gives up after a
    bounded number of retries (ADVICE r5: no livelock under a steady
    appender) — loudly, with its output left as vacuum-able orphans."""
    from aezspark import tables as tables_mod
    from aezspark.tables import ConcurrentCommitError

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    t.append(_df(spark, 5, 10))

    monkeypatch.setattr(tables_mod, "COMPACT_MAX_RETRIES", 3)
    calls = {"n": 0}
    orig = SnapshotTable._commit

    def always_lose(self, *a, **kw):
        if kw.get("operation") == "replace" or (len(a) >= 3 and a[2] == "replace"):
            calls["n"] += 1
            raise ConcurrentCommitError("simulated lost CAS")
        return orig(self, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "_commit", always_lose)
    with pytest.raises(ConcurrentCommitError, match="lost the commit race"):
        t.compact(target_file_bytes=1 << 40)
    assert calls["n"] == 3
    # table untouched; the rewritten file is an orphan for vacuum
    assert len(t.snapshots()) == 2
    assert len(t.orphan_files()) == 1


def test_cell_tables_read_through_imports_with_stats(spark, world, tmp_path,
                                                     monkeypatch):
    """VERDICT r5 #6: raster cell tables and boundaries read through the
    snapshot-table import by default — same rows as the raw parquet, and
    the import manifest carries per-file cell_id min/max so these inputs
    get read(where=) file-skipping and U12 staleness like documents do."""
    from aezspark import sources

    root = str(tmp_path / "tables")
    monkeypatch.setenv("AEZSPARK_TABLES_ROOT", root)
    via_table = sources.read_cells(spark, world.fx_dir, "cells_kg")
    imports = os.listdir(root)
    assert imports  # the import happened here
    raw = spark.read.parquet(os.path.join(world.fx_dir, "cells_kg.parquet"))
    assert via_table.schema == raw.schema
    assert via_table.exceptAll(raw).count() == 0

    # the import manifest recorded usable cell_id stats: a narrow range
    # probe must plan a subset (or all, if single-file) WITH bounds present
    tbl = SnapshotTable(spark, os.path.join(root, sorted(imports)[0]))
    snap = tbl.snapshot()
    assert snap["operation"] == "add_files"
    assert tbl.properties()["stat_cols"] == ["cell_id"]
    assert all(st.get("cell_id") for st in snap["stats"].values())

    # boundaries route through the layer too (no stat cols: broadcast dim)
    b = sources.read_boundaries(spark, world.fx_dir)
    assert b.count() > 0
    assert len(os.listdir(root)) > len(imports)


def test_delete_where_copy_on_write(spark, tmp_path):
    """Row-level DELETE (Iceberg copy-on-write): files provably outside the
    range are carried over as the SAME manifest entries (zero I/O), the
    overlapping file is rewritten without the matching rows, and time travel
    still reads the pre-delete snapshot."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stat_cols=("k",))
    t.append(_kdf(spark, 0, 10))
    t.append(_kdf(spark, 10, 20))
    t.append(_kdf(spark, 20, 30))
    pre = t.current_snapshot_id()
    pre_files = t.snapshot()["files"]
    sid = t.delete_where({"k": (12, 17)})
    assert sid == pre + 1
    snap = t.snapshot(sid)
    assert snap["operation"] == "delete"
    assert snap["summary"]["deleted_rows"] == 6
    assert snap["summary"]["rewritten_files"] == 1
    # the two disjoint files were not rewritten: identical manifest entries
    assert len(set(pre_files) & set(snap["files"])) == 2
    assert (sorted(r.k for r in t.read().collect())
            == [k for k in range(30) if not 12 <= k <= 17])
    assert t.read(where={"k": (12, 17)}).count() == 0
    # time travel: the pre-delete snapshot still has every row
    assert t.read(snapshot_id=pre).count() == 30
    # stats were recomputed for the rewritten file
    new_file = next(f for f in snap["files"] if f not in pre_files)
    assert snap["stats"][new_file]["k"] == [10, 19]


def test_delete_whole_file_drop_without_rewrite(spark, tmp_path):
    """A file whose footer proves every row matches (min/max inside the
    range, zero nulls) is dropped from the manifest with NO rewrite."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stat_cols=("k",))
    t.append(_kdf(spark, 0, 10))
    t.append(_kdf(spark, 10, 20))
    t.append(_kdf(spark, 20, 30))
    pre_files = t.snapshot()["files"]
    sid = t.delete_where({"k": (10, 19)})
    snap = t.snapshot(sid)
    assert snap["summary"]["deleted_rows"] == 10
    assert snap["summary"]["dropped_files"] == 1
    assert snap["summary"]["rewritten_files"] == 0
    assert len(snap["files"]) == 2
    assert set(snap["files"]).issubset(set(pre_files))  # zero bytes written
    assert sorted(r.k for r in t.read().collect()) == (
        list(range(0, 10)) + list(range(20, 30)))


def test_delete_null_rows_survive(spark, tmp_path):
    """SQL BETWEEN semantics: a NULL in a where-column never matches, so
    NULL rows survive any delete — including the (None, None) isNotNull
    range — and the null-bearing file is never whole-dropped."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stat_cols=("k",))
    t.append(spark.range(0, 10)
             .selectExpr("IF(id < 3, NULL, id) AS k", "id AS v").coalesce(1))
    sid = t.delete_where({"k": (None, None)})   # matches every non-null k
    snap = t.snapshot(sid)
    assert snap["summary"]["deleted_rows"] == 7
    assert snap["summary"]["dropped_files"] == 0  # nulls forbid whole-drop
    left = t.read().collect()
    assert len(left) == 3 and all(r.k is None for r in left)


def test_delete_noop_commits_nothing(spark, tmp_path):
    """A delete that matches no row must NOT commit a snapshot (it would
    poison read_appends ranges for nothing) and must leave no orphans."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stat_cols=("k",))
    t.append(spark.range(0, 10)
             .selectExpr("id * 2 AS k", "id AS v").coalesce(1))  # evens 0..18
    assert t.delete_where({"k": (3, 3)}) is None        # inside stats, no row
    assert t.delete_where({"k": (100, 200)}) is None    # pruned entirely
    assert t.current_snapshot_id() == 1
    assert t.read().count() == 10
    assert t.orphan_files() == []


def test_read_appends_refuses_delete_in_range(spark, tmp_path):
    """An append-only changelog cannot represent a row delete: a range
    containing one refuses loudly; a later range still works."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stat_cols=("k",))
    s1 = t.append(_kdf(spark, 0, 10))
    s2 = t.delete_where({"k": (0, 3)})
    assert s2 == s1 + 1
    t.append(_kdf(spark, 10, 20))
    with pytest.raises(ValueError, match="delete"):
        t.read_appends(s1)
    assert sorted(r.k for r in t.read_appends(s2).collect()) == list(range(10, 20))
