"""Iceberg-style snapshot tables: manifest-based reads, atomic commits,
time travel.

The north rule targets "Iceberg tables of interleaved documents"; real
Iceberg isn't in this container, so the engine implements the part of the
spec its pipelines rely on, the same way Iceberg does it (public table-format
design: a table is a chain of immutable SNAPSHOTS, each listing its data
files in a manifest; readers plan scans from a manifest, never by directory
listing; a commit is one atomic pointer swap):

  table_dir/
    data/<uuid>.parquet          immutable data files
    metadata/snap-<N>.json       manifest: files, schema, parent, commit
                                 time, summary, properties
    metadata/version-hint.txt    current snapshot id (atomic rename swap)

Guarantees (tested):
  * readers always see a complete snapshot — a writer crashing mid-append
    leaves orphan data files (or a _staging_<uuid> dir) for vacuum, but
    never a torn table;
  * append/overwrite are snapshot-isolated: a reader that planned from
    snapshot N is unaffected by a concurrent commit of N+1;
  * concurrent committers: optimistic concurrency — the manifest is staged to
    a tmp file and published via an atomic os.link create-if-absent CAS
    (readers never see a partial manifest), so of two writers racing to the
    same snapshot id exactly one
    wins and the other raises ConcurrentCommitError (retry with a fresh
    parent); no commit is ever silently overwritten;
  * vacuum honors a grace window (remove-orphans older-than), so it cannot
    delete the staged data files of an append that has not committed yet;
  * time travel: read any retained snapshot by id.

Directory-listing reads (plain spark.read.parquet on data/) are WRONG against
this layout by design — exactly why manifests exist at 100 TB: file listing
is O(files) against an object store and races with writers.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


COMPACT_MAX_RETRIES = 8  # lost-CAS retries before compact() gives up loudly


class ConcurrentCommitError(RuntimeError):
    """Lost an optimistic-concurrency commit race (or found crashed-commit
    debris): the target snapshot manifest already exists. Retry the commit;
    the already-written data files are reusable."""


class SnapshotTable:
    def __init__(self, spark: SparkSession, table_dir: str,
                 stat_cols: tuple[str, ...] | None = None):
        """`stat_cols`: columns whose per-FILE min/max are recorded in the
        manifest at commit time (Iceberg's lower_bounds/upper_bounds) — read
        from the parquet footers the writer just produced, no data scan.
        `read(where=...)` then prunes whole files from the plan before Spark
        ever opens them: at 100 TB that is the difference between a range
        query touching 3 files and touching 30,000 (row-group min/max
        pruning inside Spark only helps AFTER a file is opened; an object
        store charges per GET). Write-side opt-in; pruning on read needs
        only the manifest.

        stat_cols=None (the default) INHERITS the table's persisted stat
        columns (the `stat_cols` table property, recorded at every commit):
        a maintenance job or reader constructing `SnapshotTable(spark, dir)`
        gets the same manifest stats the original writer declared — in
        particular `compact()` run from the CLI recomputes stats for the
        rewritten files instead of silently committing a stat-less replace
        snapshot (ADVICE r5). Pass an explicit tuple to (re)declare, or ()
        to disable stats for this writer's commits."""
        self.spark = spark
        self.table_dir = table_dir
        # None = inherit from the table's properties at use time (the table
        # may not exist yet at construction time — resolve lazily)
        self._stat_cols = tuple(stat_cols) if stat_cols is not None else None
        self.data_dir = os.path.join(table_dir, "data")
        self.meta_dir = os.path.join(table_dir, "metadata")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)

    @property
    def stat_cols(self) -> tuple[str, ...]:
        if self._stat_cols is not None:
            return self._stat_cols
        return tuple(self.properties().get("stat_cols", ()))

    def properties(self) -> dict:
        """Current table properties (Iceberg table-properties analog):
        key/values carried forward from parent to child at EVERY commit —
        append, replace (compaction), overwrite — so they survive
        maintenance and snapshot expiry. Empty until a commit sets one."""
        try:
            return dict(self.snapshot().get("properties", {}))
        except FileNotFoundError:
            return {}

    # ---- snapshot chain ----

    @property
    def _hint_path(self):
        return os.path.join(self.meta_dir, "version-hint.txt")

    def current_snapshot_id(self) -> int | None:
        if not os.path.exists(self._hint_path):
            return None
        with open(self._hint_path) as f:
            return int(f.read().strip())

    def snapshot(self, snapshot_id: int | None = None) -> dict:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise FileNotFoundError(f"{self.table_dir}: no committed snapshot")
        with open(os.path.join(self.meta_dir, f"snap-{sid}.json")) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.meta_dir)):
            if f.startswith("snap-") and f.endswith(".json"):
                with open(os.path.join(self.meta_dir, f)) as fh:
                    out.append(json.load(fh))
        return sorted(out, key=lambda s: s["snapshot_id"])

    # ---- write path ----

    def _write_data_files(self, df: DataFrame) -> list[str]:
        staging = os.path.join(self.table_dir, f"_staging_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        files = []
        for f in sorted(os.listdir(staging)):
            if f.endswith(".parquet"):
                dst = f"{uuid.uuid4().hex}.parquet"
                os.rename(os.path.join(staging, f),
                          os.path.join(self.data_dir, dst))
                files.append(dst)
        shutil.rmtree(staging)
        return files

    # ---- manifest column stats (Iceberg lower_bounds / upper_bounds) ----

    def _new_file_stats(self, files: list[str],
                        external: bool = False) -> dict:
        """Per-file min/max of `stat_cols`, read from the parquet FOOTERS of
        freshly written files (metadata only — no data scan; the writer just
        produced these bytes so the footers are page-cache hot). Returns
        {filename: {col: [min, max] | None}}; None marks a column unprunable
        for that file (missing/unsupported stats) — pruning treats it as
        'may match'."""
        if not self.stat_cols:
            return {}
        out = {}
        for f in files:
            path = f if external else os.path.join(self.data_dir, f)
            out[f] = _footer_minmax(path, self.stat_cols)
        return out

    def _merged_stats(self, base_snap: dict | None, files: list[str],
                      new_stats: dict) -> dict:
        """Stats for a manifest listing `files`: freshly computed entries for
        new files, carried over from the parent manifest for retained ones
        (stats are per immutable file, so carry-over is exact)."""
        prev = (base_snap or {}).get("stats", {})
        merged = {}
        for f in files:
            if f in new_stats:
                merged[f] = new_stats[f]
            elif f in prev:
                merged[f] = prev[f]
        return merged

    def _commit(self, files: list[str], schema_json: str, operation: str,
                summary: dict | None = None,
                stats: dict | None = None,
                properties: dict | None = None) -> int:
        """Optimistic-concurrency commit: the snapshot manifest is written to
        a tmp file and published with an atomic os.link create-if-absent CAS,
        so when two writers race to sid = parent+1 exactly one
        wins and the loser fails LOUDLY with ConcurrentCommitError (retry =
        recompute parent and re-commit; the data files are already safe in
        data/ and are reused). This is the same compare-and-swap shape as
        Iceberg's metadata-pointer CAS. A writer that crashes between manifest
        creation and the pointer swap leaves an orphan manifest snap-<N>.json
        not reachable from version-hint — remove it to unblock the next
        committer (the error message says which file)."""
        parent = self.current_snapshot_id()
        sid = (parent or 0) + 1
        # properties: parent's carried forward, caller's updates applied on
        # top, stat_cols self-recorded — every commit (append / replace /
        # overwrite) re-publishes them, so they survive compaction and
        # snapshot expiry without rescanning the chain
        props = dict(self.snapshot(parent).get("properties", {})) if parent else {}
        props.update(properties or {})
        if self.stat_cols:
            props["stat_cols"] = list(self.stat_cols)
        snap = {
            "snapshot_id": sid,
            "parent_id": parent,
            "operation": operation,
            "timestamp_ms": int(time.time() * 1000),
            "files": files,
            "schema": json.loads(schema_json),
            "summary": {"n_files": len(files), **(summary or {})},
        }
        if props:
            snap["properties"] = props
        if stats:
            snap["stats"] = stats
        snap_path = os.path.join(self.meta_dir, f"snap-{sid}.json")
        # Write the FULL manifest to a private tmp file first, then publish it
        # with os.link — an atomic create-if-absent CAS. Readers can therefore
        # never observe a partially-written manifest at its final name, and a
        # crash mid-write leaves only a harmless tmp file (vs. a torn
        # snap-<N>.json that would both break snapshots() and permanently
        # block every future commit at that id).
        tmp_path = os.path.join(self.meta_dir,
                                f".snap-{sid}.{uuid.uuid4().hex}.tmp")
        with open(tmp_path, "w") as f:
            json.dump(snap, f, indent=2, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp_path, snap_path)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"snapshot {sid} already exists at {snap_path}: another "
                f"writer committed first (retry the commit), or a crashed "
                f"commit left an orphan manifest (delete that file)") from None
        finally:
            os.unlink(tmp_path)
        # the commit point: one atomic pointer swap
        tmp_hint = self._hint_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp_hint, "w") as f:
            f.write(str(sid))
        os.replace(tmp_hint, self._hint_path)
        return sid

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table contents in one new snapshot."""
        files = self._write_data_files(df)
        return self._commit(files, df.schema.json(), "overwrite",
                            stats=self._new_file_stats(files))

    def append(self, df: DataFrame, summary: dict | None = None,
               properties: dict | None = None) -> int:
        """Append: new snapshot = parent's files + the new files. Data files
        are written BEFORE the commit — a crash in between leaves only
        unreferenced orphans, never a torn table. `summary` entries are
        recorded in the snapshot manifest (e.g. a streaming sink's batch_id
        for replay idempotence).

        Schema evolution (Iceberg add-column): an append may ADD nullable
        columns — the manifest records the widened schema and reads plan
        with it, so older files' missing columns surface as NULL. Anything
        else (type change, dropped column, new non-nullable column) is
        REFUSED loudly: without table-schema-planned reads Spark would
        infer from one arbitrary file's footer and silently drop or corrupt
        the divergent columns."""
        try:
            _check_schema_evolution(self.snapshot().get("schema"), df.schema)
        except FileNotFoundError:
            pass  # first commit: any schema
        new_files = self._write_data_files(df)
        try:
            prev_snap = self.snapshot()
            prev = prev_snap["files"]
        except FileNotFoundError:
            prev_snap, prev = None, []
        all_files = prev + new_files
        return self._commit(all_files, df.schema.json(), "append",
                            summary=summary, properties=properties,
                            stats=self._merged_stats(
                                prev_snap, all_files,
                                self._new_file_stats(new_files)))

    # ---- read path ----

    def read(self, snapshot_id: int | None = None,
             where: dict | None = None) -> DataFrame:
        """Plan the scan from the snapshot's manifest (never by listing the
        directory); pass snapshot_id for time travel.

        `where` = {col: (lo, hi)} (inclusive; None = unbounded) prunes whole
        files from the plan via the manifest's per-file min/max BEFORE Spark
        opens anything — Iceberg's scan planning. The same range is also
        applied as a Spark filter, so the result is exact whether or not a
        file could be pruned (missing stats ⇒ the file is kept, never
        wrongly skipped). SQL BETWEEN semantics: NULLs never match."""
        snap = self.snapshot(snapshot_id)
        if not snap["files"]:
            raise ValueError("empty snapshot")
        files = self.planned_files(where, snapshot_id) if where else snap["files"]
        if not files:
            # every file pruned: schema-correct empty plan (one file for
            # schema inference, all rows filtered)
            files = snap["files"][:1]
        paths = [os.path.join(self.data_dir, f) for f in files]
        df = self._read_with_table_schema(snap, paths)
        if where:
            df = _apply_where(df, where)
        return df

    def _read_with_table_schema(self, snap: dict, paths: list[str]) -> DataFrame:
        """Plan the scan with the SNAPSHOT's recorded schema (Iceberg
        semantics): after an add-column evolution, older files' missing
        columns read as NULL instead of the reader inferring from one
        arbitrary file's footer. Imported (`add_files`) tables record only
        an informational arrow schema — those fall back to inference (their
        files are immutable and homogeneous by construction)."""
        schema = snap.get("schema")
        if isinstance(schema, dict) and schema.get("fields"):
            from pyspark.sql.types import StructType

            return (self.spark.read.schema(StructType.fromJson(schema))
                    .parquet(*paths))
        return self.spark.read.parquet(*paths)

    def planned_files(self, where: dict | None = None,
                      snapshot_id: int | None = None) -> list[str]:
        """The manifest file list after min/max pruning — what `read(where=)`
        will actually open. Exposed for tests and scan telemetry (no silent
        caps: callers can log planned/total)."""
        snap = self.snapshot(snapshot_id)
        files = snap["files"]
        if not where:
            return list(files)
        stats = snap.get("stats", {})
        kept = []
        for f in files:
            fstats = stats.get(f)
            if _file_may_match(fstats, where):
                kept.append(f)
        return kept

    def added_files(self, snapshot_id: int) -> list[str]:
        """Data files this snapshot ADDED relative to its parent (manifest
        set-difference — no file I/O)."""
        snap = self.snapshot(snapshot_id)
        parent = snap["parent_id"]
        prev = set(self.snapshot(parent)["files"]) if parent else set()
        return [f for f in snap["files"] if f not in prev]

    def read_appends(self, after_snapshot_id: int,
                     until_snapshot_id: int | None = None,
                     where: dict | None = None) -> DataFrame:
        """Incremental scan (Iceberg's incremental-append read): the rows
        appended AFTER snapshot `after_snapshot_id`, up to and including
        `until_snapshot_id` (default: current). Planned purely from
        manifests: the union of the files ADDED by each `append` snapshot in
        the range. `replace` snapshots (compaction) rewrite existing rows and
        add no logical rows, so their files are skipped — a downstream
        incremental consumer never re-reads rows because maintenance ran.
        An `overwrite` or row-level `delete` in the range removes rows,
        which an append-only changelog cannot represent: that raises
        ValueError (Iceberg's incremental scan refuses the same way). Consuming the range requires
        its manifests to still be retained (expire_snapshots breaks replay
        older than the retention window, as in Iceberg). `where` prunes the
        appended files via the until-snapshot's manifest stats and applies
        the exact residual range filter, same semantics as `read(where=)`."""
        until = (self.current_snapshot_id() if until_snapshot_id is None
                 else until_snapshot_id)
        chain = []
        sid = until
        while sid is not None and sid > after_snapshot_id:
            snap = self.snapshot(sid)
            chain.append(snap)
            sid = snap["parent_id"]
        if sid != after_snapshot_id and after_snapshot_id != 0:
            raise ValueError(
                f"snapshot {after_snapshot_id} is not an ancestor of {until}")
        files = []
        for snap in reversed(chain):
            op = snap["operation"]
            if op in ("overwrite", "delete"):
                raise ValueError(
                    f"snapshot {snap['snapshot_id']} is a row-removing "
                    f"{op}: append-only incremental read cannot represent "
                    f"deletes")
            if op in ("append", "add_files"):
                files.extend(self.added_files(snap["snapshot_id"]))
            # 'replace' (compaction): rewritten bytes, zero new logical rows
        until_snap = self.snapshot(until)
        if where:
            stats = until_snap.get("stats", {})
            files = [f for f in files if _file_may_match(stats.get(f), where)]
        if not files:
            # schema-correct empty result: plan from the until-snapshot
            return self.read(until).limit(0)
        paths = [os.path.join(self.data_dir, f) for f in files]
        # plan with the until-snapshot's schema: appends from before an
        # add-column evolution surface the added columns as NULL
        df = self._read_with_table_schema(until_snap, paths)
        if where:
            df = _apply_where(df, where)
        return df

    def compact(self, target_file_bytes: int = 128 << 20,
                min_input_files: int = 2) -> int | None:
        """Bin-pack small files (Iceberg `rewrite_data_files`): rewrite the
        current snapshot's data files into ~`target_file_bytes` files and
        commit a `replace` snapshot with IDENTICAL logical rows. A
        streaming sink commits a few small files per micro-batch, so an
        always-appending table degrades to O(files) scan planning and
        tiny-row-group reads; compaction is the maintenance half of that
        contract. Readers are never blocked: they plan from immutable
        manifests, and the replaced files stay on disk until
        expire_snapshots + vacuum.

        Concurrency: the rewrite races with appenders under optimistic
        concurrency. On a lost CAS the retry keeps any newly appended files
        and replaces only the files actually rewritten (Iceberg's
        rewrite-commit validation); if the rewritten files themselves
        vanished from the current snapshot (concurrent overwrite or rival
        compaction) the job raises ConcurrentCommitError and its output
        becomes vacuum-able orphans — it can never clobber the other
        writer's result.

        At cluster scale the rewrite is per-bin (each task rewrites one
        group of small files — no global shuffle); here the single
        `coalesce(n)` over the manifest file list is the same narrow,
        shuffle-free plan. Returns the new snapshot id, or None when the
        table is already compact."""
        snap = self.snapshot()
        old_files = snap["files"]
        if len(old_files) < min_input_files:
            return None
        paths = [os.path.join(self.data_dir, f) for f in old_files]
        total = sum(os.path.getsize(p) for p in paths)
        n_out = max(1, -(-total // max(1, target_file_bytes)))
        if n_out >= len(old_files):
            return None  # already at (or below) target granularity
        df = self._read_with_table_schema(snap, paths).coalesce(int(n_out))
        new_files = self._write_data_files(df)
        return self._replace_files_commit(
            set(old_files), new_files, "replace",
            {"rewritten_files": len(new_files)})

    def delete_where(self, where: dict) -> int | None:
        """Row-level DELETE, copy-on-write (Iceberg copy-on-write delete /
        RewriteFiles): remove every row matching `where` — the same
        {col: (lo, hi)} inclusive-range language as read(where=), SQL
        BETWEEN semantics, NULLs never match. This is the compliance
        primitive a training-data table needs (opt-out / takedown by key
        range) without rewriting the table.

        File classification, cheapest proof first:
          1. manifest stats pre-prune: files whose recorded min/max provably
             miss the range are carried over UNTOUCHED (same manifest
             entry, zero I/O — the common case when the delete key is a
             stat column and the table is clustered on it);
          2. each remaining candidate's parquet FOOTER (metadata only) then
             classifies it: provably disjoint → untouched (covers tables
             without stat_cols); provably all-matching (min/max inside the
             range AND zero nulls in every where-column) → DROPPED whole,
             no rewrite; otherwise → copy-on-write rewrite of the
             surviving rows.

        `deleted_rows` is exact and metadata-priced: footer num_rows of the
        replaced files minus footer num_rows of the rewritten output (a
        rewritten file that comes out empty is unlinked, not committed).

        Commits operation='delete' under the same bounded-CAS retry loop as
        compact(); snapshot-isolation semantics (Iceberg's default): the
        delete applies to the snapshot it planned against, so a row
        appended CONCURRENTLY that matches the predicate is untouched — a
        lost CAS race to an appender retries keeping the appender's files,
        a concurrent overwrite/compaction of a replaced file aborts loudly
        with the rewritten output left as vacuum-able orphans.

        Returns the new snapshot id, or None when no row matches — a no-op
        delete commits NOTHING (it would poison read_appends ranges for
        nothing). read_appends() refuses a range containing a delete
        exactly as for overwrite: an append-only changelog cannot
        represent row removal."""
        import pyarrow.parquet as pq

        snap = self.snapshot()
        cols = tuple(where)
        drops, rewrites, replaced_rows = [], [], 0
        for f in self.planned_files(where):
            path = os.path.join(self.data_dir, f)
            if not _file_may_match(_footer_minmax(path, cols), where):
                continue  # footer disproves what the manifest couldn't
            md = pq.ParquetFile(path).metadata
            replaced_rows += md.num_rows
            (drops if _footer_all_match(md, where) else rewrites).append(f)
        if not drops and not rewrites:
            return None
        new_files, new_rows = [], 0
        if rewrites:
            paths = [os.path.join(self.data_dir, f) for f in rewrites]
            survivors = (self._read_with_table_schema(snap, paths)
                         .filter(~_where_match_col(where)))
            for f in self._write_data_files(survivors):
                p = os.path.join(self.data_dir, f)
                n = pq.ParquetFile(p).metadata.num_rows
                if n == 0:
                    os.remove(p)  # never committed: no reader can plan it
                    continue
                new_rows += n
                new_files.append(f)
        deleted = replaced_rows - new_rows
        if deleted == 0:
            # stats overlapped but no row actually matched: drop the
            # byte-identical rewrite and commit nothing
            for f in new_files:
                os.remove(os.path.join(self.data_dir, f))
            return None
        return self._replace_files_commit(
            set(drops) | set(rewrites), new_files, "delete",
            {"deleted_rows": deleted, "dropped_files": len(drops),
             "rewritten_files": len(new_files)})

    def _replace_files_commit(self, replaced: set, new_files: list,
                              operation: str, summary: dict) -> int:
        """Bounded-CAS commit of a file rewrite (shared by compact() and
        delete_where()): the current snapshot must still contain every
        `replaced` file — if not, a rival overwrite/compaction won and this
        raises ConcurrentCommitError (the rewritten output becomes
        vacuum-able orphans, the rival's table is never clobbered). A lost
        race to a plain appender is retried with jittered backoff (bounded:
        an unbounded loop can livelock under a steady appender, ADVICE r5),
        keeping the appender's files and replacing only `replaced`."""
        import random

        for attempt in range(COMPACT_MAX_RETRIES):
            if attempt:
                time.sleep(min(0.05 * (1 << attempt), 1.0) * random.random())
            cur = self.snapshot()
            if not replaced.issubset(cur["files"]):
                raise ConcurrentCommitError(
                    f"{operation} input files were replaced by a concurrent "
                    f"overwrite/compaction; rewritten output left as "
                    f"orphans for vacuum")
            merged = new_files + [f for f in cur["files"]
                                  if f not in replaced]
            try:
                return self._commit(
                    merged, json.dumps(cur["schema"]), operation,
                    summary={"replaced_files": len(replaced), **summary},
                    stats=self._merged_stats(
                        cur, merged, self._new_file_stats(new_files)))
            except ConcurrentCommitError:
                continue  # an append won the race; re-merge and retry
        raise ConcurrentCommitError(
            f"{operation} lost the commit race {COMPACT_MAX_RETRIES} times "
            f"(steady concurrent appender?); rewritten output left as "
            f"orphans for vacuum — retry in a quieter window")

    def orphan_files(self) -> list[str]:
        """Data files referenced by NO retained snapshot (crash debris) —
        the input to a vacuum job."""
        referenced = {f for s in self.snapshots() for f in s["files"]}
        return sorted(f for f in os.listdir(self.data_dir)
                      if f.endswith(".parquet") and f not in referenced)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest `keep_last` snapshots' manifests (their
        exclusive data files become orphans for vacuum). The current snapshot
        is always retained."""
        snaps = self.snapshots()
        expire = snaps[:-keep_last] if keep_last > 0 else snaps[:-1]
        for s in expire:
            os.remove(os.path.join(self.meta_dir, f"snap-{s['snapshot_id']}.json"))
        return [s["snapshot_id"] for s in expire]

    def vacuum(self, grace_seconds: float = 3600.0) -> list[str]:
        """Delete data files no retained snapshot references, SKIPPING files
        younger than `grace_seconds` (Iceberg's remove_orphan_files
        older-than rule): an in-flight append writes its data files BEFORE
        its commit, so without the grace window a concurrent vacuum could
        delete files the imminent commit will reference — a torn table.
        grace_seconds=0 is only safe when no writer can be in flight
        (tests / single-writer maintenance windows).

        Also deletes the `_staging_<uuid>` directories that a writer killed
        mid-write leaves beside data/ (same grace rule). Returns the names
        of the removed files and directories."""
        now = time.time()
        removed = []
        paths = [os.path.join(self.data_dir, f) for f in self.orphan_files()]
        paths += [os.path.join(self.table_dir, d)
                  for d in sorted(os.listdir(self.table_dir))
                  if d.startswith("_staging_")]
        for p in paths:
            try:
                if now - os.path.getmtime(p) < grace_seconds:
                    continue
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
            except FileNotFoundError:
                continue  # another vacuum raced us — already gone
            removed.append(os.path.basename(p))
        return removed


class SchemaEvolutionError(ValueError):
    """An append's schema diverges from the table's in a way add-column
    evolution cannot represent (type change, dropped column, or a new
    NON-nullable column that older files cannot satisfy)."""


def _check_schema_evolution(table_schema: dict | None, df_schema) -> None:
    """Allow: identical schema, or a superset that only ADDS nullable
    columns. Refuse everything else loudly (see SchemaEvolutionError)."""
    if not (isinstance(table_schema, dict) and table_schema.get("fields")):
        return  # no Spark schema recorded (imported table): nothing to check
    old = {f["name"]: f["type"] for f in table_schema["fields"]}
    new_fields = {f.name: f for f in df_schema.fields}
    missing = [n for n in old if n not in new_fields]
    if missing:
        raise SchemaEvolutionError(
            f"append drops column(s) {missing}: an append-only table cannot "
            f"represent column removal (overwrite to restate the schema)")
    for name, old_type in old.items():
        new_type = new_fields[name].jsonValue()["type"]
        if new_type != old_type:
            raise SchemaEvolutionError(
                f"append changes column '{name}' type {old_type!r} -> "
                f"{new_type!r}: type evolution is not supported — older "
                f"files would fail or corrupt under the new read schema")
    for name, f in new_fields.items():
        if name not in old and not f.nullable:
            raise SchemaEvolutionError(
                f"appended new column '{name}' is non-nullable, but rows in "
                f"older files have no value for it — add it nullable")


def _footer_minmax(path: str, cols: tuple[str, ...]) -> dict:
    """{col: [min, max] | None} over every row group of one parquet file,
    from footer metadata only. A column is None (unprunable) when any row
    group lacks min/max statistics or the values don't round-trip JSON
    (bytes/temporal stats are skipped rather than approximated — pruning
    must never be lossy)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    agg: dict[str, list | None] = {c: None for c in cols}
    seen: dict[str, bool] = {c: False for c in cols}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if name not in agg:
                continue
            st = c.statistics
            if (st is None or not st.has_min_max
                    or not _json_safe(st.min) or not _json_safe(st.max)):
                agg[name] = None
                seen[name] = True  # poisoned: stays None
                continue
            if seen[name] and agg[name] is None:
                continue  # already poisoned by an earlier row group
            if agg[name] is None:
                agg[name] = [st.min, st.max]
            else:
                agg[name][0] = min(agg[name][0], st.min)
                agg[name][1] = max(agg[name][1], st.max)
            seen[name] = True
    return agg


def _json_safe(v) -> bool:
    import math

    if isinstance(v, float):
        return math.isfinite(v)  # NaN/Inf: not strict JSON, and NaN
        # comparisons are always-False — mark unprunable instead
    return isinstance(v, (int, str, bool))


def _apply_where(df: DataFrame, where: dict) -> DataFrame:
    """The exact residual range filter for a `where` spec (inclusive bounds,
    SQL BETWEEN semantics: NULLs never match) — pruning is only ever a
    performance win on top of this."""
    from pyspark.sql import functions as F

    for col, (lo, hi) in where.items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        if lo is None and hi is None:
            df = df.filter(F.col(col).isNotNull())
    return df


def _where_match_col(where: dict):
    """Boolean Column: the row matches EVERY range in `where` (the delete
    predicate). Never NULL by construction: each per-column test leads with
    isNotNull(), and in SQL three-valued logic FALSE AND NULL = FALSE — so
    ~match is cleanly TRUE for rows with a NULL in a where-column (NULLs
    never match, mirroring _apply_where's BETWEEN semantics, including the
    (None, None) = isNotNull probe)."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for col, (lo, hi) in where.items():
        c = F.col(col).isNotNull()
        if lo is not None:
            c = c & (F.col(col) >= F.lit(lo))
        if hi is not None:
            c = c & (F.col(col) <= F.lit(hi))
        cond = cond & c
    return cond


def _footer_all_match(md, where: dict) -> bool:
    """Metadata-only proof that EVERY row of a parquet file matches `where`:
    each where-column must have min/max stats with ZERO nulls in every row
    group, and [min, max] inside the range. Lets delete_where drop the file
    whole without a rewrite; any doubt (missing stats, nulls, incomparable
    types, column absent) → False, and the rewrite path — always correct,
    just slower — takes over."""
    per_col: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            per_col.setdefault(c.path_in_schema, []).append(c.statistics)
    for col, (lo, hi) in where.items():
        stats = per_col.get(col)
        if not stats or len(stats) != md.num_row_groups:
            return False
        for st in stats:
            if (st is None or not st.has_min_max
                    or st.null_count is None or st.null_count != 0):
                return False
            try:
                if lo is not None and st.min < lo:
                    return False
                if hi is not None and st.max > hi:
                    return False
            except TypeError:
                return False
    return True


def _file_may_match(fstats: dict | None, where: dict) -> bool:
    """Conservative overlap test: prune a file only when its recorded
    [min, max] provably misses the queried range; keep it on any missing or
    type-incompatible stat."""
    if not fstats:
        return True
    for col, (lo, hi) in where.items():
        s = fstats.get(col)
        if not s:
            continue
        mn, mx = s
        try:
            if hi is not None and mn > hi:
                return False
            if lo is not None and mx < lo:
                return False
        except TypeError:
            continue  # incomparable types: keep (never wrongly skip)
    return True


def source_fingerprint(path: str) -> str:
    """Content-identity digest of a parquet file-or-directory: sorted
    (relative name, size, mtime_ns) of every *.parquet under `path`, plus
    the normalized absolute path itself. Changes whenever the source data
    is regenerated in place — the staleness key for derived artifacts
    (snapshot-table imports, materialized ANN indexes) that must not
    silently serve results built from old data."""
    import hashlib

    root = os.path.realpath(path)
    entries = []
    if os.path.isfile(root):
        st = os.stat(root)
        entries.append((os.path.basename(root), st.st_size, st.st_mtime_ns))
    else:
        for dirpath, _dirs, files in os.walk(root):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    entries.append((os.path.relpath(p, root), st.st_size,
                                    st.st_mtime_ns))
    h = hashlib.sha256(repr((root, sorted(entries))).encode())
    return h.hexdigest()[:16]


def _parquet_files_under(path: str) -> list[str]:
    """Absolute paths of the *.parquet files of a parquet dataset dir (or
    the file itself)."""
    root = os.path.realpath(path)
    if os.path.isfile(root):
        return [root]
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".parquet"):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


def default_tables_root() -> str:
    """Where zero-copy imports live: build/tables under the repo root,
    overridable via AEZSPARK_TABLES_ROOT (tests point it at tmp dirs)."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.environ.get("AEZSPARK_TABLES_ROOT",
                          os.path.join(repo_root, "build", "tables"))


def imported_read(spark: SparkSession, src: str,
                  stat_cols: tuple[str, ...] | None = None) -> DataFrame:
    """Read a fixture/source parquet THROUGH the snapshot-table layer
    (north rule: every pipeline input is a table): zero-copy add_files
    import keyed by the source's content fingerprint, scan planned from
    the manifest. Same physical files, same plan shape → zero read
    overhead; regenerating the source in place yields a fresh import
    (staleness, U12). `stat_cols` records per-file min/max in the import
    manifest so read(where=) file-skipping works on these inputs too."""
    return ensure_imported_table(spark, src, default_tables_root(),
                                 stat_cols=stat_cols).read()


def ensure_imported_table(spark: SparkSession, src_path: str,
                          tables_root: str,
                          stat_cols: tuple[str, ...] | None = None) -> SnapshotTable:
    """Zero-copy import of an existing parquet dataset into a snapshot
    table (Iceberg's `add_files` migration procedure: register the EXISTING
    files in a manifest — no rewrite), so pipelines read via manifest
    planning instead of directory listing. Idempotent and staleness-safe:
    the table dir is keyed by `source_fingerprint(src_path)`, so
    regenerating the source in place produces a NEW table instead of
    silently serving the old import. Concurrent importers are resolved by
    the snapshot CAS — the loser just reads the winner's identical commit.

    The imported files live outside data/ (absolute paths in the manifest);
    like Iceberg add_files imports they are external: readers plan from
    them, but vacuum never touches them.

    `stat_cols` joins the table key: the manifest stats are written at the
    one-and-only import commit, so importers declaring different stat
    columns must not share a table (the first committer's stats would
    silently win). Imports are manifest-only (zero data copy), so the
    extra key costs a few KB of metadata."""
    fp = source_fingerprint(src_path)
    if stat_cols:
        import hashlib

        fp += "_s" + hashlib.md5(repr(tuple(stat_cols)).encode()).hexdigest()[:6]
    tbl = SnapshotTable(spark, os.path.join(tables_root, f"import_{fp}"),
                        stat_cols=stat_cols)
    if tbl.current_snapshot_id() is None:
        files = _parquet_files_under(src_path)
        if not files:
            raise FileNotFoundError(f"no parquet files under {src_path}")
        # footer-only schema read on the driver (no Spark job): the manifest
        # schema field is informational — read() plans from the file list
        import pyarrow.parquet as pq

        schema_json = json.dumps(
            {"format": "parquet",
             "arrow_schema": pq.read_schema(files[0]).to_string()})
        try:
            tbl._commit(files, schema_json, "add_files",
                        # stat_cols: footer-only min/max of the existing
                        # files (external=True: manifest stores absolute
                        # paths) — imported tables get read(where=) pruning
                        # like native ones, still zero data rewrite
                        stats=tbl._new_file_stats(files, external=True))
        except ConcurrentCommitError:
            pass  # a racing importer of the same fingerprint committed
                  # the identical file list — reuse it
    return tbl
