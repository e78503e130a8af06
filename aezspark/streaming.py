"""Incremental document ingestion via Structured Streaming.

The reference is strictly batch (`__main__` scripts, process_imagery.py:511-516)
— SURVEY §2.7 records "no streaming semantics". The engine nevertheless exposes
the natural streaming surface a live corpus needs: a file-source stream of
document parquet drops, enriched micro-batch by micro-batch with the SAME
fused flagship kernel as the batch path (foreachBatch →
documents.assign_zone_counts), with counts appended to a snapshot-table sink
(enrich_stream_to_table). Exactly-once comes from the streaming checkpoint +
the sink's skip of already-committed batch ids.

Late data / watermarks are N/A for this corpus (documents carry no event
time); the offset column orders spans WITHIN a doc, not across the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import documents as docs_mod

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]))),
])


def stream_documents(spark: SparkSession, in_dir: str,
                     max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over a directory receiving documents parquet drops."""
    return (spark.readStream
            .schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(in_dir))


def _max_stream_batch_id(tbl) -> int:
    """Highest stream batch_id ever committed to `tbl` (-1 for none).
    O(1): read from the current snapshot's `max_stream_batch_id` table
    property."""
    return int(tbl.properties().get("max_stream_batch_id", -1))


def enrich_stream_to_table(docs_stream: DataFrame, bidx, tile_lookup, fine,
                           table_dir: str, checkpoint_dir: str):
    """Streaming zone-count ingestion into a SNAPSHOT TABLE (north rule
    end-to-end: the streaming sink is the Iceberg-style layer too): each
    micro-batch runs the SAME fused flagship kernel as the batch path
    (documents.assign_zone_counts: one Arrow pass doing PIP + kNN + tile
    lookup + partition-local dedup + partial count; the only shuffle carries
    (country, aez_code, n) partials) and APPENDS one atomic
    snapshot whose manifest records the stream batch_id. foreachBatch is
    at-least-once — a recovered stream can replay its last batch — so the
    sink SKIPS any batch_id it has already committed: at-least-once delivery
    + idempotent commit = exactly-once at the table level, the same scheme
    as Iceberg's streaming sinks.

    The already-committed check is O(1) and expiry-safe (ADVICE r5,
    Iceberg's approach): each commit publishes a monotonic
    `max_stream_batch_id` TABLE PROPERTY — carried forward by every later
    snapshot, including compaction replaces — so the sink reads ONE manifest
    (the current snapshot) instead of rescanning the whole chain each
    micro-batch, and a fresh-checkpoint full replay after expire_snapshots
    removed the old append manifests still commits nothing (batch ids
    restart below the watermark). Readers always see complete snapshots
    (manifest CAS), and time travel recovers any per-batch state.
    """
    from .tables import SnapshotTable

    def process(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        # stat_cols: each micro-batch file carries country min/max in the
        # manifest, so a downstream read(where={'country': ...}) prunes
        # whole batch files without opening them (tables.py scan planning)
        tbl = SnapshotTable(batch_df.sparkSession, table_dir,
                            stat_cols=("country",))
        if batch_id <= _max_stream_batch_id(tbl):
            return  # replayed batch: already committed, skip (idempotent)
        counts = (docs_mod.assign_zone_counts(batch_df, bidx, tile_lookup,
                                              fine)
                  .withColumn("batch_id", F.lit(batch_id)))
        tbl.append(counts, summary={"stream_batch_id": batch_id},
                   properties={"max_stream_batch_id": batch_id})

    return (docs_stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def read_zone_counts_table(spark: SparkSession, table_dir: str,
                           country: str | None = None) -> DataFrame:
    """Merged view over the snapshot-table stream sink: a manifest-planned
    read of the current snapshot, summed per (country, aez_code) — a doc
    lands in one micro-batch only (file-source semantics), so the sum is
    exact.

    `country` routes through the manifest's per-file min/max stats
    (`read(where=...)`): micro-batch files whose country range provably
    misses are never opened — the point of the sink's stat_cols."""
    from .tables import SnapshotTable

    tbl = SnapshotTable(spark, table_dir)
    where = {"country": (country, country)} if country is not None else None
    df = tbl.read(where=where)
    return (df.groupBy("country", "aez_code")
            .agg(F.sum("n_docs").alias("n_docs")))


def doc_content_hash(spans_col: str = "spans"):
    """Doc-level content key: md5 over the ordered span sequence — each span
    contributes (kind, text, media_ref) joined by \\x1e, spans joined by \\x1f
    (engine-portable: the DuckDB oracle mirrors it with list_transform +
    array_to_string + chr())."""
    return F.md5(F.concat_ws(
        "\x1f",
        F.transform(spans_col, lambda s: F.concat_ws(
            "\x1e", s["kind"], s["text"], s["media_ref"]))))


def streaming_exact_dedup(docs_stream: DataFrame, ttl_ms: int | None = None):
    """Custom STATEFUL streaming operator (applyInPandasWithState): exact
    dedup across micro-batches. State per text-hash group = the canonical
    (first-seen) doc_id; later arrivals of the same text emit nothing. This
    is the streaming form of corpus.exact_dedup — at 100 TB the state store
    shards by the hash key across executors, and only first-sightings flow
    downstream.

    Emits (text_hash, canonical_doc_id) once per newly-seen hash. Determinism
    within a micro-batch: the lexicographically smallest doc_id of the batch
    group wins (matches exact_dedup's min(doc_id) semantics); across batches,
    first batch wins (arrival order — inherent to streaming; pin the file→
    batch order, e.g. one shard per trigger in mtime order, and first-seen
    becomes fully SQL-expressible — the driver oracle does exactly that).

    The dedup key is a DOC-LEVEL hash: md5 over the full span sequence
    (kind, text, media_ref per span, in array order). Hashing only
    spans[0].text would collapse every doc whose first span is media (text '')
    into one group — a different operator than batch exact_dedup.

    STATE LIFECYCLE (ttl_ms): the default (None) keeps one state entry per
    distinct doc hash FOREVER — at 10¹² docs that is the whole corpus in the
    state store (~50 B/entry → tens of TB across executors), fine for a
    bounded backfill, wrong for an endless stream. ttl_ms sets a sliding
    processing-time TTL per hash: every sighting restarts the clock, and a
    hash unseen for ttl_ms is EVICTED (ProcessingTimeTimeout removes it at
    the end of a later micro-batch), after which the next sighting re-emits
    as first-seen. Re-emission is enforced by a last-seen timestamp stored
    IN the state, not just by eviction timing: a re-arrival after the TTL
    re-emits even if the state-store cleanup has not fired yet, so the
    visible semantics are exactly 'first sighting per hash per TTL window'.
    State size is then bounded by the distinct hashes per TTL window
    (arrival-rate × window, not corpus size). The two modes share one state
    schema; checkpoints carry across a ttl change but not across engine
    versions older than this field."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = docs_stream.select(doc_content_hash().alias("text_hash"), "doc_id")

    out_schema = T.StructType([
        T.StructField("text_hash", T.StringType()),
        T.StructField("canonical_doc_id", T.StringType()),
    ])
    state_schema = T.StructType([
        T.StructField("canonical_doc_id", T.StringType()),
        T.StructField("last_seen_ms", T.LongType()),
    ])

    def dedup_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # TTL expired with no new sighting: evict — the next sighting of
            # this hash becomes a fresh first-seen
            state.remove()
            return iter(())
        best = None
        for pdf in pdfs:
            if len(pdf):
                m = pdf["doc_id"].min()
                best = m if best is None else min(best, m)
        if best is None:
            return iter(())
        now = state.getCurrentProcessingTimeMs() if ttl_ms is not None else 0
        if state.exists:
            prev_doc, last_seen = state.get
            expired = ttl_ms is not None and now - last_seen > ttl_ms
            state.update((best if expired else prev_doc, now))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            if not expired:
                return iter(())
            return iter([pd.DataFrame({"text_hash": [key[0]],
                                       "canonical_doc_id": [best]})])
        state.update((best, now))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        return iter([pd.DataFrame({"text_hash": [key[0]],
                                   "canonical_doc_id": [best]})])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (hashed.groupBy("text_hash")
            .applyInPandasWithState(dedup_fn, out_schema, state_schema,
                                    "append", timeout))
