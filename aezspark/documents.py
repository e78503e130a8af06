"""Interleaved text+media document corpus: the engine-mandated input path.

BASELINE.json input_hint: documents(doc_id string, spans array<struct<kind,
text,media_ref,offset>>). Geo-bearing spans are the points fed to the spatial
join (span extraction → H3/S2-style cell index → broadcast PIP join →
kNN nearest-zone fallback → AEZ tile enrichment → zonal doc aggregation), all
with built-in functions + Arrow-vectorized kernels — no per-row Python.

Per-row invariant (input_hint): after any engine transformation the per-doc
span sequence (kind, text, media_ref, order-by-offset) is equal to the input.
Enrichment therefore NEVER rewrites `spans`; zone data rides in new columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import cellindex
from .grid import GridSpec, lonlat_to_cell_col
from .joins import assign_points


def explode_spans(docs: DataFrame) -> DataFrame:
    """posexplode keeps the span position — the invariant's order witness."""
    return (docs.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
            .select("doc_id", "span_idx",
                    F.col("span.kind").alias("kind"),
                    F.col("span.text").alias("text"),
                    F.col("span.media_ref").alias("media_ref"),
                    F.col("span.offset").alias("offset")))


def geo_points(docs: DataFrame) -> DataFrame:
    """Geo spans → typed points. The 'lat,lon' text parse is pure Column ops
    (split + cast), pushed into codegen."""
    s = explode_spans(docs).filter(F.col("kind") == "geo")
    parts = F.split(F.col("text"), ",")
    return (s.select("doc_id", "span_idx", "offset",
                     parts.getItem(0).cast("double").alias("lat"),
                     parts.getItem(1).cast("double").alias("lon"))
            .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull()))


def indexed_points(docs: DataFrame, index_res: int = 6) -> DataFrame:
    """Points + H3/S2-style cell id at `index_res` (north_rule primitive #1);
    Column-only bit arithmetic, no UDF."""
    pts = geo_points(docs)
    return pts.withColumn(
        "index_cell", cellindex.encode_col(F.col("lat"), F.col("lon"), index_res))


def geo_key_points(docs: DataFrame) -> DataFrame:
    """Minimal fused-path projection: (doc_key, lat, lon) — the count-only
    consumer's input. Differences vs geo_points that matter at 20M+ docs/8c,
    where the JVM scan+parse stage is itself bandwidth-bound:
      * doc_id is hashed to int64 BEFORE the explode (one xxhash64 per doc,
        and the exploded span rows carry 8-byte keys through the JVM
        pipeline instead of doc_id strings);
      * explode, not posexplode — span_idx is dead weight for a count.
    Values: identical zone counts (the key is per-doc constant), pinned by
    tests/test_doc_zone_counts.py fused-vs-composed parity."""
    s = (docs.select(F.xxhash64("doc_id").alias("doc_key"),
                     F.explode("spans").alias("span"))
         .filter(F.col("span.kind") == "geo"))
    parts = F.split(F.col("span.text"), ",")
    return (s.select("doc_key",
                     parts.getItem(0).cast("double").alias("lat"),
                     parts.getItem(1).cast("double").alias("lon"))
            .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull()))


def assign_documents(docs: DataFrame, index, index_res: int = 6,
                     knn_fallback: bool = True) -> DataFrame:
    """Broadcast PIP join of every geo span against the boundary dim,
    with kNN nearest-zone fallback for points inside no polygon.

    `index` is a BoundaryIndex or a Broadcast of one. Output: one row per
    (geo span × containing feature) plus one kNN row per unmatched span.
    """
    pts = indexed_points(docs, index_res)
    # project the kernel payload to what downstream consumers read
    # (doc_id, span_idx for identity; lat/lon for with_aez's tile key):
    # mapInPandas ships its ENTIRE input schema across the Arrow boundary
    # both ways, so offset/index_cell would otherwise ride every batch for
    # nothing (guide §4.1). index_cell remains
    # available via indexed_points for partition-keying consumers
    # (jobs/run_aez.py builds it there).
    return assign_points(pts, index, knn_fallback=knn_fallback,
                         project=["doc_id", "span_idx", "lat", "lon"])


def assign_zone_counts(docs: DataFrame, index, tile_lookup,
                       fine: GridSpec) -> DataFrame:
    """The fully-fused flagship aggregation: span explode → geo parse → cell
    index → ONE Arrow kernel doing PIP + kNN + shard-manifest tile lookup
    (`tile_lookup`: World.tile_lookup() or joins.tile_shard_lookup) +
    partition-local distinct-doc dedup + partial zonal count — match rows
    NEVER cross the Arrow boundary; each partition emits only (country,
    aez_code, n) partials and the single shuffle carries those few-thousand
    rows. Identical values to doc_zone_counts(with_aez(assign_documents(...)))
    (tests/test_doc_zone_counts.py pins the parity).

    The kernel input is projected to exactly (doc_key, lat, lon) — span_idx /
    offset / index_cell are dead weight for a count-only consumer, and
    mapInPandas transfers its ENTIRE input schema across the Arrow boundary
    (Catalyst cannot prune into a Python kernel), so the projection must
    happen before the kernel, not inside it.

    doc_key = xxhash64(doc_id), computed JVM-side: the count only needs doc
    DISTINCTNESS, so an int64 surrogate replaces the doc_id string in the
    Arrow payload (8 bytes vs ~20 + offsets on this bus-bound stage) and
    turns the kernel's dedup into int64-column hashing instead
    of pandas object rows. Collision cost: two docs in the same zone cell
    colliding merge into one count — P(any collision) ≈ n²/2⁶⁵ ≈ 1e-5 at 20M
    docs, zero observed at fixture scale (the driver hash-gate would catch
    one). Exact-key consumers use emit='rows' + doc_zone_counts. The hash is
    applied BEFORE the span explode (geo_key_points), so the JVM parse
    stage streams int64 keys, not doc_id strings."""
    pts = geo_key_points(docs)
    partials = assign_points(pts, index, tile_lookup=tile_lookup, fine=fine,
                             project=["doc_key"], emit="zone_counts",
                             doc_col="doc_key")
    return (partials.groupBy("country", "aez_code")
            .agg(F.sum("n_docs").alias("n_docs")))


def with_aez(assigned: DataFrame, tiles_df: DataFrame, fine: GridSpec) -> DataFrame:
    """Enrich assigned points with the AEZ tile code of their fine-grid pixel:
    a broadcast equi-join against the tiles table; blank = 255 (C_TMR_BLNK,
    process_imagery.py:41).

    The composed, row-level form: it keeps every input column, so it serves
    the per-span outputs (the docs phase of jobs/run_aez.py, the assigned-row
    queries) and is the reference the fused kernel is tested against. The
    fused flagship (assign_zone_counts) uses the shard-manifest lookup
    instead, which needs no tile dim in executor memory."""
    pts = assigned.withColumn(
        "fine_cell_id", lonlat_to_cell_col(fine, F.col("lat"), F.col("lon")))
    # blank (255) tiles need not be joined at all — the left-join coalesce
    # reproduces them; dropping them shrinks the dim to land tiles only
    t = (tiles_df.filter(F.col("aez_code") != 255)
         .select(F.col("cell_id").alias("fine_cell_id"), "aez_code"))
    return (pts.join(F.broadcast(t), "fine_cell_id", "left")
            .withColumn("aez_code", F.coalesce(F.col("aez_code"), F.lit(255))))


def enrich_documents(docs: DataFrame, assigned: DataFrame) -> DataFrame:
    """Re-assemble per-doc zone annotations WITHOUT touching `spans`:
    zones = array of (span_idx, feature_id, country, aez_code) sorted by
    (span_idx, feature_id) for determinism. The spans column is carried
    through untouched — the invariant holds by construction and is verified
    by tests anyway."""
    zone_struct = F.struct("span_idx", "feature_id", "country",
                           *( ["aez_code"] if "aez_code" in assigned.columns else [] ))
    zones = (assigned.groupBy("doc_id")
             .agg(F.sort_array(F.collect_list(zone_struct)).alias("zones")))
    return docs.join(zones, "doc_id", "left")


def span_invariant_violations(docs_in: DataFrame, docs_out: DataFrame) -> int:
    """Count docs whose (kind, text, media_ref) sequence ordered by offset
    differs between input and output — must be 0 (input_hint invariant)."""
    def canon(df, alias):
        seq = F.transform(
            F.array_sort(
                F.transform("spans", lambda s: F.struct(
                    s["offset"].alias("offset"), s["kind"].alias("kind"),
                    s["text"].alias("text"), s["media_ref"].alias("media_ref")))),
            lambda s: F.concat_ws("", s["kind"], s["text"], s["media_ref"]))
        return df.select("doc_id", seq.alias(alias))

    a = canon(docs_in, "seq_in")
    b = canon(docs_out, "seq_out")
    joined = a.join(b, "doc_id", "full")
    return joined.filter(
        F.col("seq_in").isNull() | F.col("seq_out").isNull()
        | (F.col("seq_in") != F.col("seq_out"))).count()


def doc_zone_counts(assigned_aez: DataFrame) -> DataFrame:
    """Zonal doc aggregation: distinct documents per (country, aez_code).

    The composed reference form: a global distinct over (country, aez_code,
    doc_id), then the (country, aez_code) count. Its shuffle key includes the
    high-cardinality doc_id, so a hot country is spread over all reducers;
    the final count runs on the deduplicated set with map-side partial
    aggregation. The production path is assign_zone_counts, which dedups
    inside the assign kernel; tests/test_doc_zone_counts.py pins the two
    equal."""
    distinct = (assigned_aez
                .select("country", "aez_code", "doc_id")
                .distinct())
    return (distinct.groupBy("country", "aez_code")
            .agg(F.count("*").alias("n_docs")))
