"""The flagship doc count has one production path, the fused kernel
(documents.assign_zone_counts: the JVM projects (doc_key, kinds, texts) per
document and one mapInArrow kernel, joins.doc_zone_partials, explodes and
parses the geo spans, matches, looks up tiles and dedups docs, so no span,
match row or doc id crosses the Arrow boundary or a shuffle). It must equal
the composed reference doc_zone_counts(with_aez(assign_documents(...)))
exactly, on every document shape, and its 'lat,lon' parse must give the
JVM parse's values (documents.geo_key_points). A kernel input smaller than
one max-size scan split runs as one wave of Python tasks, one per core; a
larger one keeps its scan splits."""

import struct
import sys
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from aezspark import documents as docs_mod, joins
from aezspark.geometry import BoundaryIndex, Polygon

DOC_SCHEMA = ("doc_id STRING, spans ARRAY<STRUCT<kind: STRING, text: STRING, "
              "media_ref: STRING, offset: INT>>")


def _docs(spark, rows, n_parts: int = 1):
    """A documents frame of (doc_id, spans) rows in n_parts partitions."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, n_parts),
                                 DOC_SCHEMA)


def _geo(text, offset: int = 0):
    return ("geo", text, "", offset)


def _composed(docs, world, index=None):
    assigned = docs_mod.assign_documents(docs, index or world.bidx)
    return docs_mod.doc_zone_counts(
        docs_mod.with_aez(assigned, world.tiles(), world.fine))


def _fused(docs, world, index=None):
    return docs_mod.assign_zone_counts(docs, index or world.bidx,
                                       world.tile_lookup(), world.fine)


def _as_dict(df):
    return {(r.country, r.aez_code): r.n_docs for r in df.collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _estimated_bytes(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


@contextmanager
def _conf(spark, key: str, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _max_partition_bytes(spark, n: int):
    return _conf(spark, "spark.sql.files.maxPartitionBytes", n)


def _many_split_docs(spark, n_parts: int):
    """40 docs per partition, in n_parts partitions, all inside the test
    square. Each doc has a text span and the same geo span twice."""
    geo = ("named_struct('kind', 'geo', 'text', concat('4.0,', "
           "CAST(4.0 + (id % 7) * 0.5 AS STRING)), 'media_ref', '', "
           "'offset', {})")
    return spark.range(0, 40 * n_parts, 1, n_parts).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        f"array({geo.format(0)}, named_struct('kind', 'text', 'text', 'x', "
        f"'media_ref', '', 'offset', 1), {geo.format(2)}) AS spans")


def _kernel_points(df) -> dict:
    """doc_key → (lat, lon) as the zone-count kernel parses df's documents
    (one geo span each), from the Arrow batches Spark hands it."""
    out = {}
    for batch in docs_mod.keyed_spans(df).toArrow().to_batches():
        keys, lat, lon = joins._geo_spans(batch)
        out.update(zip(keys.tolist(), zip(lat.tolist(), lon.tolist())))
    return out


def _same_double(a: float, b: float) -> bool:
    """Bit-equal, except that any two NaNs match (their payloads are not a
    value)."""
    return (a != a and b != b) or struct.pack("<d", a) == struct.pack("<d", b)


def test_fused_plan_has_no_wide_shuffle_of_doc_ids(spark, world):
    """The fused plan's only Exchange carries (country, aez_code, n)
    partials — neither doc_id nor its doc_key surrogate may appear in any
    exchanged schema."""
    plan = _plan(_fused(world.documents(), world))
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchanges
    for line in exchanges:
        assert "doc_key" not in line and "doc_id" not in line, line


def test_fused_plan_reads_two_span_fields_and_explodes_nothing(spark, world):
    """The kernel starts from the document row: no Generate in the plan, one
    MapInArrow, and nested pruning reaches the scan, which reads doc_id,
    spans.kind and spans.text only."""
    from tools.plan_audit import fmt_plan

    plan = fmt_plan(_fused(world.documents(), world))
    assert "Generate" not in plan
    assert plan.count("MapInArrow") >= 1 and "MapInPandas" not in plan
    schemas = [l.strip() for l in plan.splitlines() if "ReadSchema" in l]
    assert schemas == ["ReadSchema: struct<doc_id:string,spans:array<"
                       "struct<kind:string,text:string>>>"]


def test_multi_partition_documents_count_each_doc_once(spark, world):
    """Documents in many kernel partitions (no coalesce), each with the same
    geo span twice: every doc is one input row, so it is counted once per
    zone, as in the composed reference."""
    cores = spark.sparkContext.defaultParallelism
    docs = _many_split_docs(spark, 3 * cores)
    with _max_partition_bytes(spark, 1):
        kernel = joins.doc_zone_partials(docs_mod.keyed_spans(docs),
                                         world.bidx, world.tile_lookup(),
                                         world.fine)
        assert kernel.rdd.getNumPartitions() == 3 * cores
        fused = _as_dict(_fused(docs, world))
    assert fused == _as_dict(_composed(docs, world))
    assert sum(fused.values()) >= docs.count()


def test_fused_kernel_equals_composed(spark, world):
    """assign_zone_counts — span parse, dedup and partial count fused into
    one kernel, tile codes from the shard-manifest lookup — must equal the
    composed pipeline (broadcast with_aez join) exactly."""
    fused = _as_dict(_fused(world.documents(), world))
    composed = _as_dict(_composed(world.documents(), world))
    assert fused == composed and sum(fused.values()) > 0


def test_document_shapes_equal_composed(spark, world):
    """Null spans, an empty list, a doc without geo spans, a geo span with
    null text, spans with a null kind or a null struct, and a doc with two
    geo spans in one zone (counted once) all count as in the composed
    reference."""
    rows = [
        ("null_spans", None),
        ("empty", []),
        ("text_only", [("text", "hello", "", 0)]),
        ("geo_null_text", [_geo(None)]),
        ("null_kind", [(None, "4.0,4.0", "", 0)]),
        ("two_in_one_zone", [_geo("4.0,4.0"), ("text", "x", "", 1),
                             _geo("4.0,4.0", 2)]),
        ("null_span", [None, _geo("4.0,5.5", 1)]),
        ("one", [_geo("4.0,6.0")]),
    ]
    docs = _docs(spark, rows, 2)
    fused = _as_dict(_fused(docs, world))
    assert fused == _as_dict(_composed(docs, world))
    # three docs carry a parseable geo span, each inside one test polygon
    assert sum(fused.values()) == 3


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
    """Anything but a Broadcast of TileShardLookup — an old (cells, codes)
    array broadcast, or an unbroadcast manifest — is refused at plan-build
    time, not as an AttributeError inside a Python worker; so is a missing
    fine grid."""
    docs = world.documents()
    tl = world.tile_lookup()
    arrays = spark.sparkContext.broadcast(
        (np.array([], dtype=np.int64), np.array([], dtype=np.int32)))
    for bad in (arrays, tl.value):
        with pytest.raises(ValueError, match="World.tile_lookup"):
            docs_mod.assign_zone_counts(docs, world.bidx, bad, world.fine)
    with pytest.raises(ValueError, match="requires the fine grid"):
        docs_mod.assign_zone_counts(docs, world.bidx, tl, None)


def test_fused_kernel_compaction_budget_parity(spark, world, monkeypatch):
    """The incremental-compaction path (pending pairs > budget → in-place
    concat+dedup) must be output-identical to the unlimited path — budget=1
    forces a compaction after every slice."""
    base = _as_dict(_fused(world.documents(), world))
    monkeypatch.setattr(joins, "ZC_DEDUP_BUDGET_ROWS", 1)
    tight = _as_dict(_fused(world.documents(), world))
    assert tight == base and sum(base.values()) > 0


def test_parsed_points_are_matched_in_batch_size_slices(spark, world,
                                                        monkeypatch):
    """A batch of documents parses into more points than it has rows; the
    kernel matches them in slices of at most maxRecordsPerBatch points, and
    a doc whose two spans land in different slices is still counted once."""
    docs = _many_split_docs(spark, 1)
    batches = docs_mod.keyed_spans(docs).toArrow().to_batches()
    n_points = sum(len(joins._geo_spans(b)[0]) for b in batches)
    assert n_points == 2 * docs.count()
    idx = world.bidx.value
    tl = world.tile_lookup().value
    sizes = []
    match = joins._match_arrays

    def spy(index, lon, lat, knn_fallback):
        sizes.append(len(lon))
        return match(index, lon, lat, knn_fallback)

    def partials(slice_rows):
        out = list(joins._zone_partials(iter(batches), idx, tl, world.fine,
                                        joins.ZC_DEDUP_BUDGET_ROWS,
                                        slice_rows))
        return pa.Table.from_batches(out).sort_by("aez_code").to_pylist()

    whole = partials(sys.maxsize)
    monkeypatch.setattr(joins, "_match_arrays", spy)
    sliced = partials(3)
    assert sizes and max(sizes) <= 3 and sum(sizes) == n_points
    assert sliced == whole and sum(r["n_docs"] for r in whole) >= docs.count()
    # the session's batch size is what the Spark plan slices by
    base = _as_dict(_fused(docs, world))
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", 3):
        assert _as_dict(_fused(docs, world)) == base


def test_fused_kernel_null_country_is_true_null(spark, world):
    """A null-country polygon must emit country=NULL from the fused
    zone-count path, matching the rows path — not the literal 'None'
    (round-4 ADVICE: astype(str) minted 'None')."""
    sq = lambda x0: (np.array([x0, x0 + 8.0, x0 + 8.0, x0, x0]),
                     np.array([0.0, 0.0, 8.0, 8.0, 0.0]))
    idx = BoundaryIndex([Polygon(1, None, *sq(0.0)), Polygon(2, "X", *sq(20.0))])
    docs = _docs(spark, [("1", [_geo("4.0,4.0")]), ("2", [_geo("4.0,24.0")])])
    counts = {r.country: r.n_docs
              for r in _fused(docs, world, idx).groupBy("country")
              .agg(F.sum("n_docs").alias("n_docs")).collect()}
    assert counts == {None: 1, "X": 1}
    rows = docs_mod.assign_documents(docs, idx)
    assert {r.country for r in rows.select("country").collect()} == {None, "X"}


def test_kernel_parse_equals_jvm_parse(spark):
    """One geo span per doc: the kernel's pyarrow parse gives the JVM's
    split + CAST value for each of these texts, bit for bit (NaN for NaN),
    under the same doc_key. Java's trim strips U+0000..U+0020, so control
    characters at the ends are accepted on both sides."""
    texts = [" 1.5 , 2 ", "+1.5,-2", "1e1,2E-1", ".5,5.", "NaN,nan",
             "Infinity,-Infinity", "+inf,+Infinity", "1,2,3", "\t1.5\n,2",
             "-0,0", "\x011.5,2\x1f", "INF,-NaN"]
    df = _docs(spark, [(str(i), [_geo(t)]) for i, t in enumerate(texts)])
    jvm = {r.doc_key: (r.lat, r.lon)
           for r in docs_mod.geo_key_points(df).collect()}
    kernel = _kernel_points(df)
    assert len(jvm) == len(texts) and kernel.keys() == jvm.keys()
    for key, (lat, lon) in jvm.items():
        assert (_same_double(kernel[key][0], lat)
                and _same_double(kernel[key][1], lon)), (key, jvm[key],
                                                          kernel[key])


@pytest.mark.parametrize("text", ["abc,1", "1", "", " ,1", "1_0,2",
                                  "1.5,2\xa0"])
def test_malformed_geo_span_raises_on_both_sides(spark, text):
    """ANSI casts raise on a malformed span, and so does the kernel: neither
    drops it silently. '2\\xa0' (a no-break space) fails the JVM's trim, so
    a Unicode trim in the kernel would accept it and fail this test."""
    df = _docs(spark, [("d", [_geo(text)])])
    with pytest.raises(Exception):
        docs_mod.geo_key_points(df).collect()
    with pytest.raises(pa.ArrowInvalid):
        _kernel_points(df)


def test_java_only_float_syntax_is_the_one_difference(spark, world):
    """Java's Double.valueOf accepts a type suffix and hex floats, which the
    kernel's parse does not: the one allowed difference, and a loud one —
    the flagship job fails rather than dropping or misreading the span."""
    for text, want in (("1d,2", (1.0, 2.0)), ("0x1p3,1", (8.0, 1.0))):
        df = _docs(spark, [("d", [_geo(text)])])
        got = docs_mod.geo_key_points(df).collect()
        assert [(r.lat, r.lon) for r in got] == [want]
        with pytest.raises(pa.ArrowInvalid):
            _kernel_points(df)
    with pytest.raises(Exception, match="ArrowInvalid"):
        _fused(df, world).collect()


def test_small_kernel_input_runs_one_wave(spark, world):
    """The fixture docs are far below one max-size split: the fused plan
    coalesces the kernel input to defaultParallelism (a narrow Coalesce, no
    Exchange below the kernel), and a documents input planned as 3 × cores
    partitions reaches the kernel as one task per core."""
    cores = spark.sparkContext.defaultParallelism
    plan = _plan(_fused(world.documents(), world))
    assert f"Coalesce {cores}" in plan
    below_kernel = plan[plan.index("MapInArrow"):]
    assert "Exchange" not in below_kernel
    docs = _many_split_docs(spark, 3 * cores)
    assert docs.rdd.getNumPartitions() == 3 * cores
    kernel = joins.doc_zone_partials(docs_mod.keyed_spans(docs), world.bidx,
                                     world.tile_lookup(), world.fine)
    assert kernel.rdd.getNumPartitions() == cores


def test_kernel_input_of_one_split_or_more_keeps_its_splits(spark, world):
    """The rule's boundary: a document projection estimated at
    maxPartitionBytes or more is left as the scan planned it (no Coalesce),
    one byte less coalesces, and the zone counts are equal either way."""
    cores = spark.sparkContext.defaultParallelism
    docs = world.documents()
    base = _as_dict(_fused(docs, world))
    size = _estimated_bytes(docs_mod.keyed_spans(docs))
    with _max_partition_bytes(spark, size):
        fused = _fused(docs, world)
        assert "Coalesce" not in _plan(fused)
        assert _as_dict(fused) == base and sum(base.values()) > 0
    with _max_partition_bytes(spark, size + 1):
        assert f"Coalesce {cores}" in _plan(_fused(docs, world))
    many = docs_mod.keyed_spans(_many_split_docs(spark, 3 * cores))
    with _max_partition_bytes(spark, _estimated_bytes(many)):
        kernel = joins.doc_zone_partials(many, world.bidx,
                                         world.tile_lookup(), world.fine)
        assert kernel.rdd.getNumPartitions() == 3 * cores


def test_streaming_kernel_input_is_not_coalesced(spark):
    """A streaming input has no finite size estimate: it passes through."""
    stream = spark.readStream.format("rate").load()
    assert joins._one_wave(stream) is stream
