"""Driver contract for the spark-graft builder (PySpark target).

Three surfaces:
  entry(spark)    flagship: interleaved docs derived from sf0.001 → span
                  extraction → broadcast PIP join → kNN fallback → AEZ
                  tile lookup → zonal doc counts, fused into one Arrow
                  kernel (documents.assign_zone_counts).
  queries()       one entry per implemented operator (SURVEY.md §2): relational
                  core on the driver's TPC-H-ish tables, training-data corpus
                  ops (dedup / similarity / text analysis / multimodal), and
                  the spatial engine queries checked against the numpy
                  reference-oracle's expected_* parquet.
  oracle_sql()    DuckDB-equivalent SQL per query. Spatial queries' oracles
                  read the oracle-produced expected parquet (an independent
                  numpy implementation of the reference semantics — not Spark).

Column names and rounding are aligned on both sides; floats are rounded
(2 decimals for km², 6 for scores/ratios) so the order-insensitive value-hash
is stable across engines.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

from aezspark import corpus, documents as docs_mod
from aezspark.fixtures.generate import DEFAULT_DIR, ensure_fixtures
from aezspark.grid import GridSpec, km2_col

_BUILD = os.path.join(os.path.dirname(os.path.abspath(__file__)), "build")
FX_DIR = DEFAULT_DIR

_WORLDS: dict[int, object] = {}


def _world(spark: SparkSession):
    from aezspark.pipelines import World

    key = id(spark)
    if key not in _WORLDS:
        _WORLDS[key] = World(spark, ensure_fixtures(FX_DIR))
    return _WORLDS[key]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN embeddings corpus through the snapshot-table layer (VERDICT
    r5 #6 — every pipeline input is a table): zero-copy manifest import
    with per-file vec_id min/max stats, so the staleness story (U12) and
    manifest file-skipping cover the similarity-search inputs too. Same
    physical files → identical rows to the raw read (the oracle keeps
    reading raw parquet, which is the independence we want)."""
    from aezspark.tables import imported_read

    return imported_read(spark, os.path.join(sf_dir, "embeddings.parquet"),
                         stat_cols=("vec_id",))


def _r(col, n=2):
    return F.round(col, n)


# =====================================================================
# entry
# =====================================================================

def _interleaved_docs(spark: SparkSession) -> DataFrame:
    """The flagship's input: interleaved documents
    deterministically derived from /root/testdata/sf0.001/documents.parquet
    (text span + md5-derived geo span per doc)."""
    sf_dir = "/root/testdata/sf0.001"
    flat = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    h = F.md5(did)
    lat = F.lit(-60.0) + F.lit(120.0) * (F.conv(F.substring(h, 1, 6), 16, 10)
                                         .cast("double") / F.lit(16777215.0))
    lon = F.lit(-180.0) + F.lit(360.0) * (F.conv(F.substring(h, 7, 6), 16, 10)
                                          .cast("double") / F.lit(16777215.0))
    span_t = F.struct(F.lit("text").alias("kind"), F.col("text").alias("text"),
                      F.lit("").alias("media_ref"), F.lit(0).alias("offset"))
    span_g = F.struct(F.lit("geo").alias("kind"),
                      F.format_string("%.6f,%.6f", lat, lon).alias("text"),
                      F.lit("").alias("media_ref"), F.lit(1).alias("offset"))
    return flat.select(did.alias("doc_id"),
                       F.array(span_t, span_g).alias("spans"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial-join + tile pipeline over the interleaved documents
    of `_interleaved_docs`, returning docs per (country, aez_code) through
    the fused kernel that sp_doc_zone_counts benches and oracles."""
    w = _world(spark)
    return (docs_mod.assign_zone_counts(_interleaved_docs(spark), w.bidx,
                                        w.tile_lookup(), w.fine)
            .orderBy("country", "aez_code"))


# =====================================================================
# relational core (driver tables)
# =====================================================================

def q_pricing_summary(spark, sf_dir):
    """A1/A3: grouped sums with predicate pushdown (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(_r(F.sum("l_quantity")).alias("sum_qty"),
                 _r(F.sum("l_extendedprice")).alias("sum_base_price"),
                 _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


def q_pivot_priority(spark, sf_dir):
    """A5: pivot as conditional sums (classes → columns)."""
    o = _t(spark, sf_dir, "orders")
    def cs(p):
        return _r(F.sum(F.when(F.col("o_orderpriority") == p, F.col("o_totalprice"))))
    return (o.groupBy("o_orderstatus")
            .agg(cs("1-URGENT").alias("urgent"), cs("2-HIGH").alias("high"),
                 cs("3-MEDIUM").alias("medium"), cs("4-NOT SPECIFIED").alias("notspec"),
                 cs("5-LOW").alias("low")))


def q_revenue_by_nation(spark, sf_dir):
    """J2: multi-way equi-join lineitem⋈orders⋈customer⋈nation⋈region.

    r7: lineitem is pre-aggregated at ORDER grain before the joins, so the
    old countDistinct(o_orderkey) — a 4-phase aggregate whose extra
    distinct Exchange carried (r_name, n_name, o_orderkey) string keys and
    cost more than the joins themselves (measured +1.1 s on a 0.6 s
    join+agg) — becomes a plain count(*) over one-row-per-order input.
    Same values: n_orders counts orders with >= 1 lineitem either way, and
    revenue was ALREADY partial-summed per (group, o_orderkey) by the
    distinct-aggregate plan, so the order-grain pre-sum is the same
    grouping the old plan used internally (hash-verified vs the unchanged
    DuckDB oracle at sf0.001/0.01/0.1). At scale this is guide §2.3
    'aggregate before you shuffle': the exchange moves one row per order,
    keyed by a long, instead of one per lineitem keyed by strings."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    li_agg = (li.groupBy("l_orderkey")
              .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                   .alias("_rev")))
    return (li_agg.join(o, li_agg.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(_r(F.sum("_rev")).alias("revenue"),
                 F.count("*").alias("n_orders")))


def q_broadcast_part_join(spark, sf_dir):
    """J5/P3: broadcast dim join with pushed filter."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .groupBy("p_brand")
            .agg(_r(F.sum("l_quantity")).alias("sum_qty"),
                 F.count("*").alias("n_items")))


def q_region_rollup(spark, sf_dir):
    """J3/A4 analog: dim-explode rollup customer→nation→region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_customers"),
                 _r(F.sum("c_acctbal")).alias("acctbal")))


def q_latest_event_per_user(spark, sf_dir):
    """W2: last-writer-wins via row_number over desc ordering."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_id").alias("last_event_id"),
                    F.col("event_type").alias("last_type"),
                    _r(F.col("value"), 6).alias("last_value")))


def q_plurality_event_type(spark, sf_dir):
    """W1: plurality vote with deterministic tie precedence."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type").asc())
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("top_type"), "cnt"))


def q_topk_orders(spark, sf_dir):
    """O: orderBy+limit → TakeOrdered, no full sort."""
    o = _t(spark, sf_dir, "orders")
    return (o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(20)
            .select("o_orderkey", _r(F.col("o_totalprice")).alias("totalprice")))


def q_filter_scan(spark, sf_dir):
    """S1/P3: selective scan; filters reach the parquet reader (TPC-H Q6 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & (F.col("l_discount").between(0.02, 0.04)))
            .agg(_r(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
                 F.count("*").alias("n")))


def q_case_classify(spark, sf_dir):
    """P5-P7 analog: CASE classification → grouped stats."""
    p = _t(spark, sf_dir, "part")
    cls = (F.when(F.col("p_size") < 10, "small")
           .when(F.col("p_size") < 25, "medium").otherwise("large"))
    return (p.withColumn("size_class", cls)
            .groupBy("size_class")
            .agg(F.count("*").alias("n"),
                 _r(F.avg("p_retailprice")).alias("avg_price")))


def q_relational_shapes(spark, sf_dir):
    """Registry fold of three scan shapes (one correctness row, same
    operators): the TPC-H-Q6 pushdown scan (S1/P3), CASE classification
    (P5-P7 analog), and tagged multi-scan union (S6) — uniform
    (kind, key, n, val) schema. The individual forms remain available as
    q_filter_scan / q_case_classify / q_union_scan."""
    q6 = (q_filter_scan(spark, sf_dir)
          .select(F.lit("q6").alias("kind"), F.lit("").alias("key"),
                  F.col("n"), F.col("revenue").alias("val")))
    case = (q_case_classify(spark, sf_dir)
            .select(F.lit("case").alias("kind"), F.col("size_class").alias("key"),
                    F.col("n"), F.col("avg_price").alias("val")))
    un = (q_union_scan(spark, sf_dir)
          .select(F.lit("union").alias("kind"), F.col("src").alias("key"),
                  F.col("n"), F.col("total").alias("val")))
    return q6.unionByName(case).unionByName(un)


def q_join_variants(spark, sf_dir):
    """Registry fold of the anti-join, semi-join and distinct-aggregate demos
    (one correctness row, all three operators): uniform (kind, key, n)
    schema. The distinct aggregate contributes TWO kinds per group so both of
    its output measures stay value-checked ('distinct_n' = countDistinct,
    'distinct_total' = plain count); its individual form remains callable as
    q_distinct_agg."""
    anti = (q_anti_join(spark, sf_dir)
            .select(F.lit("anti").alias("kind"),
                    F.col("c_mktsegment").alias("key"),
                    F.col("n_customers").alias("n")))
    semi = (q_semi_join(spark, sf_dir)
            .select(F.lit("semi").alias("kind"), F.col("n_name").alias("key"),
                    F.col("n_suppliers").alias("n")))
    da = q_distinct_agg(spark, sf_dir)
    dn = da.select(F.lit("distinct_n").alias("kind"),
                   F.col("n_name").alias("key"),
                   F.col("n_distinct").alias("n"))
    dt = da.select(F.lit("distinct_total").alias("kind"),
                   F.col("n_name").alias("key"), F.col("n"))
    return anti.unionByName(semi).unionByName(dn).unionByName(dt)


def q_anti_join(spark, sf_dir):
    """P4 analog: anti-join (customers with no orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy("c_mktsegment").agg(F.count("*").alias("n_customers")))


def q_semi_join(spark, sf_dir):
    """Semi-join: suppliers that shipped something, counted per nation."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .groupBy("n_name").agg(F.count("*").alias("n_suppliers")))


def q_union_scan(spark, sf_dir):
    """S6: multi-scan union with source tags."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.lit("open").alias("src"), "o_totalprice")
    b = o.filter(F.col("o_orderstatus") == "F").select(F.lit("finished").alias("src"), "o_totalprice")
    return (a.unionByName(b).groupBy("src")
            .agg(F.count("*").alias("n"), _r(F.sum("o_totalprice")).alias("total")))


def q_distinct_agg(spark, sf_dir):
    """Distinct aggregate per group."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.countDistinct("s_name").alias("n_distinct"),
                 F.count("*").alias("n")))


def q_string_funcs(spark, sf_dir):
    """P16: upper/length/concat/replace string projections."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.upper("n_name").alias("uname"),
        F.length("n_name").alias("name_len"),
        F.concat_ws("|", "n_name", F.col("n_nationkey").cast("string")).alias("label"),
        F.regexp_replace(F.col("n_name"), "[AEIOU]", "_").alias("devoweled"))


def q_km2_math(spark, sf_dir):
    """P12/P17: the exact WGS84 pixel-area formula (geoutil.py:10-25) as a
    Column expression, driven by nation keys as pseudo row indices."""
    n = _t(spark, sf_dir, "nation")
    g = GridSpec(grid_id=0, px_deg=0.5)
    y = (F.col("n_nationkey") * 10).cast("int")
    return n.select("n_nationkey", _r(km2_col(g, y), 6).alias("km2"))


def q_running_sum(spark, sf_dir):
    """Window frame: per-user running total ordered by time."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, 0))
    return e.select("user_id", "event_id",
                    _r(F.sum("value").over(w), 6).alias("running"))


def q_rollup_counts(spark, sf_dir):
    """Grouping sets: ROLLUP(status, priority) with ALL markers."""
    o = _t(spark, sf_dir, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "n"))


def q_json_props(spark, sf_dir):
    """Scalar JSON extraction from the events props column."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (e.select(k.alias("k"), "value")
            .groupBy("k").agg(F.count("*").alias("n"),
                              _r(F.avg("value"), 6).alias("avg_value")))


# =====================================================================
# training-data corpus ops (driver documents/embeddings tables)
# =====================================================================

def q_dedup_exact(spark, sf_dir):
    return (corpus.exact_dedup(_t(spark, sf_dir, "documents"))
            .select("text_hash", "canonical_doc_id", "cluster_size"))


def q_minhash_signatures(spark, sf_dir):
    # distinct=False: min over the shingle multiset equals min over its set,
    # so the signatures-only path skips the |shingles|-row dedup Exchange
    # entirely (the DuckDB oracle keeps DISTINCT — values are identical)
    sh = corpus.char_shingles(_t(spark, sf_dir, "documents"), distinct=False)
    return corpus.minhash_signatures(sh).select("doc_id", "seed", "sig")


def q_lsh_candidate_pairs(spark, sf_dir):
    # minhash_band_buckets = minhash_signatures + lsh_buckets fused into one
    # aggregation (same bucket values, one Exchange instead of two —
    # tests/test_lsh_fused.py pins the equality)
    sh = corpus.char_shingles(_t(spark, sf_dir, "documents"), distinct=False)
    return corpus.lsh_candidate_pairs(corpus.minhash_band_buckets(sh))


def q_ngram_jaccard(spark, sf_dir):
    sh = corpus.char_shingles(_t(spark, sf_dir, "documents"))
    pairs = corpus.lsh_candidate_pairs(corpus.minhash_band_buckets(sh))
    return (corpus.jaccard_pairs(sh, pairs)
            .select("doc_a", "doc_b", _r(F.col("jaccard"), 6).alias("jaccard")))


def q_simhash(spark, sf_dir):
    """64-bit SimHash (round 5 widened from 16; one row per token through
    the single groupBy, 64 conditional per-bit sums on the same row,
    signed two's-complement bit 63) — COMBINED row (the join_variants
    precedent, VERDICT r5 #4): kind='fp' rows carry the per-doc
    fingerprints, kind='pair' rows the Manku pigeonhole block-banding
    near-dup join at Hamming<=3 (corpus.simhash_pairs), so the banding
    join itself is inside the driver's value-hash window. The hot-block
    guard runs at its production default (cap 64) and is provably inert
    at sf0.01 — the largest (block_idx, block_val) bucket there is 28 —
    so parity with the uncapped DuckDB mirror is exact."""
    sh = corpus.simhash(_t(spark, sf_dir, "documents"), bits=64)
    pairs = corpus.simhash_pairs(sh, max_hamming=3)
    fp = sh.select(F.lit("fp").alias("kind"), F.col("doc_id").alias("a"),
                   F.lit(None).cast("long").alias("b"),
                   F.col("simhash").alias("v"))
    pr = pairs.select(F.lit("pair").alias("kind"),
                      F.col("doc_a").alias("a"), F.col("doc_b").alias("b"),
                      F.col("hamming").cast("long").alias("v"))
    return fp.unionAll(pr)


def q_language_id(spark, sf_dir):
    return corpus.language_id(_t(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    return corpus.quality_score(_t(spark, sf_dir, "documents"))


def q_token_counts(spark, sf_dir):
    return corpus.token_counts(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):
    return corpus.fingerprint(_t(spark, sf_dir, "documents"))


def q_text_metrics(spark, sf_dir):
    """Registry fold of the four per-doc text-analysis operators (one
    correctness row, all four operators value-checked): language-ID, quality
    scoring, token counting, and fingerprinting joined on doc_id. Fingerprint
    is left-joined (docs shorter than the shingle width have none) and
    coalesced to ''. The individual forms remain available as q_language_id /
    q_quality_score / q_token_counts / q_fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    out = (corpus.language_id(docs)
           .join(corpus.quality_score(docs), "doc_id")
           .join(corpus.token_counts(docs), "doc_id")
           .join(corpus.fingerprint(docs), "doc_id", "left"))
    return out.withColumn("fingerprint", F.coalesce("fingerprint", F.lit("")))


def q_neardup_clusters(spark, sf_dir):
    """Connected components over the LSH candidate pairs: cluster_id = min
    doc_id of the component (iterative min-label propagation; oracle is a
    recursive-CTE transitive closure)."""
    sh = corpus.char_shingles(_t(spark, sf_dir, "documents"), distinct=False)
    pairs = corpus.lsh_candidate_pairs(corpus.minhash_band_buckets(sh))
    return corpus.neardup_clusters(pairs)


def q_token_freq_topk(spark, sf_dir):
    return corpus.token_freq_topk(_t(spark, sf_dir, "documents"))


def q_doc_top_term(spark, sf_dir):
    return corpus.doc_top_term(_t(spark, sf_dir, "documents"))


def _query_vec(spark, sf_dir):
    row = (_emb(spark, sf_dir).filter(F.col("vec_id") == 0)
           .select("embedding").collect()[0])
    return [float(v) for v in row.embedding]


def q_embedding_neardup(spark, sf_dir):
    """LSH-bucketed near-dup (the scale path — no cartesian in the plan);
    the oracle applies the identical bucket restriction. 3 planes (8 buckets)
    keeps recall high enough at the driver's 0.437 threshold that the
    correctness gate compares real rows; production tunes planes per corpus."""
    planes = corpus.lsh_planes(64, 3)
    return corpus.embedding_neardup_pairs(_emb(spark, sf_dir), planes)


def q_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    return (corpus.cosine_topk(emb, q, k=10)
            .select("vec_id", _r(F.col("cosine"), 6).alias("cosine")))


def q_ann_buckets(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    planes = corpus.lsh_planes(64, 8)
    return corpus.lsh_bucket_ids(emb, planes)


_ANN_INDEX_BASE = os.path.join(_BUILD, "ann_index")
_ANN_INDEX_CACHE: dict = {}
_TRAINED_CENTROIDS_CACHE: dict = {}


def _ensure_ann_index(spark, sf_dir: str, name: str, build_fn,
                      params_key: str):
    """Build-once materialized ANN index (the offline CTAS): written
    partitionBy(probe key) so probe queries are partition-pruned reads —
    the round-3 registered probes recomputed assignments with a full scan
    each query, an unpruned scan at 100 TB. Staleness is keyed by BOTH the
    params hash (centroid/plane literals) AND the source corpus fingerprint
    (tables.source_fingerprint of embeddings.parquet), so retraining, code
    changes, or an in-place regeneration of the corpus all rebuild — a
    params-only key silently served indexes built from old data (round-4
    ADVICE). The index path uses the full normalized sf_dir (basename +
    path hash), so two sf_dirs sharing a basename cannot collide."""
    import hashlib as _hl

    from aezspark.tables import source_fingerprint

    sf_real = os.path.realpath(sf_dir)
    sf_key = (os.path.basename(sf_real) + "_"
              + _hl.md5(sf_real.encode()).hexdigest()[:8])
    path = os.path.join(_ANN_INDEX_BASE, sf_key, name)
    data_fp = source_fingerprint(os.path.join(sf_real, "embeddings.parquet"))
    digest = _hl.md5(f"{params_key}|data:{data_fp}".encode()).hexdigest()
    if _ANN_INDEX_CACHE.get(path) != digest:
        marker = os.path.join(path, "_params.json")
        stale = True
        if os.path.exists(marker) and os.path.exists(
                os.path.join(path, "_SUCCESS")):
            with open(marker) as f:
                stale = json.load(f).get("digest") != digest
        if stale:
            build_fn(path)
            with open(marker, "w") as f:
                json.dump({"digest": digest}, f)
        _ANN_INDEX_CACHE[path] = digest
    return spark.read.parquet(path)


def _trained_ivf_centroids(spark, sf_dir: str) -> list[list[float]]:
    """Seeded k-means IVF centroids trained via Spark DataFrame ops on this
    corpus (Lloyd, 4 iterations, ivf_centroids seed init). Deterministic and
    bit-identical to the numpy mirror the oracle injects as literals
    (tests/test_ivf_train.py pins the equality). Cache key includes the
    corpus fingerprint so an in-place regeneration retrains."""
    from aezspark.tables import source_fingerprint

    key = (os.path.realpath(sf_dir), source_fingerprint(
        os.path.join(os.path.realpath(sf_dir), "embeddings.parquet")))
    if key not in _TRAINED_CENTROIDS_CACHE:
        _TRAINED_CENTROIDS_CACHE[key] = corpus.ivf_train(
            _emb(spark, sf_dir), corpus.ivf_centroids(64, 8),
            iters=4)
    return _TRAINED_CENTROIDS_CACHE[key]


def _cents_key(cents) -> str:
    return ";".join(",".join(f"{v:.17g}" for v in row) for row in cents)


def q_ann_topk(spark, sf_dir):
    """Sign-LSH ANN over the MATERIALIZED bucket index: embeddings + bucket
    written partitionBy(bucket) once (offline CTAS), probes read only the
    query's bucket partition (PartitionFilters — tests/test_ann_index.py)."""
    emb = _emb(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    planes = corpus.lsh_planes(64, 8)
    idx = _ensure_ann_index(
        spark, sf_dir, "lsh8",
        lambda p: corpus.write_lsh_index(emb, planes, p),
        "lsh8:" + _cents_key(planes))
    return (corpus.ann_topk_indexed(idx, q, planes, k=10)
            .select("vec_id", _r(F.col("cosine"), 6).alias("cosine")))


def q_ivf_assign(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return corpus.ivf_assign(emb, corpus.ivf_centroids(64, 8))


def q_ivf_topk(spark, sf_dir):
    """IVF ANN over the MATERIALIZED index (seed centroids): single-probe
    read of one centroid_id partition — no assignment recompute, no full
    scan (PartitionFilters verified in tests/test_ann_index.py)."""
    emb = _emb(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    cents = corpus.ivf_centroids(64, 8)
    idx = _ensure_ann_index(
        spark, sf_dir, "ivf_seed",
        lambda p: corpus.write_ivf_index(emb, cents, p),
        "ivf:" + _cents_key(cents))
    return (corpus.ivf_topk_indexed(idx, q, cents, k=10)
            .select("vec_id", _r(F.col("cosine"), 6).alias("cosine")))


def q_ivf_topk_nprobe(spark, sf_dir):
    """IVF multi-probe ANN (nprobe=3) over TRAINED centroids: the coarse
    quantizer is k-means-trained on this corpus via Spark DataFrame ops
    (corpus.ivf_train — exact fixed-point arithmetic, so the oracle mirrors
    the training in numpy and injects the identical literals), the index is
    materialized partitionBy(centroid_id), and the probe reads only the 3
    probed partitions. Closes both round-3 gaps at once: no literal-only
    centroids, no unpruned probe scan."""
    emb = _emb(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    cents = _trained_ivf_centroids(spark, sf_dir)
    idx = _ensure_ann_index(
        spark, sf_dir, "ivf_trained",
        lambda p: corpus.write_ivf_index(emb, cents, p),
        "ivf:" + _cents_key(cents))
    return (corpus.ivf_topk_indexed(idx, q, cents, k=10, nprobe=3)
            .select("vec_id", _r(F.col("cosine"), 6).alias("cosine")))


def q_media_frame_sample(spark, sf_dir):
    """Multimodal row expansion: video spans → deterministic frame rows
    (real Arrow 1→N plumbing; fake payload — no codecs in this container)."""
    w = _world(spark)
    media = corpus.media_spans(w.documents())
    return corpus.frame_sample_stub(media).select(
        "doc_id", "span_idx", "media_id", "frame_idx",
        _r(F.col("frame_digest"), 6).alias("frame_digest"))


N_STREAM_SHARDS = 4


def q_streaming_dedup(spark, sf_dir):
    """Custom stateful streaming op (applyInPandasWithState): exact dedup
    across micro-batches over the fixture corpus replayed as file drops.

    FULLY ORACLE-CHECKED (round 3): the replay is made deterministic by
    sharding docs into N_STREAM_SHARDS files by doc number % N (a rule both
    engines can compute) and forcing batch order = shard order via ascending
    mtimes + maxFilesPerTrigger=1. First-seen-per-hash is then expressible in
    SQL: canonical = min doc_id within the hash's earliest shard."""
    import shutil

    from aezspark import streaming as st_mod

    # fixed per-repo workdir, wiped on entry: repeated driver/selfcheck runs
    # must not accumulate corpus copies under /tmp (which shares space with
    # the tmpfs shuffle dirs)
    work = os.path.join(_BUILD, "tmp", "streamdedup")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    out_dir = os.path.join(work, "out")
    os.makedirs(in_dir)
    w = _world(spark)
    docs = w.documents()
    shard = F.substring("doc_id", 5, 8).cast("int") % N_STREAM_SHARDS
    import time as _time

    base = _time.time() - 3600
    for i in range(N_STREAM_SHARDS):
        stage = os.path.join(work, f"stage_{i}")
        (docs.filter(shard == i).coalesce(1)
         .write.mode("overwrite").parquet(stage))
        parts = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        if not parts:
            # an empty shard writes no part file (possible if the fixture
            # corpus shrinks or N_STREAM_SHARDS changes) — and skipping it
            # silently would break the oracle's batch-order assumption
            raise RuntimeError(
                f"streaming_dedup: shard {i}/{N_STREAM_SHARDS} of the fixture "
                f"corpus is empty; the deterministic replay needs every shard "
                f"non-empty (shrink N_STREAM_SHARDS or grow the corpus)")
        part = parts[0]
        dst = os.path.join(in_dir, f"drop_{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (base + i, base + i))  # batch order = shard order
    q = (st_mod.streaming_exact_dedup(
            st_mod.stream_documents(spark, in_dir, max_files_per_trigger=1))
         .writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .trigger(availableNow=True)
         .start())
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise RuntimeError("streaming_dedup did not finish within 300s — "
                           "refusing to return a partial result")
    return spark.read.parquet(out_dir).orderBy("text_hash")


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: media spans of the interleaved fixture corpus →
    Arrow-batched decode stub → scalar feature digests."""
    w = _world(spark)
    media = corpus.media_spans(w.documents())
    feat = corpus.decode_media_stub(media)
    return feat.select(
        "doc_id", "span_idx", "modality",
        _r(F.element_at("features", 1), 6).alias("f0"),
        _r(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias("fsum"))


# =====================================================================
# spatial engine queries (fixture world; oracle = numpy expected_*)
# =====================================================================

def q_sp_assignment(spark, sf_dir):
    return _world(spark).asg.select("cell_id", "feature_id", "country")


def _zonal(spark, ds):
    w = _world(spark)
    return (w.zonal(ds)
            .select("country", "class", _r(F.col("km2")).alias("km2")))


def q_sp_zonal_wk(spark, sf_dir):
    return _zonal(spark, "wk")


def q_sp_zonal_kg(spark, sf_dir):
    return _zonal(spark, "kg")


def q_sp_zonal_lc(spark, sf_dir):
    return _zonal(spark, "lc")


def q_sp_zonal_sl(spark, sf_dir):
    return _zonal(spark, "sl")


def q_sp_zonal_slfao(spark, sf_dir):
    return _zonal(spark, "slfao")


def q_sp_zonal_dg(spark, sf_dir):
    return _zonal(spark, "dg")


def q_sp_zonal_all(spark, sf_dir):
    """Registry fold of the six zonal-histogram datasets (one correctness
    row, every dataset's values checked): kg / lc / sl / slfao / wk / dg
    unioned with a dataset tag. Each dataset is still its own operator
    (decoder + grid + masks — World.zonal); the fold only packs the driver
    row. Individual forms remain available as q_sp_zonal_<ds>."""
    out = None
    for ds in ("kg", "lc", "sl", "slfao", "wk", "dg"):
        part = _zonal(spark, ds).select(F.lit(ds).alias("ds"), "country",
                                        "class", "km2")
        out = part if out is None else out.unionByName(part)
    return out


def q_sp_aez(spark, sf_dir):
    w = _world(spark)
    return w.aez().select("country", "class", _r(F.col("km2")).alias("km2"))


def q_sp_region_aez(spark, sf_dir):
    from aezspark.zonal import AEZ_CLASSES

    w = _world(spark)
    return (w.region_rollup(w.aez(), AEZ_CLASSES)
            .select("region", "class", _r(F.col("km2")).alias("km2")))


def q_sp_region_lc(spark, sf_dir):
    """By-region rollup for the land-cover dataset (the reference writes a
    *-by-region.csv for EVERY dataset, extract_country_data.py:254-263)."""
    from aezspark.decoders import LCCS37

    w = _world(spark)
    return (w.region_rollup(w.zonal("lc"), [str(c) for c in LCCS37])
            .select("region", "class", _r(F.col("km2")).alias("km2")))


def q_sp_region_wk(spark, sf_dir):
    w = _world(spark)
    return (w.region_rollup(w.zonal("wk"), [str(i) for i in range(1, 8)])
            .select("region", "class", _r(F.col("km2")).alias("km2")))


def q_sp_region_dg56(spark, sf_dir):
    """By-region rollup of the 56-class degraded analysis
    (degraded_analysis.py:157-166)."""
    from aezspark.zonal import DEG56_CLASSES

    w = _world(spark)
    return (w.region_rollup(w.degraded56(), DEG56_CLASSES)
            .select("region", "class", _r(F.col("km2")).alias("km2")))


def q_sp_classify_slope(spark, sf_dir):
    """Upstream raw-DEM slope preprocessing (data/geomorpho90m/
    classify_slope.py): continuous slope pixels → 8 band counts + mean band
    per coarse pixel. Oracle: the same aggregation in plain SQL over the
    raw_slope fixture."""
    from aezspark.decoders import classify_slope

    w = _world(spark)
    raw = spark.read.parquet(os.path.join(w.fx_dir, "raw_slope.parquet"))
    return classify_slope(raw)


def q_sp_fao_slope(spark, sf_dir):
    """FAO slope multi-file band assembly (data/FAO/classify_slope.py:41-63):
    8 single-band tables → one wide 8-band table via a tagged union scan +
    conditional-aggregate pivot, dropping all-NoData pixels (the sparse
    GeoTIFF output semantics). Oracle: the identical union+pivot in SQL over
    the same 8 parquet files."""
    from aezspark.sources import assemble_slope_fao

    w = _world(spark)
    return assemble_slope_fao(spark, w.fx_dir)


def q_sp_degraded56(spark, sf_dir):
    w = _world(spark)
    return w.degraded56().select("country", "class", _r(F.col("km2")).alias("km2"))


def q_sp_tiles(spark, sf_dir):
    return (_world(spark).tiles()
            .select("cell_id", "aez_code", "slope_code", "lu_code", "soil_code"))


def _doc_assignment(spark):
    w = _world(spark)
    assigned = docs_mod.assign_documents(w.documents(), w.bidx)
    return docs_mod.with_aez(assigned, w.tiles(), w.fine)


def q_sp_doc_assignment(spark, sf_dir):
    return _doc_assignment(spark).select(
        "doc_id", "span_idx", "feature_id", "country", "method", "aez_code")


def q_sp_knn_fallback(spark, sf_dir):
    return (_doc_assignment(spark)
            .filter(F.col("method") == "knn")
            .select("doc_id", "span_idx", "feature_id", "country"))


def q_sp_knn_topk(spark, sf_dir):
    """kNN with k > 1 (SURVEY §2.5 rank-by-distance): for every geo span
    inside no polygon, the 3 nearest features with (dist, rank) — bbox
    branch-and-bound with a k-element bound; oracle = independent dense-scan
    top-k (expected_knn_topk)."""
    from aezspark.joins import knn_topk_join

    w = _world(spark)
    pts = docs_mod.geo_points(w.documents())
    return (knn_topk_join(pts, w.bidx, k=3, project=["doc_id", "span_idx"])
            .select("doc_id", "span_idx", "feature_id", "country",
                    F.col("dist_deg").cast("double").alias("dist_deg"),
                    F.col("dist_km").cast("double").alias("dist_km"),
                    "rank"))


def q_sp_within_distance(spark, sf_dir):
    """Spatial range join: geo spans within 4° (scaled) of each feature's
    boundary, or inside it (dist 0) — many-to-many buffer query."""
    from aezspark.joins import within_distance_join

    w = _world(spark)
    pts = docs_mod.geo_points(w.documents())
    return within_distance_join(pts, w.bidx, 4.0,
                                project=["doc_id", "span_idx"]).select(
        "doc_id", "span_idx", "feature_id", "country",
        F.col("dist_deg").cast("double").alias("dist_deg"),
        F.col("dist_km").cast("double").alias("dist_km"))


def q_sp_doc_zone_counts(spark, sf_dir):
    """The production flagship aggregation under the full value-parity gate:
    ONE Arrow kernel over document rows fusing the span parse + PIP + kNN +
    shard-manifest tile lookup (World.tile_lookup) + partition-local
    distinct-doc dedup (joins.doc_zone_partials) — match rows never cross
    the Arrow boundary; the shuffle carries only (country, aez, n) partials. The composed form
    (with_aez + doc_zone_counts) is parity-pinned in
    tests/test_doc_zone_counts.py."""
    w = _world(spark)
    return (docs_mod.assign_zone_counts(w.documents(), w.bidx,
                                        w.tile_lookup(), w.fine)
            .select("country", "aez_code", "n_docs"))


# =====================================================================
# registry
# =====================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is DELIBERATE: the driver's correctness gate checks the
    first 50 entries, so the engine's flagship spatial queries come FIRST,
    then the corpus ops, then the relational demos. To stay within the window
    while ADDING queries, same-schema demo variants are folded into combined
    rows (sp_zonal_all, text_metrics, relational_shapes, join_variants —
    round 4 folds distinct_agg into join_variants) — every folded operator is
    still value-checked inside its combined row, and its individual form
    remains callable. Exactly 50 entries;
    tests/test_entry_registry.py asserts the window is never exceeded."""
    return {
        # spatial engine (the flagship surface — first, inside the window)
        "sp_assignment": q_sp_assignment,
        "sp_zonal_all": q_sp_zonal_all,
        "sp_aez": q_sp_aez,
        "sp_region_aez": q_sp_region_aez,
        "sp_region_lc": q_sp_region_lc,
        "sp_region_wk": q_sp_region_wk,
        "sp_region_dg56": q_sp_region_dg56,
        "sp_degraded56": q_sp_degraded56,
        "sp_tiles": q_sp_tiles,
        "sp_doc_assignment": q_sp_doc_assignment,
        "sp_knn_fallback": q_sp_knn_fallback,
        "sp_knn_topk": q_sp_knn_topk,
        "sp_within_distance": q_sp_within_distance,
        "sp_doc_zone_counts": q_sp_doc_zone_counts,
        "sp_classify_slope": q_sp_classify_slope,
        "sp_fao_slope": q_sp_fao_slope,
        # corpus ops
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "lsh_candidate_pairs": q_lsh_candidate_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "text_metrics": q_text_metrics,
        "neardup_clusters": q_neardup_clusters,
        "token_freq_topk": q_token_freq_topk,
        "doc_top_term": q_doc_top_term,
        "embedding_neardup": q_embedding_neardup,
        "cosine_topk": q_cosine_topk,
        "ann_buckets": q_ann_buckets,
        "ann_topk": q_ann_topk,
        "ivf_assign": q_ivf_assign,
        "ivf_topk": q_ivf_topk,
        "ivf_topk_nprobe": q_ivf_topk_nprobe,
        "media_features": q_media_features,
        "media_frame_sample": q_media_frame_sample,
        "streaming_dedup": q_streaming_dedup,
        # relational core
        "pricing_summary": q_pricing_summary,
        "pivot_priority": q_pivot_priority,
        "revenue_by_nation": q_revenue_by_nation,
        "broadcast_part_join": q_broadcast_part_join,
        "region_rollup": q_region_rollup,
        "latest_event_per_user": q_latest_event_per_user,
        "plurality_event_type": q_plurality_event_type,
        "topk_orders": q_topk_orders,
        "relational_shapes": q_relational_shapes,
        "join_variants": q_join_variants,
        "string_funcs": q_string_funcs,
        "km2_math": q_km2_math,
        "running_sum": q_running_sum,
        "rollup_counts": q_rollup_counts,
        "json_props": q_json_props,
    }


# =====================================================================
# oracle SQL
# =====================================================================

_SHINGLES_CTE = """
shingles AS (
    SELECT DISTINCT doc_id, substr(text, i, 8) AS shingle
    FROM documents, unnest(generate_series(1, greatest(len(text) - 7, 0))) AS t(i)
)"""

# the affine-permutation coefficient table is generated from the SAME
# function the Spark plan uses, so the literals can never drift
_MINHASH_VALUES = ", ".join(
    f"({s}, {a}, {b})"
    for s, (a, b) in enumerate(corpus.minhash_coeffs(8)))

_SIGS_CTE = _SHINGLES_CTE + f""",
sigs AS (
    SELECT doc_id, seed,
           min((a * (('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647)
                + b) % 2147483647) AS sig
    FROM shingles, (VALUES {_MINHASH_VALUES}) AS s(seed, a, b)
    GROUP BY doc_id, seed
)"""

_BUCKETS_CTE = _SIGS_CTE + """,
buckets AS (
    SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
           md5(array_to_string(array_agg(seed || ':' || sig ORDER BY seed || ':' || sig), '|')) AS bucket
    FROM sigs
    GROUP BY doc_id, CAST(floor(seed / 2) AS INT)
)"""

# ok_buckets mirrors lsh_candidate_pairs' hot-bucket guard (default cap 64):
# (band, bucket) groups above the cap are excluded on BOTH engines
_PAIRS_CTE = _BUCKETS_CTE + """,
ok_buckets AS (
    SELECT band, bucket FROM buckets
    GROUP BY band, bucket HAVING count(*) <= 64
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a
    JOIN ok_buckets k ON k.band = a.band AND k.bucket = a.bucket
    JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id
)"""


def _plane_sql_literal(num_planes: int = 8) -> list[str]:
    planes = corpus.lsh_planes(64, num_planes)
    return ["[" + ", ".join(f"{v:.1f}" for v in row) + "]" for row in planes]


def _emb_cosine_sql(extra_where: str = "", lead_ctes: str = "") -> str:
    return f"""
WITH {lead_ctes}q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings {extra_where})
SELECT vec_id,
       round(list_dot_product(ev, qv)
             / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM e, q
ORDER BY list_dot_product(ev, qv)
         / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))) DESC, vec_id
LIMIT 10"""


def _ann_bucket_sql(num_planes: int = 8) -> str:
    planes = _plane_sql_literal(num_planes)
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(ev, {p}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return ("SELECT vec_id, CAST(" + terms + " AS BIGINT) AS bucket FROM "
            "(SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev"
            " FROM embeddings)")


def _ivf_assign_sql(cents: list[list[float]] | None = None) -> str:
    if cents is None:
        cents = corpus.ivf_centroids(64, 8)
    lits = ["[" + ", ".join(f"{v:.17g}" for v in row) + "]" for row in cents]
    dots = ", ".join(f"list_dot_product(ev, {p}) AS d{i}"
                     for i, p in enumerate(lits))
    m = "greatest(" + ", ".join(f"d{i}" for i in range(8)) + ")"
    # descending CASE = ties go to the HIGHER centroid id, matching the
    # Spark side's sort_array(desc) over (dot, id) structs
    case = " ".join(f"WHEN d{i} = m THEN {i}" for i in range(7, -1, -1))
    return (f"SELECT vec_id, CAST(CASE {case} END AS INT) AS centroid_id "
            f"FROM (SELECT vec_id, {m} AS m, "
            + ", ".join(f"d{i}" for i in range(8)) +
            f" FROM (SELECT vec_id, {dots} FROM "
            "(SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
            " AS ev FROM embeddings)))")


_ORACLE_TRAIN_CACHE: dict = {}


def _oracle_trained_centroids() -> list[list[float]]:
    """numpy mirror of the Spark-side ivf_train for the oracle literals:
    reads the driver's correctness-gate corpus (sf0.01; SELFCHECK_SF_DIR
    under tools/selfcheck.py) and trains with the identical fixed-point
    arithmetic — bit-equal to the Spark result by construction
    (tests/test_ivf_train.py)."""
    sf_dir = os.environ.get("SELFCHECK_SF_DIR", "/root/testdata/sf0.01")
    key = os.path.normpath(sf_dir)
    if key not in _ORACLE_TRAIN_CACHE:
        import numpy as np
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                          columns=["embedding"])
        col = t["embedding"].combine_chunks()
        flat = col.flatten().to_numpy(zero_copy_only=False)
        embs = flat.reshape(len(col), -1).astype(np.float64)
        cents, _inertia = corpus.ivf_train_numpy(
            embs, corpus.ivf_centroids(64, 8), iters=4)
        _ORACLE_TRAIN_CACHE[key] = cents
    return _ORACLE_TRAIN_CACHE[key]


def _ivf_probe_scores_sql(cents: list[list[float]] | None = None) -> str:
    """One (centroid id, dot) row per coarse centroid for the query vector
    (vec 0) — the SQL side of query_probe_lists' nprobe ranking."""
    if cents is None:
        cents = corpus.ivf_centroids(64, 8)
    lits = ["[" + ", ".join(f"{v:.17g}" for v in row) + "]" for row in cents]
    return " UNION ALL ".join(
        f"SELECT {i} AS c, list_dot_product(ev, {p}) AS d FROM qv"
        for i, p in enumerate(lits))


_KM2_SQL = """
SELECT n_nationkey,
       round(
         (0.5 * (cos(lat) * pi() * 6378.137
                 / (180 * sqrt(1 - 0.00669437999014 * pow(sin(lat), 2)))))
         * (0.5 * (111.132954 - 0.559822 * cos(2 * lat) + 0.001175 * cos(4 * lat))),
         6) AS km2
FROM (SELECT n_nationkey,
             radians(90.0 - (CAST(n_nationkey * 10 AS INT)) * 0.5 - 0.25) AS lat
      FROM nation)"""


def _exp(name: str) -> str:
    return f"read_parquet('{FX_DIR}/expected_{name}.parquet')"


def oracle_sql() -> dict[str, str]:
    ensure_fixtures(FX_DIR)
    fx_docs = f"read_parquet('{FX_DIR}/documents.parquet')"
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "pivot_priority": """
            SELECT o_orderstatus,
                   round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS urgent,
                   round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS high,
                   round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS medium,
                   round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS notspec,
                   round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS low
            FROM orders GROUP BY o_orderstatus""",
        "revenue_by_nation": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name""",
        "broadcast_part_join": """
            SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size < 10 GROUP BY p_brand""",
        "region_rollup": """
            SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
                   round(sum(c_acctbal), 2) AS acctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "latest_event_per_user": """
            SELECT user_id, event_id AS last_event_id, event_type AS last_type,
                   round(value, 6) AS last_value
            FROM (SELECT *, row_number() OVER
                      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) WHERE rn = 1""",
        "plurality_event_type": """
            SELECT user_id, event_type AS top_type, cnt FROM (
                SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY count(*) DESC, event_type ASC) AS rn
                FROM events GROUP BY user_id, event_type) WHERE rn = 1""",
        "topk_orders": """
            SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",
        "relational_shapes": """
            SELECT 'q6' AS kind, '' AS key, CAST(count(*) AS BIGINT) AS n,
                   round(sum(l_extendedprice * l_discount), 2) AS val
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.02 AND 0.04
            UNION ALL
            SELECT 'case', CASE WHEN p_size < 10 THEN 'small'
                                WHEN p_size < 25 THEN 'medium' ELSE 'large' END,
                   CAST(count(*) AS BIGINT), round(avg(p_retailprice), 2)
            FROM part GROUP BY 2
            UNION ALL
            SELECT 'union', src, CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2)
            FROM (SELECT 'open' AS src, o_totalprice FROM orders WHERE o_orderstatus = 'O'
                  UNION ALL
                  SELECT 'finished' AS src, o_totalprice FROM orders WHERE o_orderstatus = 'F')
            GROUP BY 2""",
        "join_variants": """
            SELECT 'anti' AS kind, c_mktsegment AS key,
                   CAST(count(*) AS BIGINT) AS n
            FROM customer WHERE NOT EXISTS
                (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment
            UNION ALL
            SELECT 'semi', n_name, CAST(count(*) AS BIGINT)
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
            GROUP BY n_name
            UNION ALL
            SELECT 'distinct_n', n_name, CAST(count(DISTINCT s_name) AS BIGINT)
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
            UNION ALL
            SELECT 'distinct_total', n_name, CAST(count(*) AS BIGINT)
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name""",
        "string_funcs": """
            SELECT n_nationkey, upper(n_name) AS uname,
                   CAST(len(n_name) AS INT) AS name_len,
                   n_name || '|' || CAST(n_nationkey AS VARCHAR) AS label,
                   regexp_replace(n_name, '[AEIOU]', '_', 'g') AS devoweled
            FROM nation""",
        "km2_math": _KM2_SQL,
        "running_sum": """
            SELECT user_id, event_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running
            FROM events WHERE user_id < 50""",
        "rollup_counts": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",
        "json_props": """
            SELECT CAST(props::JSON->>'k' AS BIGINT) AS k,
                   CAST(count(*) AS BIGINT) AS n, round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1""",
        # corpus
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
                   CAST(count(*) AS BIGINT) AS cluster_size
            FROM documents GROUP BY md5(text)""",
        "minhash_signatures": f"WITH {_SIGS_CTE.lstrip()} "
                              "SELECT doc_id, CAST(seed AS INT) AS seed, sig FROM sigs",
        "lsh_candidate_pairs": f"WITH {_PAIRS_CTE.lstrip()} "
                               "SELECT doc_a, doc_b FROM pairs",
        "ngram_jaccard": f"""WITH {_PAIRS_CTE.lstrip()},
            sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
                      FROM shingles GROUP BY doc_id),
            inter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
                      FROM pairs p
                      JOIN shingles a ON a.doc_id = p.doc_a
                      JOIN shingles b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
                      GROUP BY p.doc_a, p.doc_b)
            SELECT i.doc_a, i.doc_b,
                   round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b""",
        "simhash": """
            WITH toks AS (
                SELECT doc_id, md5(tok) AS h
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
            bits AS (
                SELECT doc_id, J,
                       sum(2 * ((instr('0123456789abcdef',
                                       substr(h, CAST(1 + floor(J / 4) AS INT), 1)) - 1)
                                >> CAST(3 - J % 4 AS INT) & 1) - 1) AS s
                FROM toks, unnest(generate_series(0, 63)) AS j(J)
                GROUP BY doc_id, J),
            sim AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN s > 0 THEN
                                    CASE WHEN J = 63 THEN -9223372036854775807 - 1
                                         ELSE 1::BIGINT << J END
                                ELSE 0 END) AS BIGINT)
                           AS simhash
                FROM bits GROUP BY doc_id),
            -- Manku pigeonhole banding: 4 blocks of 16 bits; Hamming<=3
            -- pairs agree exactly on >=1 block. DuckDB's >> is arithmetic,
            -- Spark's shiftrightunsigned is logical: the & mask keeps only
            -- the block's low bits, where the two agree.
            blocks AS (
                SELECT doc_id, simhash, b.idx AS block_idx,
                       (simhash >> (b.idx * 16)) & 65535 AS block_val
                FROM sim, (VALUES (0),(1),(2),(3)) b(idx)),
            cand AS (
                SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                                l.simhash AS sa, r.simhash AS sb
                FROM blocks l JOIN blocks r
                  ON l.block_idx = r.block_idx AND l.block_val = r.block_val
                 AND l.doc_id < r.doc_id)
            SELECT 'fp' AS kind, doc_id AS a, CAST(NULL AS BIGINT) AS b,
                   simhash AS v
            FROM sim
            UNION ALL
            SELECT 'pair', doc_a, doc_b,
                   CAST(bit_count(xor(sa, sb)) AS BIGINT)
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3""",
        "text_metrics": f"""WITH {_SHINGLES_CTE.lstrip()},
            lang AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split(lower(text), ' '),
                          t -> list_contains({corpus.EN_STOPWORDS!r}, t))) AS INT) AS en_hits,
                     CAST(len(list_filter(string_split(lower(text), ' '),
                          t -> list_contains({corpus.DE_STOPWORDS!r}, t))) AS INT) AS de_hits,
                     CASE WHEN len(list_filter(string_split(lower(text), ' '),
                              t -> list_contains({corpus.DE_STOPWORDS!r}, t)))
                            > len(list_filter(string_split(lower(text), ' '),
                              t -> list_contains({corpus.EN_STOPWORDS!r}, t)))
                          THEN 'de' ELSE 'en' END AS pred_lang
              FROM documents),
            qual AS (
              SELECT doc_id,
                     CAST(n_chars AS INT) AS n_chars,
                     CAST(n_tokens AS INT) AS n_tokens,
                     round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
                     round(stop_hits / greatest(n_tokens, 1), 6) AS stop_ratio,
                     round(least(n_tokens / 100.0, 1.0) * 0.5
                           + (stop_hits / greatest(n_tokens, 1)) * 0.4
                           - (n_punct / greatest(n_chars, 1)) * 0.1, 6) AS quality
              FROM (SELECT doc_id,
                           len(text) AS n_chars,
                           len(string_split(text, ' ')) AS n_tokens,
                           len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                           len(list_filter(string_split(lower(text), ' '),
                               t -> list_contains({corpus.EN_STOPWORDS!r}, t))) AS stop_hits
                    FROM documents)),
            tok AS (
              SELECT doc_id,
                     CAST(len(string_split_regex(text, '\\s+')) AS INT) AS ws_tokens,
                     CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                          + len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                          AS INT) AS bpeish_tokens
              FROM documents),
            fp AS (
              SELECT doc_id,
                     array_to_string((array_agg(DISTINCT md5(shingle)
                         ORDER BY md5(shingle)))[1:4], ',') AS fingerprint
              FROM shingles GROUP BY doc_id)
            SELECT l.doc_id, l.en_hits, l.de_hits, l.pred_lang,
                   q.n_chars, q.n_tokens, q.punct_ratio, q.stop_ratio, q.quality,
                   t.ws_tokens, t.bpeish_tokens,
                   coalesce(f.fingerprint, '') AS fingerprint
            FROM lang l
            JOIN qual q USING (doc_id)
            JOIN tok t USING (doc_id)
            LEFT JOIN fp f USING (doc_id)""",
        "neardup_clusters": f"""WITH RECURSIVE {_PAIRS_CTE.lstrip()},
            edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                      UNION ALL SELECT doc_b, doc_a FROM pairs),
            closure AS (
                SELECT s AS node, d AS reach FROM edges
                UNION
                SELECT c.node, e.d FROM closure c JOIN edges e ON e.s = c.reach)
            SELECT node AS doc_id, least(node, min(reach)) AS cluster_id
            FROM closure GROUP BY node""",
        "token_freq_topk": """
            SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
                  FROM documents)
            WHERE token <> ''
            GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""",
        "doc_top_term": """
            WITH terms AS (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                FROM documents),
            t AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                  FROM terms WHERE token <> '' GROUP BY doc_id, token),
            d AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                  FROM terms WHERE token <> '' GROUP BY token)
            SELECT doc_id, token AS top_term, tf, df FROM (
                SELECT t.doc_id, t.token, t.tf, d.df,
                       row_number() OVER (PARTITION BY t.doc_id
                           ORDER BY t.tf DESC, d.df ASC, t.token ASC) AS rn
                FROM t JOIN d ON d.token = t.token) WHERE rn = 1""",
        "embedding_neardup": f"""
            WITH bk AS ({_ann_bucket_sql(3)}),
            e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
            FROM e a
            JOIN bk ba ON ba.vec_id = a.vec_id
            JOIN bk bb ON bb.bucket = ba.bucket
            JOIN e b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))) > 0.437""",
        "cosine_topk": _emb_cosine_sql(),
        "ann_buckets": _ann_bucket_sql(),
        "ann_topk": _emb_cosine_sql(
            extra_where=("WHERE vec_id IN (SELECT b.vec_id FROM bk b, qb "
                         "WHERE b.bucket = qb.bucket)"),
            lead_ctes=(f"bk AS ({_ann_bucket_sql()}),\n"
                       "qb AS (SELECT bucket FROM bk WHERE vec_id = 0),\n")),
        "ivf_assign": _ivf_assign_sql(),
        "ivf_topk": _emb_cosine_sql(
            extra_where=("WHERE vec_id IN (SELECT a.vec_id FROM ca a, qc "
                         "WHERE a.centroid_id = qc.centroid_id)"),
            lead_ctes=(f"ca AS ({_ivf_assign_sql()}),\n"
                       "qc AS (SELECT centroid_id FROM ca WHERE vec_id = 0),\n")),
        "ivf_topk_nprobe": _emb_cosine_sql(
            extra_where=("WHERE vec_id IN (SELECT a.vec_id FROM ca a, qc "
                         "WHERE a.centroid_id = qc.c)"),
            lead_ctes=(f"ca AS ({_ivf_assign_sql(_oracle_trained_centroids())}),\n"
                       f"qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev"
                       f" FROM embeddings WHERE vec_id = 0),\n"
                       f"qscore AS ({_ivf_probe_scores_sql(_oracle_trained_centroids())}),\n"
                       "qc AS (SELECT c FROM qscore ORDER BY d DESC, c DESC LIMIT 3),\n")),
        "media_frame_sample": f"""
            SELECT doc_id, CAST(i - 1 AS INT) AS span_idx, mid AS media_id,
                   CAST(f AS INT) AS frame_idx,
                   round(CAST((mid * 31 + f * 7) % 97 AS DOUBLE) / 97.0, 6)
                       AS frame_digest
            FROM (SELECT doc_id, i,
                         CAST(regexp_extract(s.media_ref,
                              'media://(\\w+)/(\\d+)', 2) AS BIGINT) AS mid
                  FROM (SELECT doc_id, i, spans[i] AS s
                        FROM {fx_docs},
                             unnest(generate_series(1, len(spans))) AS t(i))
                  WHERE s.kind = 'media'
                    AND regexp_extract(s.media_ref,
                        'media://(\\w+)/(\\d+)', 1) = 'vid'),
                 unnest(generate_series(0, mid % 3 + 1)) AS ff(f)""",
        "media_features": f"""
            SELECT doc_id, CAST(i - 1 AS INT) AS span_idx,
                   regexp_extract(s.media_ref, 'media://(\\w+)/(\\d+)', 1) AS modality,
                   round(CAST((mid * 1) % 97 AS DOUBLE) / 97.0, 6) AS f0,
                   round((CAST((mid * 1) % 97 AS DOUBLE) + CAST((mid * 2) % 97 AS DOUBLE)
                        + CAST((mid * 3) % 97 AS DOUBLE) + CAST((mid * 4) % 97 AS DOUBLE)) / 97.0, 6) AS fsum
            FROM (SELECT doc_id, i, spans[i] AS s,
                         CAST(regexp_extract(spans[i].media_ref,
                              'media://(\\w+)/(\\d+)', 2) AS BIGINT) AS mid
                  FROM {fx_docs},
                       unnest(generate_series(1, len(spans))) AS t(i))
            WHERE s.kind = 'media'""",
        "streaming_dedup": f"""
            WITH d AS (
                SELECT doc_id,
                       md5(array_to_string(list_transform(spans,
                           s -> s.kind || chr(30) || s.text || chr(30) || s.media_ref),
                           chr(31))) AS text_hash,
                       CAST(substr(doc_id, 5) AS BIGINT) % {N_STREAM_SHARDS} AS f
                FROM {fx_docs}),
            firstf AS (SELECT text_hash, min(f) AS f FROM d GROUP BY text_hash)
            SELECT d.text_hash, min(d.doc_id) AS canonical_doc_id
            FROM d JOIN firstf ON d.text_hash = firstf.text_hash AND d.f = firstf.f
            GROUP BY d.text_hash""",
        # spatial — oracles are the numpy reference-oracle's outputs
        "sp_assignment": f"SELECT cell_id, CAST(feature_id AS INT) AS feature_id, country FROM {_exp('assignment')}",
        "sp_zonal_all": " UNION ALL ".join(
            f"SELECT '{ds}' AS ds, country, class, km2 FROM {_exp(ds)}"
            for ds in ("kg", "lc", "sl", "slfao", "wk", "dg")),
        "sp_aez": f"SELECT country, class, km2 FROM {_exp('aez')}",
        "sp_region_aez": f"SELECT region, class, km2 FROM {_exp('region_aez')}",
        "sp_region_lc": f"SELECT region, class, km2 FROM {_exp('region_lc')}",
        "sp_region_wk": f"SELECT region, class, km2 FROM {_exp('region_wk')}",
        "sp_region_dg56": f"SELECT region, class, km2 FROM {_exp('region_deg56')}",
        "sp_degraded56": f"SELECT country, class, km2 FROM {_exp('deg56')}",
        "sp_knn_topk": f"""SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
                   CAST(feature_id AS INT) AS feature_id, country,
                   CAST(dist_deg AS DOUBLE) AS dist_deg,
                   CAST(dist_km AS DOUBLE) AS dist_km,
                   CAST("rank" AS INT) AS "rank" FROM {_exp('knn_topk')}""",
        "sp_classify_slope": f"""
            SELECT CAST(floor(y / 10) AS INT) AS y,
                   CAST(floor(x / 10) AS INT) AS x,
                   {', '.join(
                       f"CAST(sum(CASE WHEN slope >= {lo} AND slope "
                       f"{'<= 90.0' if i == 7 else '< ' + str(hi)} "
                       f"THEN 1 ELSE 0 END) AS BIGINT) AS c{i + 1}"
                       for i, (lo, hi) in enumerate(
                           zip([0.0, 0.5, 2.0, 5.0, 8.0, 15.0, 30.0, 45.0],
                               [0.5, 2.0, 5.0, 8.0, 15.0, 30.0, 45.0, 90.0])))},
                   CAST(coalesce(floor(avg(CASE WHEN slope >= 0.0 AND slope <= 90.0
                                           THEN slope END)), 127) AS INT) AS mean_class
            FROM read_parquet('{FX_DIR}/raw_slope.parquet')
            GROUP BY 1, 2""",
        "sp_fao_slope": f"""
            SELECT cell_id, CAST(y AS INT) AS y, CAST(x AS INT) AS x,
                   {', '.join(
                       f"CAST(max(CASE WHEN band = {b} THEN pct END) AS INT)"
                       f" AS cl{b}" for b in range(1, 9))}
            FROM ({' UNION ALL '.join(
                       f"SELECT cell_id, y, x, {b} AS band, pct "
                       f"FROM read_parquet("
                       f"'{FX_DIR}/cells_slope_fao_b{b}.parquet')"
                       for b in range(1, 9))})
            GROUP BY cell_id, y, x
            HAVING NOT ({' AND '.join(
                       f"max(CASE WHEN band = {b} THEN pct END) = 255"
                       for b in range(1, 9))})""",
        "sp_tiles": f"""SELECT cell_id, CAST(aez_code AS INT) AS aez_code,
                   CAST(slope_code AS INT) AS slope_code, CAST(lu_code AS INT) AS lu_code,
                   CAST(soil_code AS INT) AS soil_code FROM {_exp('tiles')}""",
        "sp_doc_assignment": f"""SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
                   CAST(feature_id AS INT) AS feature_id, country, method,
                   CAST(aez_code AS INT) AS aez_code FROM {_exp('doc_assignment')}""",
        "sp_knn_fallback": f"""SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
                   CAST(feature_id AS INT) AS feature_id, country
                   FROM {_exp('doc_assignment')} WHERE method = 'knn'""",
        "sp_within_distance": f"""SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
                   CAST(feature_id AS INT) AS feature_id, country,
                   CAST(dist_deg AS DOUBLE) AS dist_deg,
                   CAST(dist_km AS DOUBLE) AS dist_km
                   FROM {_exp('doc_within')}""",
        "sp_doc_zone_counts": f"""
            SELECT country, CAST(aez_code AS INT) AS aez_code,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM (SELECT DISTINCT country, aez_code, doc_id FROM {_exp('doc_assignment')})
            GROUP BY country, aez_code""",
    }
