"""Round-7 optimization parity pins.

1. minhash_band_buckets (the fused one-Exchange minhash+banding) must equal
   lsh_buckets(minhash_signatures(...)) row-for-row — the optimization may
   only change the plan shape, never a bucket value.
2. The conv-based simhash bit decode must equal the historical per-bit
   substring/instr decode bit-for-bit (both 64- and 16-bit widths).
3. The singleton-bucket pre-filter in lsh_candidate_pairs / simhash_pairs
   must not change the pair set vs the unguarded (max_bucket_size=None)
   form on a corpus with no over-cap buckets.
"""

import pytest
from pyspark.sql import functions as F

from aezspark import corpus


@pytest.fixture(scope="module")
def docs(spark, fx_dir):
    import os

    return spark.read.parquet(os.path.join(fx_dir, "documents.parquet")) \
        .select(F.col("doc_id").cast("string").alias("doc_id"),
                F.col("spans")[0]["text"].alias("text")) \
        .filter(F.col("text").isNotNull()).limit(800)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_fused_band_buckets_equal_unfused(docs):
    sh = corpus.char_shingles(docs, distinct=False)
    fused = corpus.minhash_band_buckets(sh)
    unfused = corpus.lsh_buckets(corpus.minhash_signatures(sh))
    assert _rows(fused, ["doc_id", "band", "bucket"]) == \
        _rows(unfused, ["doc_id", "band", "bucket"])


def _simhash_reference(docs, bits):
    """conv()-based decode mirror (token md5 → long, per-bit shift+AND):
    an independent formulation of the same bit extraction — it was tried
    as the production path in r7 and measured slower, but it stays here as
    a cross-check that the instr probe decodes the md5 nibbles correctly."""
    ndig1 = min(15, (bits + 3) // 4)
    tokens = (docs.select("doc_id",
                          F.explode(F.split(F.col("text"), " ")).alias("tok"))
              .withColumn("h", F.md5(F.col("tok")))
              .withColumn("h1", F.conv(F.substring("h", 1, ndig1), 16, 10)
                          .cast("long")))
    if bits > 60:
        tokens = tokens.withColumn(
            "h2", F.conv(F.substring("h", 16, 1), 16, 10).cast("long"))

    def bit(j):
        if j // 4 < ndig1:
            shift = 4 * (ndig1 - 1 - j // 4) + (3 - j % 4)
            return F.shiftright(F.col("h1"), shift).bitwiseAND(F.lit(1))
        return F.shiftright(F.col("h2"), 3 - j % 4).bitwiseAND(F.lit(1))

    agg = (tokens.groupBy("doc_id")
           .agg(F.count("*").alias("n"),
                *[F.sum(bit(j)).alias(f"b{j}") for j in range(bits)]))
    sim = None
    for j in range(bits):
        weight = -(1 << 63) if j == 63 else (1 << j)
        t = (F.when(F.lit(2) * F.col(f"b{j}") - F.col("n") > 0,
                    F.lit(weight).cast("long"))
             .otherwise(F.lit(0).cast("long")))
        sim = t if sim is None else sim + t
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


@pytest.mark.parametrize("bits", [64, 16])
def test_conv_bit_decode_equals_instr_decode(docs, bits):
    got = _rows(corpus.simhash(docs, bits=bits), ["doc_id", "simhash"])
    ref = _rows(_simhash_reference(docs, bits), ["doc_id", "simhash"])
    assert got == ref


def test_singleton_prefilter_does_not_change_pairs(docs):
    sh = corpus.char_shingles(docs, distinct=False)
    buckets = corpus.minhash_band_buckets(sh)
    guarded = corpus.lsh_candidate_pairs(buckets, max_bucket_size=10**9)
    baseline = corpus.lsh_candidate_pairs(buckets, max_bucket_size=None)
    assert _rows(guarded, ["doc_a", "doc_b"]) == \
        _rows(baseline, ["doc_a", "doc_b"])


def test_singleton_prefilter_simhash_pairs(docs):
    sim = corpus.simhash(docs, bits=64)
    guarded = corpus.simhash_pairs(sim, max_hamming=3,
                                   max_bucket_size=10**9)
    baseline = corpus.simhash_pairs(sim, max_hamming=3, max_bucket_size=None)
    assert _rows(guarded, ["doc_a", "doc_b", "hamming"]) == \
        _rows(baseline, ["doc_a", "doc_b", "hamming"])


def test_pyarrow_index_equals_spark_index(spark, fx_dir):
    """World's driver-side pyarrow boundary index must equal the Spark-read
    index polygon-for-polygon (r7: index build moved off the Spark action
    path)."""
    from aezspark import sources

    a = sources.boundary_index_from_path(fx_dir)
    b = sources.boundary_index(sources.read_boundaries(spark, fx_dir))
    assert len(a.polygons) == len(b.polygons)
    for pa_, pb in zip(a.polygons, b.polygons):
        assert pa_.feature_id == pb.feature_id
        assert pa_.country == pb.country
        import numpy as np
        assert np.array_equal(pa_.ring_lons, pb.ring_lons)
        assert np.array_equal(pa_.ring_lats, pb.ring_lats)
        assert len(pa_.hole_lons) == len(pb.hole_lons)
        for ha, hb in zip(pa_.hole_lons, pb.hole_lons):
            assert np.array_equal(ha, hb)


def test_world_countries_equals_countries_dim(spark, world, fx_dir):
    """World.countries_list (from the driver-side pyarrow index; it seeds
    every zonal grid) must equal the Spark-side countries_dim over the
    boundaries table."""
    from aezspark import sources

    got = world.countries_list
    exp = sorted(r["country"] for r in sources.countries_dim(
        spark, sources.read_boundaries(spark, fx_dir)).collect())
    assert got == exp
