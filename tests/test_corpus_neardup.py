"""Embedding near-dup: the registered plan must be bucket-joined, not
cartesian, and the bucketed result must be the bucket-restricted subset of the
exact all-pairs baseline (VERDICT r1 item 1)."""

import pytest
from pyspark.sql import functions as F

from aezspark import corpus


@pytest.fixture(scope="module")
def embeddings(spark):
    # deterministic tiny corpus: 40 vectors in 8 dims, with planted near-dups
    # (i and i+20 are scaled copies → cosine 1.0)
    rows = []
    for i in range(40):
        base = i % 20
        vec = [float((base * 7 + d * 3) % 11 - 5) for d in range(8)]
        scale = 1.0 if i < 20 else 2.0
        rows.append((i, [v * scale for v in vec]))
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")


def test_bucketed_plan_has_no_cartesian(embeddings):
    planes = corpus.lsh_planes(8, 4)
    plan = (corpus.embedding_neardup_pairs(embeddings, planes)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_plan_is_cartesian_baseline(embeddings):
    plan = (corpus.embedding_neardup_exact(embeddings)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def test_bucketed_is_bucket_restricted_subset_of_exact(embeddings):
    planes = corpus.lsh_planes(8, 4)
    exact = {(r.vec_a, r.vec_b): r.cosine
             for r in corpus.embedding_neardup_exact(embeddings).collect()}
    bucketed = {(r.vec_a, r.vec_b): r.cosine
                for r in corpus.embedding_neardup_pairs(embeddings, planes).collect()}
    # subset with identical cosines
    for pair, cos in bucketed.items():
        assert pair in exact
        assert cos == exact[pair]
    # the planted scaled copies share the bucket by construction (same signs)
    # so recall on them is 1.0 — the bucketed path finds every planted pair
    planted = {(i, i + 20) for i in range(20)}
    assert planted <= set(bucketed)


def test_bucket_restriction_matches_lsh_bucket_ids(embeddings):
    """Pairs reported = same-bucket pairs above threshold, exactly."""
    planes = corpus.lsh_planes(8, 4)
    buckets = {r.vec_id: r.bucket
               for r in corpus.lsh_bucket_ids(embeddings, planes).collect()}
    exact = {(r.vec_a, r.vec_b) for r in
             corpus.embedding_neardup_exact(embeddings).collect()}
    expected = {(a, b) for (a, b) in exact if buckets[a] == buckets[b]}
    got = {(r.vec_a, r.vec_b) for r in
           corpus.embedding_neardup_pairs(embeddings, planes).collect()}
    assert got == expected


def test_simhash_pairs_complete_vs_brute_force(spark):
    """Pigeonhole banding must find EXACTLY the Hamming<=d pairs (complete,
    no misses - unlike probabilistic MinHash banding) and plan a bucket
    join, never a cartesian."""
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight")
    rows = []
    for i in range(24):
        words = base.split()
        # small controlled edits so several pairs land within distance 3
        if i % 3 == 1:
            words[i % len(words)] = f"tok{i}"
        if i % 3 == 2:
            words[(2 * i) % len(words)] = f"tok{i}"
            words[(2 * i + 5) % len(words)] = f"alt{i}"
        rows.append((f"d{i:02d}", " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id STRING, text STRING")
    sh = corpus.simhash(docs)

    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in corpus.simhash_pairs(sh, max_hamming=3).collect()}

    fps = {r.doc_id: r.simhash & ((1 << 64) - 1) for r in sh.collect()}
    ids = sorted(fps)
    exp = {(a, b, bin(fps[a] ^ fps[b]).count("1"))
           for i, a in enumerate(ids) for b in ids[i + 1:]
           if bin(fps[a] ^ fps[b]).count("1") <= 3}
    assert got == exp
    assert exp  # the corpus actually contains near-dup pairs

    plan = (corpus.simhash_pairs(sh, max_hamming=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_hot_block_guard(spark):
    """Adversarial boilerplate mass (VERDICT r5 #3): hundreds of identical
    docs share one fingerprint, so every (block_idx, block_val) bucket they
    occupy goes quadratic without the cap. The guard must bound the pair
    count, account for every drop via the Observation, and stay inert on
    well-behaved corpora (capped == uncapped)."""
    from pyspark.sql import Observation

    boiler = "identical boilerplate footer text on every single page "
    rows = [(f"dup-{i:05d}", boiler * 2) for i in range(300)]
    rows += [(f"uni-{i:05d}", f"distinct document {i} payload {i * 7919} "
              f"with unique content words {i * 104729}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id STRING, text STRING")
    sh = corpus.simhash(docs)

    obs = Observation("simhash_guard")
    capped = corpus.simhash_pairs(sh, observation=obs).count()
    assert capped < 1000, f"guard failed: {capped} pairs"
    m = obs.get
    # the identical mass over-fills its bucket in EVERY one of the 4 blocks
    assert m["simhash_dropped_buckets"] >= 4
    assert m["simhash_dropped_members"] >= 4 * 300
    # all-hot corpus: the mass alone, every bucket over the cap, no pair
    # survives; the drops must still be reported
    obs_hot = Observation("simhash_guard_all_hot")
    sh_hot = corpus.simhash(docs.filter(F.col("doc_id").startswith("dup-")))
    assert corpus.simhash_pairs(sh_hot, observation=obs_hot).count() == 0
    m_hot = obs_hot.get
    assert m_hot["simhash_dropped_buckets"] >= 4
    assert m_hot["simhash_dropped_members"] >= 4 * 300
    # uncapped counterfactual: the mass alone is C(300,2) pairs
    assert (corpus.simhash_pairs(sh, max_bucket_size=None).count()
            >= 300 * 299 // 2)
    # exact_dedup upstream collapses the mass losing nothing
    mass = corpus.exact_dedup(docs).filter("cluster_size = 300").collect()
    assert len(mass) == 1 and mass[0].canonical_doc_id == "dup-00000"

    # inert on a clean corpus: capped == uncapped, zero drops reported
    clean = spark.createDataFrame(
        [(f"c{i:02d}", f"clearly unique text number {i} with payload "
          f"{i * 31337}") for i in range(30)],
        "doc_id STRING, text STRING")
    sh2 = corpus.simhash(clean)
    obs2 = Observation("simhash_guard_inert")
    a = set(map(tuple,
                corpus.simhash_pairs(sh2, observation=obs2).collect()))
    b = set(map(tuple,
                corpus.simhash_pairs(sh2, max_bucket_size=None).collect()))
    assert a == b
    m2 = obs2.get
    assert (m2["simhash_dropped_buckets"] or 0) == 0
    assert (m2["simhash_dropped_members"] or 0) == 0


def test_simhash_pairs_refuses_width_mismatch(spark):
    """Declared bits must match the fingerprints (ADVICE r5): 64-bit
    fingerprints under bits=16 would leave 3 of 4 blocks all-zero — a
    silent quadratic join — so the plan fails loudly instead. Matching
    16-bit fingerprints under bits=16 pass and agree with brute force."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    docs = spark.createDataFrame(
        [(f"d{i}", f"document number {i} some words {i * 7919}")
         for i in range(8)], "doc_id STRING, text STRING")
    wide = corpus.simhash(docs, bits=64)
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="wider than declared"):
        corpus.simhash_pairs(wide, bits=16).count()

    narrow = corpus.simhash(docs, bits=16)
    got = {(r.doc_a, r.doc_b, r.hamming) for r in
           corpus.simhash_pairs(narrow, bits=16,
                                max_bucket_size=None).collect()}
    fps = {r.doc_id: r.simhash & 0xFFFF for r in narrow.collect()}
    ids = sorted(fps)
    exp = {(a, b, bin(fps[a] ^ fps[b]).count("1"))
           for i, a in enumerate(ids) for b in ids[i + 1:]
           if bin(fps[a] ^ fps[b]).count("1") <= 3}
    assert got == exp
