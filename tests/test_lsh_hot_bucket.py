"""Adversarial hot-bucket guard for LSH dedup (VERDICT r2 'wrong' #2): a mass
of identical/boilerplate texts shares one signature in EVERY band, so without
a cap the bucket-local self-join is quadratic within that bucket. The guard
must bound the pair count while exact_dedup still collapses the mass."""

from pyspark.sql import functions as F

from aezspark import corpus


def _adversarial_docs(spark, n_dups=300, n_unique=20):
    boiler = "the same boilerplate disclaimer text repeated on every page "
    rows = [(f"dup-{i:05d}", boiler * 3) for i in range(n_dups)]
    rows += [(f"uni-{i:05d}", f"genuinely distinct document number {i} "
              f"with its own content payload {i * 7919}") for i in range(n_unique)]
    return spark.createDataFrame(rows, "doc_id STRING, text STRING")


def test_hot_bucket_cap_bounds_pair_count(spark):
    docs = _adversarial_docs(spark)
    bks = corpus.lsh_buckets(corpus.minhash_signatures(corpus.char_shingles(docs)))
    # default guard (cap 64): the 300-doc identical bucket is dropped in
    # every band → pair count stays bounded by the unique docs' collisions
    capped = corpus.lsh_candidate_pairs(bks).count()
    assert capped < 1000, f"guard failed: {capped} pairs"
    # uncapped counterfactual: the identical mass alone is C(300,2) pairs
    uncapped = corpus.lsh_candidate_pairs(bks, max_bucket_size=None).count()
    assert uncapped >= 300 * 299 // 2
    # the right pipeline routes identical texts through exact dedup FIRST:
    # the mass collapses to one canonical row there, losing nothing
    mass = (corpus.exact_dedup(docs)
            .filter(F.col("cluster_size") == 300).collect())
    assert len(mass) == 1 and mass[0].canonical_doc_id == "dup-00000"


def test_cap_is_inert_below_threshold(spark):
    """Buckets at or under the cap are untouched: capped == uncapped on a
    corpus whose largest bucket is small (mirrors the sf0.01 oracle check,
    where max bucket size is 9)."""
    rows = [(f"d{i:03d}", f"short text sample number {i} padded out") for i in range(40)]
    rows += [("e000", rows[0][1]), ("e001", rows[1][1])]  # two small dup pairs
    docs = spark.createDataFrame(rows, "doc_id STRING, text STRING")
    bks = corpus.lsh_buckets(corpus.minhash_signatures(corpus.char_shingles(docs)))
    a = set(map(tuple, corpus.lsh_candidate_pairs(bks).collect()))
    b = set(map(tuple, corpus.lsh_candidate_pairs(bks, max_bucket_size=None).collect()))
    assert a == b and ("d000", "e000") in a


def test_guard_reports_drops_via_observation(spark):
    """No silent caps: the guard must account for every dropped bucket and
    member through the Observation metrics, and report zero when inert."""
    from pyspark.sql import Observation

    docs = _adversarial_docs(spark, n_dups=300, n_unique=20)
    bks = corpus.lsh_buckets(corpus.minhash_signatures(corpus.char_shingles(docs)))
    obs = Observation("lsh_guard")
    corpus.lsh_candidate_pairs(bks, observation=obs).count()
    m = obs.get
    # the 300-doc identical mass occupies one over-cap bucket in EVERY band
    # (4 bands at the default 8 hashes / 2 rows per band)
    assert m["lsh_dropped_buckets"] >= 4
    assert m["lsh_dropped_members"] >= 4 * 300

    # all-hot corpus: every bucket is over the cap, so no pair survives;
    # the drops must still be reported
    hot = _adversarial_docs(spark, n_dups=300, n_unique=0)
    bks_hot = corpus.lsh_buckets(
        corpus.minhash_signatures(corpus.char_shingles(hot)))
    obs_hot = Observation("lsh_guard_all_hot")
    assert corpus.lsh_candidate_pairs(bks_hot, observation=obs_hot).count() == 0
    m_hot = obs_hot.get
    assert m_hot["lsh_dropped_buckets"] >= 4
    assert m_hot["lsh_dropped_members"] >= 4 * 300

    obs2 = Observation("lsh_guard_inert")
    small = spark.createDataFrame(
        [(f"d{i}", f"clearly unique text number {i} here") for i in range(10)],
        "doc_id STRING, text STRING")
    bks2 = corpus.lsh_buckets(corpus.minhash_signatures(corpus.char_shingles(small)))
    corpus.lsh_candidate_pairs(bks2, observation=obs2).count()
    m2 = obs2.get
    assert (m2["lsh_dropped_buckets"] or 0) == 0
    assert (m2["lsh_dropped_members"] or 0) == 0


def test_guard_plan_same_with_or_without_observation(spark):
    """Asking for telemetry must not change the plan that runs: for both
    guarded self-joins, the executed plan with an Observation equals the
    one without, up to CollectMetrics nodes and expression/plan ids."""
    import re

    from pyspark.sql import Observation

    def plan(df):
        text = df._jdf.queryExecution().executedPlan().toString()
        text = "\n".join(l for l in text.splitlines()
                         if "CollectMetrics" not in l)
        return re.sub(r"#\d+|plan_id=\d+", "", text)

    docs = _adversarial_docs(spark)
    bks = corpus.lsh_buckets(corpus.minhash_signatures(corpus.char_shingles(docs)))
    assert (plan(corpus.lsh_candidate_pairs(bks, observation=Observation("p1")))
            == plan(corpus.lsh_candidate_pairs(bks)))
    sh = corpus.simhash(docs)
    assert (plan(corpus.simhash_pairs(sh, observation=Observation("p2")))
            == plan(corpus.simhash_pairs(sh)))
