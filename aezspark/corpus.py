"""Training-data pipeline operators over document/embedding corpora.

Beyond the reference's operators, a 100 TB training-data engine needs
dedup / similarity-search / text-analysis / multimodal primitives. All are
DataFrame-first: hashing and set algebra stay JVM-side (md5, higher-order
array functions); only the multimodal decode stub drops to an Arrow-batched
pandas UDF (and is clearly marked as a deterministic fake — the image/audio
codecs aren't in this container; the Spark-side plumbing is real).

Determinism/cross-engine rules (the DuckDB oracle must reproduce values):
  * the only hash primitive is md5-hex — identical in Spark and DuckDB;
  * "numeric" hashes are hex-string comparisons (min over hex strings), never
    engine-specific 64-bit hashes;
  * LSH hyperplanes are generated driver-side (hashlib) and injected as
    literals into BOTH the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------- dedup

def _spread(df: DataFrame, min_bytes: int) -> DataFrame:
    """Parallelize compute-heavy work above an UNSPLITTABLE scan (guide
    §2.5 'input skew: one huge unsplittable file … repartition immediately
    after the read'): a single-row-group parquet file (or a gzip) scans as
    ONE task, and every narrow op fused into its stage (explode, md5,
    partial aggregation) serializes with it. A round-robin repartition
    moves that work onto all cores — but the extra Exchange only pays when
    a task actually holds a lot of input, so it fires ONLY when (a) the
    planned scan parallelism is below the session's shuffle parallelism
    AND (b) the average bytes per planned partition exceed `min_bytes`
    (each caller sets its own floor from its work per input byte). At
    production scale the scan has >= shuffle.partitions splits and this is
    a no-op. Deterministic under retries: sort-before-repartition is on by
    default (SPARK-23207)."""
    # size first: the stats lookup is a cheap driver-side plan property,
    # while .rdd instantiates the physical plan — don't pay the latter for
    # the (common) small-corpus case
    size = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    if size < min_bytes:
        return df
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n = df.rdd.getNumPartitions()
    if n >= target or size // max(n, 1) < min_bytes:
        return df
    return df.repartition(target)


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); keep the smallest doc_id as
    canonical, report cluster size. Map-side partial agg handles hot hashes."""
    return (docs
            .withColumn("text_hash", F.md5(F.col(text_col)))
            .groupBy("text_hash")
            .agg(F.min("doc_id").alias("canonical_doc_id"),
                 F.count("*").alias("cluster_size")))


def char_shingles(docs: DataFrame, text_col: str = "text", k: int = 8,
                  doc_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """Character k-gram shingles per doc. explode(sequence) — no Python in
    the loop.

    distinct=True gives the shingle SET (required by Jaccard set algebra)
    and stays the safe default. Duplicate-insensitive consumers (MinHash:
    min over a multiset equals min over its set; fingerprint: collect_set)
    pass distinct=False to make the no-dedup intent explicit — with the
    affine MinHash construction (a plain agg directly over the shingles,
    no seed-explode between) Catalyst's redundant-aggregate elimination
    already collapses the distinct under duplicate-agnostic aggregates,
    so both spellings compile to the SAME single-Exchange plan
    (verified: executedPlan identical at sf0.01). Under the OLD
    md5-per-(seed,shingle) construction the Generate (seed-explode)
    blocked that rewrite and the distinct was a real, measured trade;
    that era is over. distinct=False also keeps the plan honest for
    consumers the optimizer can't see through."""
    n = F.length(F.col(text_col)) - F.lit(k - 1)
    # guard: Spark sequence(1, 0) counts DOWN, it is not empty — emit an
    # empty array for texts shorter than k instead
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>"))
    # lower spread floor than the default: each input byte fans out into ~k
    # shingle bytes plus an md5, so even a sub-MB single-task scan carries
    # ~seconds of serialized digest work (measured 0.5 s win at a 0.6 MB /
    # 565k-shingle corpus; the exchange itself costs ~0.3 s)
    out = (_spread(docs.select(doc_col, text_col), min_bytes=256 << 10)
           .withColumn("i", F.explode(idx))
           .select(doc_col,
                   F.substring(F.col(text_col), F.col("i"), k).alias("shingle")))
    return out.distinct() if distinct else out


MINHASH_P = 2147483647  # 2^31 - 1: both engines' BIGINT arithmetic is exact


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (a_s, b_s) for the permutation
    family h -> (a_s*h + b_s) mod p, shared as LITERALS by the Spark plan
    and the DuckDB oracle (fixed Lehmer LCG, so the table is reproducible
    from num_hashes alone). a_s is never 0 mod p (LCG state stays in
    [1, p-1])."""
    out, x = [], 1
    for _ in range(num_hashes):
        x = (x * 48271) % MINHASH_P
        a = x
        x = (x * 48271) % MINHASH_P
        out.append((a, x))
    return out


def minhash_signatures(shingles: DataFrame, num_hashes: int = 8,
                       doc_col: str = "doc_id") -> DataFrame:
    """MinHash via ONE digest per shingle + affine permutations:
    h = int(md5(shingle)[:15], 16) mod p; sig_s(doc) = min_shingles
    (a_s*h + b_s) mod p — the standard universal-hash MinHash family,
    engine-portable (DuckDB mirrors h via ('0x'||substr(md5,1,15))::BIGINT).

    Shape matters more than the digest count: all `num_hashes` mins are
    computed in ONE groupBy(doc) as separate aggregate columns — no
    seed-explode — so the map side emits one (doc, 8×8-byte) row per doc
    per partition instead of 8 keyed rows of 32-char strings (the previous
    md5-per-(seed,shingle) construction: 8× the digests, 8× the shuffle
    keys, string min instead of BIGINT min). The long (doc_id, seed, sig)
    output shape is restored by a narrow post-shuffle unpivot.
    a_s*h ≤ (p-1)^2 < 2^62: exact in BIGINT on both engines."""
    coeffs = minhash_coeffs(num_hashes)
    # projected digest before the agg — see minhash_band_buckets
    h = (F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
         % F.lit(MINHASH_P))
    hashed = shingles.select(doc_col, h.alias("_h"))
    wide = hashed.groupBy(doc_col).agg(
        *[F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_P))
          .alias(f"_s{s}") for s, (a, b) in enumerate(coeffs)])
    pairs = F.array(*[F.struct(F.lit(s).cast("int").alias("seed"),
                               F.col(f"_s{s}").alias("sig"))
                      for s in range(num_hashes)])
    return (wide.select(doc_col, F.explode(pairs).alias("p"))
            .select(doc_col, F.col("p.seed").alias("seed"),
                    F.col("p.sig").alias("sig")))


def lsh_buckets(signatures: DataFrame, rows_per_band: int = 2,
                doc_col: str = "doc_id") -> DataFrame:
    """Band the signature: bucket = md5(concat of the band's sigs in seed
    order). Docs sharing any (band, bucket) are near-dup candidates."""
    return (signatures
            .withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
            .groupBy(doc_col, "band")
            .agg(F.md5(F.concat_ws("|", F.sort_array(
                F.collect_list(F.concat_ws(":", "seed", "sig"))))).alias("bucket")))


def minhash_band_buckets(shingles: DataFrame, num_hashes: int = 8,
                         rows_per_band: int = 2,
                         doc_col: str = "doc_id") -> DataFrame:
    """minhash_signatures + lsh_buckets FUSED into one aggregation: the band
    buckets are computed as projections over the WIDE per-doc signature frame
    (one groupBy(doc) — the same Exchange minhash_signatures already pays)
    instead of exploding to (doc, seed, sig) rows and re-aggregating by
    (doc, band), which costs a SECOND full Exchange keyed (doc, band). Same
    bucket values bit-for-bit: band b's bucket is md5 over the
    lexicographically sorted {"seed:sig"} strings of its rows_per_band seeds,
    exactly lsh_buckets' collect_list+sort_array construction
    (tests/test_lsh_fused.py pins equality). Output: (doc_col, band, bucket),
    one row per (doc, band) via a narrow explode — plan shape
    scan → [Exchange doc] → project → Generate, versus the unfused
    scan → [Exchange doc] → Generate → [Exchange (doc, band)]."""
    if num_hashes % rows_per_band != 0:
        raise ValueError("num_hashes must be a multiple of rows_per_band")
    coeffs = minhash_coeffs(num_hashes)
    # one md5+conv per shingle, PROJECTED before the aggregation: inlining
    # `h` into all num_hashes min() update expressions relies on aggregate
    # subexpression elimination to avoid num_hashes digests per row — an
    # explicit projection guarantees it and shrinks the generated update
    # code to num_hashes affine transforms of one long column
    h = (F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
         % F.lit(MINHASH_P))
    hashed = shingles.select(doc_col, h.alias("_h"))
    wide = hashed.groupBy(doc_col).agg(
        *[F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_P))
          .alias(f"_s{s}") for s, (a, b) in enumerate(coeffs)])
    bands = []
    for band in range(num_hashes // rows_per_band):
        seeds = range(band * rows_per_band, (band + 1) * rows_per_band)
        entries = F.array(*[
            F.concat_ws(":", F.lit(str(s)), F.col(f"_s{s}")) for s in seeds])
        bucket = F.md5(F.concat_ws("|", F.sort_array(entries)))
        bands.append(F.struct(F.lit(band).cast("int").alias("band"),
                              bucket.alias("bucket")))
    return (wide.select(doc_col, F.explode(F.array(*bands)).alias("b"))
            .select(doc_col, F.col("b.band").alias("band"),
                    F.col("b.bucket").alias("bucket")))


def _drop_hot_buckets(df: DataFrame, keys: list[str], cap: int, prefix: str,
                      observation=None, doc_col: str = "doc_id") -> DataFrame:
    """The hot-bucket guard shared by lsh_candidate_pairs and simhash_pairs:
    keep the rows of buckets (groups over `keys`) with 2..cap members.
    Singletons cannot pair, so dropping them never changes a result; it
    only keeps the majority of a mostly-unique corpus out of the self-join.

    The bucket size is a window count over the join's own keys, and the
    kept rows are materialised with localCheckpoint, so the self-join reads
    the checkpoint instead of re-running the subtree on each side. With an
    `observation`, the same checkpoint job reports
    {prefix}_dropped_buckets and {prefix}_dropped_members. Spark refuses
    window expressions in observed metrics, so the size and a first-member
    flag are projected first (a doc occurs at most once per bucket). The
    observation only adds that projection below the checkpoint: the plan
    that reads it is the same with or without telemetry, and the metrics
    arrive even when no pair survives."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys)
    df = df.withColumn("_bsz", F.count("*").over(w))
    if observation is not None:
        over = F.col("_bsz") > cap
        df = (df.withColumn("_first", F.col(doc_col) == F.min(doc_col).over(w))
              .observe(observation,
                       F.sum((over & F.col("_first")).cast("long"))
                       .alias(f"{prefix}_dropped_buckets"),
                       F.sum(over.cast("long"))
                       .alias(f"{prefix}_dropped_members"))
              .drop("_first"))
    return (df.filter((F.col("_bsz") >= 2) & (F.col("_bsz") <= cap))
            .drop("_bsz").localCheckpoint())


def lsh_candidate_pairs(buckets: DataFrame, doc_col: str = "doc_id",
                        max_bucket_size: int | None = 64,
                        observation=None) -> DataFrame:
    """Self-join on (band, bucket) → distinct unordered candidate pairs.
    The bucket join is the scale path: no all-pairs comparison ever happens.

    Hot-bucket guard (the classic 100 TB LSH failure): a degenerate bucket —
    N boilerplate/near-empty texts sharing one signature — makes the
    bucket-local join quadratic WITHIN that bucket. Policy: (band, bucket)
    groups larger than `max_bucket_size` are dropped, bounding per-bucket work
    at cap², with a deliberate recall trade documented here: an over-cap
    bucket is (by LSH construction) a mass of near-identical members, and the
    right pipeline routes those through exact_dedup FIRST — N identical texts
    share identical signatures in EVERY band, so the cap removes the N²·bands
    candidate blow-up while exact dedup still collapses them
    (tests/test_lsh_hot_bucket.py pins both halves). The guard is a window
    count over (band, bucket), materialised once before the self-join (see
    _drop_hot_buckets), so this call runs one Spark job.
    max_bucket_size=None disables the guard (small-N baselines only).

    No silent caps: pass a pyspark.sql.Observation as `observation` and the
    run reports how much the guard actually dropped —
    lsh_dropped_buckets / lsh_dropped_members metrics, ready when this call
    returns (jobs/run_aez.py --queries dedup surfaces them;
    tests/test_lsh_hot_bucket.py asserts them on the adversarial
    boilerplate fixture)."""
    if max_bucket_size is not None:
        buckets = _drop_hot_buckets(buckets, ["band", "bucket"],
                                    max_bucket_size, "lsh", observation,
                                    doc_col)
    a = buckets.select(F.col(doc_col).alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col(doc_col).alias("doc_b"), "band", "bucket")
    return (a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())


def jaccard_pairs(shingles: DataFrame, pairs: DataFrame,
                  doc_col: str = "doc_id") -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs via shingle-set join:
    |A∩B| from a shingle equi-join, |A∪B| = |A|+|B|−|A∩B|."""
    sizes = shingles.groupBy(doc_col).agg(F.count("*").alias("sz"))
    a = shingles.select(F.col(doc_col).alias("doc_a"), "shingle")
    b = shingles.select(F.col(doc_col).alias("doc_b"), "shingle")
    inter = (pairs.join(a, "doc_a").join(b, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.select(F.col(doc_col).alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
            .join(sizes.select(F.col(doc_col).alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
            .select("doc_a", "doc_b",
                    (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                     ).alias("jaccard")))


def simhash(docs: DataFrame, text_col: str = "text",
            bits: int = 64) -> DataFrame:
    """`bits`-bit SimHash over whitespace tokens (default 64): per-token
    md5 → leading hex nibbles → bits; simhash bit j = sign of
    Σ_tokens (2·bit_j − 1). md5's 32 hex digits cap bits at 128; 64 uses
    the first 16 digits.

    Shuffle shape: ONE row per token through the groupBy — the per-bit
    sums are `bits` conditional aggregate expressions over the SAME row
    (bit j is a literal-position nibble extract of the token hash), not a
    ×bits J-explode (the round-2 form inflated shuffle input 16×; same
    values, 1/bits-th the shuffle — per-bit sign uses Σ(2b−1) = 2Σb − n,
    so only Σb per bit plus one shared token count cross the shuffle).

    The result is a SIGNED int64: bit 63's weight is −2⁶³ (two's
    complement) so the value round-trips through BIGINT on both engines —
    Hamming distance over the raw bits is unaffected."""
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash: bits must be in [1, 64], got {bits}")
    # NOTE (r7): a conv()-based decode (token md5 → one long, per-bit
    # shift+AND) was tried and measured SLOWER than the per-bit
    # substring/instr probe below, warm (1.58 s vs 1.38 s min at sf0.1)
    # and cold (1.36× in fresh-JVM single-shot A/B) — NumberConverter's
    # per-row allocation beats 64 cheap codegen string probes. Kept as-is;
    # tests/test_lsh_fused.py pins both decodes equal.
    # NOTE (r7): two reformulations of the bit decode were tried and
    # measured NO faster than this inline instr probe — a conv()-based
    # long decode (1.36× slower cold; NumberConverter allocation) and a
    # pre-projected hex-digit form (within noise warm, slightly slower
    # cold) — so the r6 expression stays; only the unsplittable-scan
    # spread guard is new. Both alternates remain parity-pinned in
    # tests/test_lsh_fused.py.
    # 4 MB spread floor: below it the extra Exchange costs more than the
    # serialized token-md5 work it spreads over tasks (measured at the 0.6 MB
    # sf0.1 corpus); above it an unsplittable scan carries seconds of
    # single-task digest work. Work-per-byte here is ~6× lower than the
    # shingle path, hence the higher floor than char_shingles' 256 KB.
    tokens = (_spread(docs.select("doc_id", text_col), min_bytes=4 << 20)
              .select("doc_id",
                      F.explode(F.split(F.col(text_col), " ")).alias("tok"))
              .withColumn("h", F.md5(F.col("tok"))))

    def bit(j: int):
        pos, shift = 1 + j // 4, 3 - j % 4
        return F.expr(
            f"shiftright(instr('0123456789abcdef', substring(h, {pos}, 1)) - 1,"
            f" {shift}) & 1")

    agg = (tokens.groupBy("doc_id")
           .agg(F.count("*").alias("n"),
                *[F.sum(bit(j)).alias(f"b{j}") for j in range(bits)]))
    sim = None
    for j in range(bits):
        # sign test: Σ(2·bit−1) > 0  ⟺  2·Σbit − n > 0
        weight = -(1 << 63) if j == 63 else (1 << j)
        t = (F.when(F.lit(2) * F.col(f"b{j}") - F.col("n") > 0,
                    F.lit(weight).cast("long"))
             .otherwise(F.lit(0).cast("long")))
        sim = t if sim is None else sim + t
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_pairs(sh: DataFrame, max_hamming: int = 3,
                  bits: int = 64, max_bucket_size: int | None = 64,
                  observation=None) -> DataFrame:
    """Near-dup pairs from simhash fingerprints at Hamming distance
    ≤ max_hamming — the pigeonhole block banding of Manku et al. (WWW'07,
    "Detecting near-duplicates for web crawling"): split the fingerprint
    into max_hamming+1 blocks; two fingerprints within distance d differ in
    at most d blocks, so they must agree EXACTLY on ≥1 block. Bucket-join
    on (block_idx, block_value), then verify the true distance with ONE
    bit_count(xor) on the candidates — COMPLETE by pigeonhole (no missed
    pairs, unlike probabilistic MinHash banding) and never a cartesian:
    the join shuffles 8-byte keys, |pairs| is bounded by block-bucket
    collisions.

    `bits` must be the width of the fingerprints actually in `sh`
    (ADVICE r5): declaring 64 over 16-bit fingerprints leaves 3 of the 4
    pigeonhole blocks all-zero for EVERY document — every doc collides in
    those bands and the self-join goes quadratic over the corpus while
    staying "correct". The plan therefore asserts each fingerprint fits
    the declared width (one branch-free shift+compare per row; for
    bits=64 any int64 fits and the check is skipped).

    Hot-block guard (same policy, helper and telemetry as
    `lsh_candidate_pairs`): a degenerate corpus — thousands of
    empty/boilerplate docs sharing one fingerprint — makes some
    (block_idx, block_val) bucket quadratic. Buckets over
    `max_bucket_size` are DROPPED, with the recall trade disclosed via
    `observation` (simhash_dropped_buckets / _members): an over-cap bucket
    is a mass of block-identical members, and the right pipeline routes
    identical docs through exact_dedup FIRST (identical docs share the
    fingerprint, hence every block). Pigeonhole completeness then holds for
    every pair with at least one retained agreeing block.
    max_bucket_size=None disables the guard (small-N baselines and
    brute-force-parity tests only).

    Returns (doc_a, doc_b, hamming), doc_a < doc_b."""
    nb = max_hamming + 1
    if not 1 <= nb <= bits:
        raise ValueError(f"need 1..{bits} blocks, got {nb}")
    if bits < 64:
        # fingerprint-width guard: fail LOUDLY on the first fingerprint
        # that has bits above the declared width instead of silently
        # degrading to a quadratic join on all-zero top blocks
        sh = sh.withColumn("simhash", F.when(
            F.shiftrightunsigned(F.col("simhash"), bits) == 0,
            F.col("simhash")).otherwise(F.raise_error(F.concat(
                F.lit(f"simhash_pairs: fingerprint wider than declared "
                      f"bits={bits}: "), F.col("simhash").cast("string")))))
    base, rem = divmod(bits, nb)
    blocks, off = [], 0
    for i in range(nb):
        w = base + (1 if i < rem else 0)
        blocks.append(F.shiftrightunsigned(F.col("simhash"), off)
                      .bitwiseAND(F.lit((1 << w) - 1)))
        off += w
    b = sh.select("doc_id", "simhash",
                  F.posexplode(F.array(*blocks)).alias("block_idx", "block_val"))
    if max_bucket_size is not None:
        b = _drop_hot_buckets(b, ["block_idx", "block_val"], max_bucket_size,
                              "simhash", observation)
    l = b.select(F.col("doc_id").alias("doc_a"),
                 F.col("simhash").alias("sim_a"), "block_idx", "block_val")
    r = b.select(F.col("doc_id").alias("doc_b"),
                 F.col("simhash").alias("sim_b"), "block_idx", "block_val")
    cand = (l.join(r, ["block_idx", "block_val"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "sim_a", "sim_b")
            .distinct())  # a close pair agrees on several blocks
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (cand.withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


# ---------------------------------------------------- similarity search

def lsh_planes(dim: int, num_planes: int = 8) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 parity — generated driver-side,
    injected as literals into both the Spark plan and the oracle SQL."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _dot(vec_col: Column, lit_vec: list[float]) -> Column:
    arr = F.array(*[F.lit(float(v)) for v in lit_vec])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector — the exact
    baseline. One scan, JVM-side higher-order functions, orderBy+limit
    (Spark executes it as a TakeOrdered — no full sort)."""
    dot = _dot(F.col("embedding"), query_vec)
    norm = F.sqrt(F.aggregate(
        F.zip_with(F.col("embedding"), F.col("embedding"),
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    qnorm = float(sum(v * v for v in query_vec)) ** 0.5
    return (embeddings
            .select("vec_id", (dot / (norm * F.lit(qnorm))).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(k))


def lsh_bucket_ids(embeddings: DataFrame, planes: list[list[float]]) -> DataFrame:
    """ANN scale path: sign-random-projection bucket id per vector. Probing
    cost is bucket-local; at 100 TB the bucket is the shuffle/partition key."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        bucket = bucket + F.when(_dot(F.col("embedding"), plane) > 0,
                                 F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return embeddings.select("vec_id", bucket.alias("bucket"))


def ann_topk(embeddings: DataFrame, query_vec: list[float],
             planes: list[list[float]], k: int = 10) -> DataFrame:
    """LSH-bucketed ANN: restrict the exact cosine scan to the query's bucket
    (single-probe). Recall<1 by construction; the exact baseline is
    cosine_topk."""
    qbucket = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) > 0:
            qbucket |= 1 << p
    with_buckets = lsh_bucket_ids(embeddings, planes).filter(F.col("bucket") == qbucket)
    cand = embeddings.join(with_buckets.select("vec_id"), "vec_id")
    return cosine_topk(cand, query_vec, k)


def _pair_cosine() -> Column:
    """cosine(emb_a, emb_b) as a pure higher-order-function Column."""
    def dot(u, v):
        return F.aggregate(F.zip_with(u, v,
                                      lambda x, y: x.cast("double") * y.cast("double")),
                           F.lit(0.0), lambda acc, x: acc + x)
    return dot("emb_a", "emb_b") / (F.sqrt(dot("emb_a", "emb_a"))
                                    * F.sqrt(dot("emb_b", "emb_b")))


def embedding_neardup_exact(embeddings: DataFrame, threshold: float = 0.437) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT all-pairs form: every (a < b)
    with cosine > threshold via crossJoin.

    O(N²) by construction — this is the small-N correctness baseline that the
    bucketed scale path (embedding_neardup_pairs) is tested against; never
    register or run it on a real corpus."""
    a = embeddings.select(F.col("vec_id").alias("vec_a"),
                          F.col("embedding").alias("emb_a"))
    b = embeddings.select(F.col("vec_id").alias("vec_b"),
                          F.col("embedding").alias("emb_b"))
    return (a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("cosine", _pair_cosine())
            .filter(F.col("cosine") > threshold)
            .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine")))


def embedding_neardup_pairs(embeddings: DataFrame, planes: list[list[float]],
                            threshold: float = 0.437) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed scale path (the
    production form): sign-random-projection bucket per vector
    (lsh_bucket_ids), then a bucket-local equi-self-join — the same
    construction as ann_topk's single-probe. No all-pairs comparison ever
    happens: at 10⁹ vectors the join shuffles on `bucket` and each comparison
    set is one bucket, not the corpus.

    Recall < 1 by construction (near-dups straddling a hyperplane land in
    different buckets); the semantics are 'pairs in the same bucket with
    cosine > threshold', and the DuckDB oracle applies the identical bucket
    restriction with the same literal hyperplanes. embedding_neardup_exact is
    the exact baseline for recall measurement at small N."""
    b = lsh_bucket_ids(embeddings, planes)
    e = embeddings.join(b, "vec_id")
    a = e.select(F.col("vec_id").alias("vec_a"),
                 F.col("embedding").alias("emb_a"), "bucket")
    c = e.select(F.col("vec_id").alias("vec_b"),
                 F.col("embedding").alias("emb_b"), "bucket")
    return (a.join(c, "bucket")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("cosine", _pair_cosine())
            .filter(F.col("cosine") > threshold)
            .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine")))


def neardup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over candidate pairs → (doc_id, cluster_id),
    cluster_id = min doc_id of the component (deterministic, engine-portable
    string min). This is the step real dedup pipelines need after LSH: pair
    lists don't dedupe a corpus, cluster → canonical assignments do.

    Algorithm: iterative min-label propagation (label(v) ← min(label(v),
    min over neighbors)) to fixpoint — O(component diameter) joins; LSH
    candidate components are near-cliques, so convergence is 2-3 rounds in
    practice. Each round is a shuffle join on the edge list; lineage is cut
    per round with localCheckpoint so the plan doesn't grow. At 10⁹ docs this
    is the standard alternating-star CC shape; the oracle is a DuckDB
    recursive-CTE transitive closure over the same pairs.

    ONE Spark action per round: the convergence signal (count of nodes whose
    label changed) is an observe() metric collected BY the localCheckpoint
    materialization itself — no separate old-vs-new join+count job
    (tests/test_neardup_clusters.py asserts the per-round job count)."""
    from pyspark.sql import Observation

    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).cache()
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    converged = False
    for rnd in range(max_iters):
        nbr = (edges.join(labels.select(F.col("node").alias("dst"),
                                        F.col("label").alias("dst_label")), "dst")
               .groupBy("src").agg(F.min("dst_label").alias("nbr_label")))
        obs = Observation(f"cc_changed_{rnd}")
        new_labels = (labels.join(nbr, labels.node == nbr.src, "left")
                      .select(labels.node,
                              F.least(F.col("label"),
                                      F.coalesce("nbr_label", "label")).alias("label"),
                              (F.coalesce("nbr_label", "label") < F.col("label"))
                              .alias("_changed"))
                      .observe(obs, F.sum(F.col("_changed").cast("long"))
                               .alias("changed"))
                      .localCheckpoint())
        changed = obs.get["changed"] or 0
        # rebinding drops the only reference to the previous round's
        # checkpointed RDD; Spark's ContextCleaner unpersists it once the
        # py4j reference is collected, so storage stays O(1) rounds
        labels = new_labels.drop("_changed")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # min-label propagation advances one hop per round: a component with
        # diameter > max_iters would return SPLIT (wrong) clusters — fail
        # loudly instead (raise max_iters for pathological chain shapes)
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iters} rounds "
            f"(component diameter exceeds max_iters)")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def token_freq_topk(docs: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Global token frequency top-k (the vocabulary head a tokenizer trainer
    wants first). Deterministic total order: count DESC, token ASC — the same
    top-k on every engine. explode → groupBy: map-side partial aggregation
    absorbs the hot tokens; the final orderBy+limit is a TakeOrdered."""
    tok = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
    return (docs.select(tok)
            .filter(F.col("token") != "")
            .groupBy("token").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("token").asc())
            .limit(k))


def doc_top_term(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document keyword: the term with the highest in-doc frequency,
    ties broken by LOWER corpus document frequency (rarer ⇒ more specific),
    then lexicographically — an integer-only TF-IDF-style argmax that is
    bit-portable across engines (no float idf in the ordering)."""
    from pyspark.sql import Window as W

    terms = (docs.select("doc_id",
                         F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"))
             .filter(F.col("token") != ""))
    tf = terms.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = (terms.select("doc_id", "token").distinct()
           .groupBy("token").agg(F.count("*").alias("df")))
    w = W.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("df").asc(),
                                        F.col("token").asc())
    return (tf.join(df_, "token")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("token").alias("top_term"), "tf", "df"))


# ---------------------------------------------------------- text analysis

EN_STOPWORDS = ["the", "and", "of", "to", "in", "that", "is", "on", "for", "with"]
DE_STOPWORDS = ["der", "die", "das", "und", "ist", "auf", "den", "durch", "über", "alte"]


def _hits(tokens: Column, words: list[str]) -> Column:
    lst = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(lst, t)))


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword language heuristic: count language-marker tokens,
    predict the argmax (ties → 'en'). Pure array expressions."""
    tokens = F.split(F.lower(F.col(text_col)), " ")
    en = _hits(tokens, EN_STOPWORDS)
    de = _hits(tokens, DE_STOPWORDS)
    return docs.select(
        "doc_id", en.alias("en_hits"), de.alias("de_hits"),
        F.when(de > en, "de").otherwise("en").alias("pred_lang"))


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: length, token count, punctuation ratio, stopword
    ratio, composite score — the usual pre-training corpus filters."""
    tokens = F.split(F.col(text_col), " ")
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(tokens)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), "[.,!?;:]", ""))
    stop_hits = _hits(F.split(F.lower(F.col(text_col)), " "), EN_STOPWORDS)
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    score = (F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
             + stop_ratio * F.lit(0.4)
             - punct_ratio * F.lit(0.1))
    return docs.select(
        "doc_id", n_chars.alias("n_chars"), n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"))


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish proxy: alnum runs + count of
    non-alnum/non-space marks (RE2-safe on both engines — no lookarounds)."""
    ws = F.size(F.split(F.col(text_col), "\\s+"))
    runs = F.size(F.expr(f"regexp_extract_all({text_col}, '[A-Za-z0-9]+', 0)"))
    marks = F.length(F.regexp_replace(F.col(text_col), "[A-Za-z0-9\\s]", ""))
    return docs.select("doc_id", ws.alias("ws_tokens"),
                       (runs + marks).alias("bpeish_tokens"))


def fingerprint(docs: DataFrame, text_col: str = "text", k: int = 8,
                keep: int = 4) -> DataFrame:
    """Document fingerprint: the `keep` lexicographically-smallest k-gram
    md5s, joined — a winnowing-style sketch stable under small edits."""
    sh = char_shingles(docs, text_col, k, distinct=False)  # collect_set dedups
    return (sh.withColumn("h", F.md5("shingle"))
            .groupBy("doc_id")
            .agg(F.concat_ws(",", F.slice(F.sort_array(F.collect_set("h")), 1, keep))
                 .alias("fingerprint")))


def ivf_centroids(dim: int, k: int = 8) -> list[list[float]]:
    """Deterministic IVF coarse centroids from md5 nibbles, driver-side
    literals injected into both the Spark plan and the oracle SQL. Production
    swaps in k-means-trained centroids the same way (training is an offline
    job; the query-path plan shape — assign → partition-restricted exact
    search — is what this exercises)."""
    cents = []
    for c in range(k):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"centroid:{c}:{d}".encode()).hexdigest()
            row.append((int(h[:2], 16) - 127.5) / 127.5)
        cents.append(row)
    return cents


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]],
               keep_embedding: bool = False) -> DataFrame:
    """IVF list assignment: each vector goes to its max-dot-product coarse
    centroid (ties → higher centroid id; exact fp ties are avoided by the
    irrational-ish centroid coordinates). At 100 TB the centroid id is the
    partition key — queries touch one list (or nprobe lists), not the corpus.
    keep_embedding=True carries the vector through (the index-build CTAS
    shape, write_ivf_index)."""
    entries = F.array(*[
        F.struct(_dot(F.col("embedding"), c).alias("d"),
                 F.lit(i).alias("i"))
        for i, c in enumerate(centroids)])
    top = F.sort_array(entries, asc=False)[0]
    cols = ["vec_id", top["i"].alias("centroid_id")]
    if keep_embedding:
        cols.append(F.col("embedding"))
    return embeddings.select(*cols)


# --------------------------------------------------- materialized ANN index

def write_ivf_index(embeddings: DataFrame, centroids: list[list[float]],
                    path: str) -> None:
    """Materialize the IVF index: embeddings + centroid_id written
    partitionBy('centroid_id') — the offline CTAS that makes probes
    partition-pruned reads (the ANN analog of the bucketed tiles table).
    At 100 TB this is the one full-corpus pass; every query after it reads
    only its nprobe partitions (PartitionFilters in the scan, verified by
    tests/test_ann_index.py and PLANS.md)."""
    (ivf_assign(embeddings, centroids, keep_embedding=True)
     # cluster onto the partition column first: bare partitionBy emits one
     # file per (task × centroid) — measured 32 files for 8 cells at sf0.01;
     # a probe should read ONE file per probed cell, not a shard per writer
     # task. At corpus scales where one cell exceeds a good file size,
     # repartition(n, col, salt) bounds file size instead.
     .repartition("centroid_id")
     .write.mode("overwrite").partitionBy("centroid_id").parquet(path))


def write_lsh_index(embeddings: DataFrame, planes: list[list[float]],
                    path: str) -> None:
    """Materialize the sign-LSH index: embeddings + bucket written
    partitionBy('bucket'); single- or multi-probe reads prune to the probed
    bucket partitions."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        bucket = bucket + F.when(_dot(F.col("embedding"), plane) > 0,
                                 F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    (embeddings.select("vec_id", "embedding", bucket.alias("bucket"))
     .repartition("bucket")  # one file per bucket, not per (task × bucket):
     # the unclustered write measured 400 files for 256 buckets at sf0.01
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def ivf_topk_indexed(index_df: DataFrame, query_vec: list[float],
                     centroids: list[list[float]], k: int = 10,
                     nprobe: int = 1) -> DataFrame:
    """IVF ANN top-k over the MATERIALIZED index (read_parquet of
    write_ivf_index output): the centroid_id filter is a literal isin over a
    partition column, so the scan reads only the nprobe probed partitions
    (PartitionFilters; no assignment recompute, no full-corpus scan — the
    round-3 registered probe recomputed assignments over the whole table
    each query, an unpruned scan at scale). Same values as ivf_topk."""
    probes = query_probe_lists(query_vec, centroids, nprobe)
    cand = index_df.filter(F.col("centroid_id").isin(probes))
    return cosine_topk(cand, query_vec, k)


def ann_topk_indexed(index_df: DataFrame, query_vec: list[float],
                     planes: list[list[float]], k: int = 10) -> DataFrame:
    """Sign-LSH ANN top-k over the MATERIALIZED bucket index: single-probe =
    one partition read (PartitionFilters on bucket). Same values as
    ann_topk."""
    qbucket = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) > 0:
            qbucket |= 1 << p
    cand = index_df.filter(F.col("bucket") == qbucket)
    return cosine_topk(cand, query_vec, k)


# ------------------------------------------------------- k-means training

KMEANS_SCALE = 1 << 20


def _fixed(col: Column) -> Column:
    """Fixed-point quantize a double: floor(v·2²⁰ + 0.5) as BIGINT — the
    unambiguous round-half-up both engines implement identically."""
    return F.floor(col * F.lit(float(KMEANS_SCALE)) + F.lit(0.5)).cast("long")


def _l2_assign_col(centroids: list[list[float]]) -> Column:
    """argmin_c ||x−c||² as a Column: compare −2·x·c + ||c||² (||x||² is
    constant per row); ties → LOWER centroid id (sort asc on (score, i)).
    ||c||² is accumulated left-to-right over dims, exactly like the numpy
    mirror (corpus.ivf_train_numpy), so scores are bit-identical."""
    entries = []
    for i, c in enumerate(centroids):
        c_norm2 = 0.0
        for v in c:
            c_norm2 += float(v) * float(v)
        score = F.lit(-2.0) * _dot(F.col("embedding"), c) + F.lit(c_norm2)
        entries.append(F.struct(score.alias("s"), F.lit(i).alias("i")))
    return F.sort_array(F.array(*entries))[0]["i"]


def ivf_train(embeddings: DataFrame, init_centroids: list[list[float]],
              iters: int = 4) -> list[list[float]]:
    """Seeded Lloyd k-means for the IVF coarse quantizer, as DataFrame ops:
    assign = argmin squared L2 (one scan, JVM-side expressions), recentre =
    groupBy(centroid).avg — the standard coarse-quantizer training (L2 Lloyd
    even for inner-product indexes, as FAISS does). Fixed iteration count +
    deterministic seed init (ivf_centroids) so the result is reproducible.

    EXACT cross-engine arithmetic: components are quantized to integers
    (floor(v·2²⁰ + 0.5)) and summed as BIGINT — integer addition is
    associative, so the per-cluster sums are independent of partitioning and
    reduce order, and the new centroid component s/(2²⁰·n) is one exact
    double division. tests/test_ivf_train.py pins bit-equality against the
    numpy mirror (ivf_train_numpy) and monotone inertia. An empty cluster
    keeps its previous centroid (deterministic; no re-seeding).

    Scale shape: per iteration one scan + one 8-group aggregation with
    map-side partials — no shuffle of vectors, only (k × dim) BIGINT cells.
    The collect is k rows."""
    cents = [list(map(float, c)) for c in init_centroids]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = embeddings.select(
            _l2_assign_col(cents).alias("centroid_id"), "embedding")
        agg = (assigned.groupBy("centroid_id")
               .agg(F.count("*").alias("n"),
                    *[F.sum(_fixed(F.col("embedding")[d].cast("double")))
                      .alias(f"s{d}") for d in range(dim)]))
        rows = {int(r["centroid_id"]): r for r in agg.collect()}
        new = []
        for i, c in enumerate(cents):
            r = rows.get(i)
            if r is None or r["n"] == 0:
                new.append(c)
            else:
                n = int(r["n"])
                new.append([r[f"s{d}"] / (KMEANS_SCALE * n)
                            for d in range(dim)])
        cents = new
    return cents


def ivf_train_numpy(embs, init_centroids, iters: int = 4):
    """Bit-exact numpy mirror of ivf_train (used by the DuckDB-oracle side
    and tests): same fixed-point sums, same left-to-right dot accumulation
    (per-dim vectorized adds preserve each row's fold order), same tie rule.
    embs: (n, dim) float64 array. Returns (centroids, inertia_per_iter)."""
    import numpy as np

    embs = np.asarray(embs, dtype=np.float64)
    n, dim = embs.shape
    cents = [list(map(float, c)) for c in init_centroids]
    inertia = []
    for _ in range(iters):
        scores = np.empty((n, len(cents)), dtype=np.float64)
        for i, c in enumerate(cents):
            dot = np.zeros(n, dtype=np.float64)
            c_norm2 = 0.0
            for d in range(dim):
                dot = dot + embs[:, d] * c[d]
                c_norm2 += float(c[d]) * float(c[d])
            scores[:, i] = -2.0 * dot + c_norm2
        assign = np.argmin(scores, axis=1)  # first minimum → lower id on ties
        # inertia uses the true squared distance (score + ||x||²)
        x_norm2 = np.zeros(n, dtype=np.float64)
        for d in range(dim):
            x_norm2 = x_norm2 + embs[:, d] * embs[:, d]
        inertia.append(float(np.sum(scores[np.arange(n), assign] + x_norm2)))
        q = np.floor(embs * KMEANS_SCALE + 0.5).astype(np.int64)
        new = []
        for i, c in enumerate(cents):
            sel = assign == i
            cnt = int(sel.sum())
            if cnt == 0:
                new.append(c)
            else:
                s = q[sel].sum(axis=0)
                new.append([v / (KMEANS_SCALE * cnt) for v in s.tolist()])
        cents = new
    return cents, inertia


def query_probe_lists(query_vec: list[float], centroids: list[list[float]],
                      nprobe: int) -> list[int]:
    """The query's nprobe highest-dot coarse lists, driver-side (ties → higher
    centroid id first, matching ivf_assign's tie rule) — injected as literals
    into both the Spark plan and the oracle SQL."""
    scored = sorted(((sum(a * b for a, b in zip(query_vec, c)), i)
                     for i, c in enumerate(centroids)),
                    key=lambda t: (-t[0], -t[1]))
    return [i for _, i in scored[:nprobe]]


def ivf_topk(embeddings: DataFrame, query_vec: list[float],
             centroids: list[list[float]], k: int = 10,
             nprobe: int = 1) -> DataFrame:
    """IVF ANN top-k: restrict the exact cosine scan to the query's nprobe
    nearest coarse lists. Complements ann_topk (sign-LSH buckets) with the
    inverted-file shape; recall grows with nprobe at probe-proportional cost
    (the list restriction is an isin over driver-side literal ids — at scale,
    partition pruning on the centroid_id partition key)."""
    probes = query_probe_lists(query_vec, centroids, nprobe)
    members = ivf_assign(embeddings, centroids).filter(
        F.col("centroid_id").isin(probes))
    cand = embeddings.join(members.select("vec_id"), "vec_id")
    return cosine_topk(cand, query_vec, k)


# ------------------------------------------------------------- multimodal

MEDIA_FEATURE_DIM = 4


def media_spans(span_docs: DataFrame) -> DataFrame:
    """Media spans of the interleaved corpus: modality + numeric id parsed
    from media_ref ('media://<modality>/<id>') with Column ops."""
    from .documents import explode_spans

    s = explode_spans(span_docs).filter(F.col("kind") == "media")
    return s.select(
        "doc_id", "span_idx", "offset", "media_ref",
        F.regexp_extract("media_ref", r"media://(\w+)/(\d+)", 1).alias("modality"),
        F.regexp_extract("media_ref", r"media://(\w+)/(\d+)", 2)
         .cast("long").alias("media_id"))


def decode_media_stub(media: DataFrame) -> DataFrame:
    """'Decode' media behind a mapInPandas kernel with REAL Spark plumbing
    (Arrow batches, explicit schema, vectorized body) and a FAKE deterministic
    payload: feature[d] = (media_id * (d+1)) % 97 / 97. The real container
    lacks image/audio codecs; swap `_fake_features` for a real decoder
    (PIL/torchaudio) to productionize — the plan shape doesn't change."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("span_idx", T.IntegerType()),
        T.StructField("modality", T.StringType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ])

    def _fake_features(media_id: "np.ndarray") -> list:
        cols = [((media_id * (d + 1)) % 97) / 97.0 for d in range(MEDIA_FEATURE_DIM)]
        return np.stack(cols, axis=1).tolist()

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mid = pdf["media_id"].to_numpy()
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "span_idx": pdf["span_idx"].astype("int32"),
                "modality": pdf["modality"],
                "features": _fake_features(mid),
            })

    return media.mapInPandas(kernel, schema)


def frame_sample_stub(media: DataFrame, modality: str = "vid") -> DataFrame:
    """Video frame sampling with REAL row-expansion plumbing and a FAKE
    deterministic payload (no video codecs in this container — swap the
    per-frame digest for a real decoder; the Arrow batch shape, schema, and
    1→N expansion are the production-relevant parts).

    Each '{modality}' span yields n_frames = media_id % 3 + 2 rows with a
    per-frame scalar digest = ((media_id * 31 + frame_idx * 7) % 97) / 97.
    Expansion is vectorized (np.repeat + tiled aranges), never per-row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("span_idx", T.IntegerType()),
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_digest", T.DoubleType()),
    ])

    def kernel(batches):
        for pdf in batches:
            pdf = pdf[pdf["modality"] == modality]
            if not len(pdf):
                continue
            mid = pdf["media_id"].to_numpy(dtype=np.int64)
            n_frames = (mid % 3 + 2).astype(np.int64)
            rep = np.repeat(np.arange(len(pdf)), n_frames)
            # frame_idx = 0..n-1 within each span, vectorized
            offsets = np.concatenate(([0], np.cumsum(n_frames)))[:-1]
            fidx = (np.arange(int(n_frames.sum())) - np.repeat(offsets, n_frames))
            mrep = mid[rep]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[rep],
                "span_idx": pdf["span_idx"].to_numpy()[rep].astype("int32"),
                "media_id": mrep,
                "frame_idx": fidx.astype("int32"),
                "frame_digest": ((mrep * 31 + fidx * 7) % 97) / 97.0,
            })

    return media.mapInPandas(kernel, schema)
