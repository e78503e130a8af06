"""Round-7 optimization harness (bench.py is FROZEN for measurement; this
file holds the extra instrumentation the optimization guide §1 asks for).

Modes (argv[1]):
  time [queries...]   min-of-K wall time per bench query, SAME workloads as
                      bench.py (imports bench and calls its functions), one
                      warm JVM. K = BENCH_EXTRA_REPS (default 3).
  plans <tag> [qs..]  write .explain("formatted") for each query's DataFrame
                      to plans/r07/<query>_<tag>.txt (tag = before|after).
  stages              per-piece wall breakdown of the composite queries
                      (aez assignment vs aez agg, lsh sub-steps, ...).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("BENCH_DOCS", "200000"))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "plans", "r07")


def _spark():
    from aezspark.fixtures.generate import ensure_fixtures
    ensure_fixtures(bench.bench_fx_dir(N_DOCS), coarse_px=0.5, n_docs=N_DOCS,
                    with_expected=False)
    from aezspark.session import get_spark
    spark = get_spark("aezspark-bench-extra", master=f"local[{CPUS}]")
    spark.range(10_000_000).selectExpr("sum(id)").collect()
    import pandas as _pd
    (spark.range(0, CPUS * 4, 1, CPUS * 4)
     .mapInPandas(lambda it: (_pd.DataFrame({"id": b["id"]}) for b in it),
                  "id long").count())
    return spark


def _benches(spark):
    fx = bench.bench_fx_dir(N_DOCS)
    return {
        "flagship_docs": lambda: bench._flagship(spark, N_DOCS),
        "aez_by_country": lambda: bench._aez(spark, fx),
        "tile_classify": lambda: bench._tiles(spark, fx),
        "relational_core": lambda: bench._relational(spark, SF_DIR),
        "dedup_minhash_lsh": lambda: bench._dedup(spark, SF_DIR),
        "simhash": lambda: bench._simhash(spark, SF_DIR),
        "simhash_pairs": lambda: bench._simhash_pairs(spark, SF_DIR),
        "ann_cosine": lambda: bench._ann(spark, SF_DIR),
    }


def _query_dfs(spark):
    """The DataFrames underlying each bench query (for explain capture).
    Built on the same cached World/lookups bench.py uses."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from aezspark import corpus, documents as docs_mod

    w = bench._bench_world(spark, bench.bench_fx_dir(N_DOCS))
    tl = w.tile_lookup()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    sh = corpus.simhash(docs, bits=64)
    return {
        "flagship_docs": lambda: docs_mod.assign_zone_counts(
            w.documents(), w.bidx, tl, w.fine),
        "aez_by_country": lambda: w.aez(),
        "tile_classify": lambda: (w.tiles()
                                  .filter(F.col("aez_code") != 255)
                                  .groupBy("aez_code").count()),
        "relational_pricing": lambda: E.q_pricing_summary(spark, SF_DIR),
        "relational_revenue": lambda: E.q_revenue_by_nation(spark, SF_DIR),
        "relational_latest_event": lambda: E.q_latest_event_per_user(spark, SF_DIR),
        "dedup_minhash_lsh": lambda: E.q_lsh_candidate_pairs(spark, SF_DIR),
        "simhash": lambda: corpus.simhash(docs, bits=64),
        "simhash_pairs": lambda: corpus.simhash_pairs(
            corpus.simhash(docs, bits=64), max_hamming=3),
        "ann_buckets": lambda: E.q_ann_buckets(spark, SF_DIR),
        "ann_cosine_topk": lambda: E.q_cosine_topk(spark, SF_DIR),
    }


def cmd_time(argv):
    only = set(argv) if argv else None
    spark = _spark()
    benches = _benches(spark)
    out = {}
    for name, fn in benches.items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"bench:{name}")
        samples = []
        for _ in range(REPS):
            t0 = time.monotonic()
            fn()
            samples.append(round(time.monotonic() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(f"{name:22s} min={min(samples):7.3f}  {samples}", flush=True)
    print(json.dumps(out))


def cmd_plans(argv):
    tag = argv[0]
    only = set(argv[1:]) if len(argv) > 1 else None
    os.makedirs(PLANS_DIR, exist_ok=True)
    spark = _spark()
    dfs = _query_dfs(spark)
    for name, build in dfs.items():
        if only and name not in only:
            continue
        df = build()
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(PLANS_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        import re
        n_ex = len(re.findall(r"\bExchange\b", txt))
        joins = sorted(set(re.findall(
            r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)\b", txt)))
        n_py = len(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas",
                              txt))
        print(f"{name:26s} Exchange={n_ex:2d} python_nodes={n_py} "
              f"joins={joins}", flush=True)


def cmd_stages(argv):
    from pyspark.sql import functions as F

    spark = _spark()
    fx = bench.bench_fx_dir(N_DOCS)
    t = {}

    def mark(name, fn):
        spark.sparkContext.setJobDescription(f"stage:{name}")
        t0 = time.monotonic()
        r = fn()
        t[name] = round(time.monotonic() - t0, 3)
        print(f"{name:34s} {t[name]:7.3f}", flush=True)
        return r

    # aez_by_country decomposition
    w = mark("world_build", lambda: bench._bench_world(spark, fx))
    mark("aez_assignment_build", lambda: w.asg.count())
    mark("aez_agg_given_asg", lambda: w.aez().count())
    mark("aez_agg_again", lambda: w.aez().count())
    # tile_classify decomposition
    mark("tiles_full", lambda: (w.tiles().filter(F.col("aez_code") != 255)
                                .groupBy("aez_code").count().count()))
    mark("tiles_again", lambda: (w.tiles().filter(F.col("aez_code") != 255)
                                 .groupBy("aez_code").count().count()))
    # dedup decomposition
    from aezspark import corpus
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    sh = corpus.char_shingles(docs, distinct=False)
    mark("lsh_shingle_scan", lambda: sh.write.format("noop")
         .mode("overwrite").save())
    sigs = corpus.minhash_signatures(sh)
    mark("lsh_signatures", lambda: sigs.write.format("noop")
         .mode("overwrite").save())
    buckets = corpus.lsh_buckets(sigs)
    mark("lsh_buckets", lambda: buckets.write.format("noop")
         .mode("overwrite").save())
    mark("lsh_pairs_full", lambda: corpus.lsh_candidate_pairs(
        corpus.lsh_buckets(corpus.minhash_signatures(
            corpus.char_shingles(docs, distinct=False)))).count())
    # relational decomposition
    import __spark_entry__ as E
    mark("rel_pricing", lambda: E.q_pricing_summary(spark, SF_DIR).collect())
    mark("rel_revenue", lambda: E.q_revenue_by_nation(spark, SF_DIR).collect())
    mark("rel_latest_event", lambda: E.q_latest_event_per_user(
        spark, SF_DIR).count())
    mark("rel_pricing_again", lambda: E.q_pricing_summary(
        spark, SF_DIR).collect())
    mark("rel_revenue_again", lambda: E.q_revenue_by_nation(
        spark, SF_DIR).collect())
    print(json.dumps(t))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    argv = sys.argv[2:]
    if mode == "time":
        cmd_time(argv)
    elif mode == "plans":
        cmd_plans(argv)
    elif mode == "stages":
        cmd_stages(argv)
    else:
        raise SystemExit(f"unknown mode {mode}")
