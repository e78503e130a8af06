"""Benchmark harness — prints ONE JSON line per the driver contract.

Headline queries: the flagship documents/sec spatial-join+tile pipeline
(BASELINE.json metric) over a deterministically generated interleaved corpus,
the AEZ allocation + tile classification at a 0.5° bench world, and
representative relational + corpus-op queries at $SPARK_GRAFT_SF_DIR.

Env knobs:
  SPARK_GRAFT_SF_DIR   default /root/testdata/sf0.1
  SPARK_GRAFT_CPUS     default 32 (→ master local[N], shuffle partitions N)
  BENCH_ONLY           comma-separated query subset (used by BENCH/scaling.py)
  BENCH_DOCS           flagship corpus size (default 200000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def bench_fx_dir(n_docs: int) -> str:
    # size-keyed dir: switching corpus size must not clobber (and force a
    # 30-minute regeneration of) a previously generated corpus
    return f"/root/repo/build/fixtures/bench_{n_docs}"


_WORLD_CACHE: dict = {}


def _flagship(spark, n_docs: int):
    """documents/sec pipeline: interleaved docs → geo spans → PIP (+kNN) →
    AEZ tile lookup through the shard manifest → zonal doc counts. The
    World and its tile lookup are untimed static-index setup (main builds
    them before timing)."""
    from pyspark.sql import functions as F

    from aezspark import documents as docs_mod

    w = _bench_world(spark, bench_fx_dir(n_docs))
    # fully-fused kernel path: PIP + kNN + tile lookup + partition-local
    # distinct-doc dedup + partial zonal count in ONE Arrow pass — match rows
    # never leave the kernel; the single shuffle carries only the
    # per-partition (country, aez, n) partials (round 2's 20M-row distinct
    # shuffle AND round 3's interim second kernel pass are both gone)
    out = docs_mod.assign_zone_counts(w.documents(), w.bidx, w.tile_lookup(),
                                      w.fine)
    return out.agg(F.sum("n_docs")).collect()[0][0]


def _flagship_stages(spark, n_docs: int) -> dict:
    """Per-stage wall breakdown of the flagship (BENCH_STAGES=1): each prefix
    of the pipeline is executed as its own action, so stage cost = delta.
    Re-executing the prefix means later deltas exclude nothing — deltas are
    upper bounds on the added stage's cost, the honest decomposition without
    caching intermediates (which would change the measured plan). Deltas are
    clamped at 0: with a warm page cache / JIT the re-run prefix is usually
    FASTER than its first measurement, so a raw delta can go negative under
    noise — the clamp plus this note replaces pretending the bound is tight."""
    from pyspark.sql import functions as F

    from aezspark import documents as docs_mod
    from aezspark.joins import assign_points

    w = _bench_world(spark, bench_fx_dir(n_docs))
    tl = w.tile_lookup()
    docs = w.documents()
    out = {}
    t0 = time.monotonic()
    pts = docs_mod.geo_key_points(docs)
    pts.count()
    t1 = time.monotonic()
    out["scan_parse_index_s"] = round(t1 - t0, 2)
    partials = assign_points(
        pts, w.bidx, tile_lookup=tl, fine=w.fine, project=["doc_key"],
        emit="zone_counts", doc_col="doc_key")
    partials.count()
    t2 = time.monotonic()
    out["pip_knn_tile_kernel_s"] = round(max((t2 - t1) - (t1 - t0), 0.0), 2)
    (docs_mod.assign_zone_counts(docs, w.bidx, tl, w.fine)
     .agg(F.sum("n_docs")).collect())
    t3 = time.monotonic()
    out["distinct_zonal_agg_s"] = round(max((t3 - t2) - (t2 - t1), 0.0), 2)
    out["full_pipeline_s"] = round(t3 - t2, 2)
    return out


def _table_scan_planning(spark, n_docs: int, n_commits: int = 128) -> dict:
    """U21 measured end-to-end (VERDICT r5 #2): manifest min/max
    file-skipping on a streaming-sink-shaped snapshot table — the
    zone-counts output sliced into `n_commits` country-contiguous
    micro-batch appends (exactly what enrich_stream_to_table commits over a
    day), then a single-country read measured three ways:

      wall_pruned_s    read(where=country): manifest prunes to planned_files
      wall_unpruned_s  same filter, no manifest pruning (opens every file —
                       what a directory-listing reader pays; at an object
                       store each file is a GET)
      wall_compacted_s the same pruned read after compact() bin-packed the
                       table (stats recomputed from the rewritten footers)

    Build is untimed (static setup); reads are best-of-3."""
    import shutil

    import numpy as np
    from pyspark.sql import functions as F

    from aezspark import documents as docs_mod
    from aezspark.fixtures.generate import ensure_fixtures
    from aezspark.tables import SnapshotTable

    fx = ensure_fixtures(bench_fx_dir(n_docs), coarse_px=0.5, n_docs=n_docs,
                         with_expected=False)
    w = _bench_world(spark, fx)
    pdf = (docs_mod.assign_zone_counts(w.documents(), w.bidx, w.tile_lookup(),
                                       w.fine)
           .toPandas().sort_values(["country", "aez_code"])
           .reset_index(drop=True))
    path = os.path.join(fx, "zc_table_bench")
    shutil.rmtree(path, ignore_errors=True)
    tbl = SnapshotTable(spark, path, stat_cols=("country",))
    for i, s in enumerate(np.array_split(pdf, n_commits)):
        # one data file per micro-batch commit, like the streaming sink
        tbl.append(spark.createDataFrame(s.assign(batch_id=i)).coalesce(1),
                   summary={"stream_batch_id": i},
                   properties={"max_stream_batch_id": i})

    country = str(pdf["country"].iloc[len(pdf) // 2])
    where = {"country": (country, country)}

    def best_of(fn, reps=3):
        best = None
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    total = len(tbl.snapshot()["files"])
    planned = len(tbl.planned_files(where=where))
    wall_pruned = best_of(lambda: tbl.read(where=where).count())
    wall_unpruned = best_of(
        lambda: tbl.read().filter(F.col("country") == country).count())
    tbl.compact(target_file_bytes=128 << 20)
    total_c = len(tbl.snapshot()["files"])
    planned_c = len(tbl.planned_files(where=where))
    wall_compacted = best_of(lambda: tbl.read(where=where).count())
    return {
        "commits": n_commits,
        "files_total": total,
        "planned_files": planned,
        "wall_pruned_s": wall_pruned,
        "wall_unpruned_s": wall_unpruned,
        "files_after_compact": total_c,
        "planned_after_compact": planned_c,
        "wall_compacted_s": wall_compacted,
    }


def _bench_world(spark, fx):
    """One World per (JVM, fixture): the boundary index and cell->country
    assignment are build-once static indexes (the reference's masks/
    directory analog), shared across bench queries exactly as a production
    session would share them."""
    from aezspark.pipelines import World

    key = (id(spark), fx)
    if key not in _WORLD_CACHE:
        _WORLD_CACHE[key] = World(spark, fx)
    return _WORLD_CACHE[key]


def _aez(spark, fx):
    return _bench_world(spark, fx).aez().count()


def _tiles(spark, fx):
    from pyspark.sql import functions as F

    return (_bench_world(spark, fx).tiles().filter(F.col("aez_code") != 255)
            .groupBy("aez_code").count().count())


def _relational(spark, sf_dir):
    import __spark_entry__ as E

    E.q_pricing_summary(spark, sf_dir).collect()
    E.q_revenue_by_nation(spark, sf_dir).collect()
    return E.q_latest_event_per_user(spark, sf_dir).count()


_GUARD_DROPS: dict = {}


def _observed_count(df, obs) -> int:
    """Count `df` and record its hot-bucket guard drops for the bench
    JSON (extras.guard_drops)."""
    n = df.count()
    _GUARD_DROPS.update({k: v or 0 for k, v in obs.get.items()})
    return n


def _dedup(spark, sf_dir):
    """q_lsh_candidate_pairs' plan, with the guard's Observation attached."""
    from pyspark.sql import Observation

    from aezspark import corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sh = corpus.char_shingles(docs, distinct=False)
    obs = Observation("lsh_guard")
    return _observed_count(corpus.lsh_candidate_pairs(
        corpus.minhash_band_buckets(sh), observation=obs), obs)


def _simhash(spark, sf_dir):
    """The 64-bit fingerprint aggregation ALONE — the same workload this
    bench name has measured since round 5 (the registered q_simhash query
    additionally folds the banding join since round 6; that join is benched
    separately as simhash_pairs)."""
    from aezspark import corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return corpus.simhash(docs, bits=64).count()


def _simhash_pairs(spark, sf_dir):
    """Fingerprints + pigeonhole block-banding near-dup join at Hamming<=3
    (production guard on) — the full SimHash near-dup pipeline."""
    from pyspark.sql import Observation

    from aezspark import corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sh = corpus.simhash(docs, bits=64)
    obs = Observation("simhash_guard")
    return _observed_count(
        corpus.simhash_pairs(sh, max_hamming=3, observation=obs), obs)


def _ann(spark, sf_dir):
    import __spark_entry__ as E

    E.q_ann_buckets(spark, sf_dir).count()
    return E.q_cosine_topk(spark, sf_dir).count()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_DOCS", "200000"))
    only = [s for s in os.environ.get("BENCH_ONLY", "").split(",") if s]

    # generate the bench world before timing (cached across runs)
    from aezspark.fixtures.generate import ensure_fixtures
    fx = ensure_fixtures(bench_fx_dir(n_docs), coarse_px=0.5, n_docs=n_docs,
                         with_expected=False)

    from aezspark.session import get_spark
    spark = get_spark("aezspark-bench", master=f"local[{cpus}]")
    spark.range(10_000_000).selectExpr("sum(id)").collect()  # JVM warmup
    # Python-worker warmup: fork the worker pool + import numpy/pandas once
    # so steady-state throughput is measured, not process spawn
    import pandas as _pd  # noqa
    (spark.range(0, cpus * 4, 1, cpus * 4)
     .mapInPandas(lambda it: ( _pd.DataFrame({"id": b["id"]}) for b in it),
                  "id long").count())

    benches = {
        "flagship_docs": lambda: _flagship(spark, n_docs),
        "aez_by_country": lambda: _aez(spark, fx),
        "tile_classify": lambda: _tiles(spark, fx),
        "relational_core": lambda: _relational(spark, sf_dir),
        "dedup_minhash_lsh": lambda: _dedup(spark, sf_dir),
        "simhash": lambda: _simhash(spark, sf_dir),
        "simhash_pairs": lambda: _simhash_pairs(spark, sf_dir),
        "ann_cosine": lambda: _ann(spark, sf_dir),
    }
    if only:
        benches = {k: v for k, v in benches.items() if k in only}
    if "flagship_docs" in benches:
        _bench_world(spark, fx).tile_lookup()  # untimed static-index setup

    reps = int(os.environ.get("BENCH_REPS", "1"))
    queries = {}
    total = 0.0
    for name, fn in benches.items():
        best = None
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        queries[name] = round(best, 3)
        total += best

    result = {
        "metric": "spatial-join+tile pipeline wall time (flagship docs/sec in extras)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "extras": {
            "cpus": cpus,
            "flagship_docs": n_docs,
            "docs_per_sec": round(n_docs / queries["flagship_docs"], 1)
            if "flagship_docs" in queries else None,
        },
    }
    if _GUARD_DROPS:
        result["extras"]["guard_drops"] = dict(_GUARD_DROPS)
    if os.environ.get("BENCH_STAGES") and "flagship_docs" in queries:
        result["extras"]["stages"] = _flagship_stages(spark, n_docs)
    # table-layer scan-planning datum (U21 measured): on full runs only,
    # and never fatal to the measured numbers above
    if not only and os.environ.get("BENCH_TABLE_PLANNING", "1") != "0":
        try:
            result["extras"]["table_scan_planning"] = \
                _table_scan_planning(spark, n_docs)
        except Exception as e:
            result["extras"]["table_scan_planning"] = {"error": str(e)[:200]}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
