"""spark-submit job: the full AEZ pipeline with per-partition checkpointing.

    python tools/make_pyfiles.py
    spark-submit --py-files build/aezspark.zip jobs/run_aez.py \
        --fixtures build/fixtures/test --out /tmp/aez_run \
        [--resume] [--queries kg,wk,aez,tiles,docs,dedup]

On a cluster, --py-files ships the engine; locally it runs in the driver.
Each query family writes its result under --out; the doc pipeline runs
through PartitionCheckpointer, whose state is one snapshot table under
<out>/docs_state, so a killed run resumes after the batches that table has
committed (north_rule: resumable from per-partition checkpoints with
lineage+metrics). `python jobs/table_maintenance.py --table
<out>/docs_state status` shows the committed batches.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixtures",
                    default=os.path.join(REPO, "build", "fixtures", "test"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--queries", default="wk,kg,aez,tiles,docs")
    ap.add_argument("--batch-size", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from aezspark.session import get_spark
    from aezspark.pipelines import World
    from aezspark import documents as docs_mod, io as io_mod, decoders as D
    from aezspark.checkpoint import PartitionCheckpointer
    from aezspark.regions import REGIONS
    from aezspark.zonal import AEZ_CLASSES

    spark = get_spark("aezspark-run")
    w = World(spark, args.fixtures)
    todo = set(args.queries.split(","))
    known = {"wk", "kg", "lc", "sl", "slfao", "dg", "aez", "tiles", "docs",
             "pngs", "dedup"}
    unknown = todo - known
    if unknown:
        ap.error(f"unknown queries: {sorted(unknown)} (choose from {sorted(known)})")
    os.makedirs(args.out, exist_ok=True)

    for ds in ("wk", "kg", "lc", "sl", "slfao", "dg"):
        if ds in todo:
            csv = io_mod.long_to_reference_csv(
                w.zonal(ds), w.zonal_classes(ds),
                os.path.join(args.out, f"{ds}-by-country.csv"))
            reg = w.region_rollup(w.zonal(ds), w.zonal_classes(ds))
            io_mod.region_csv(reg, w.zonal_classes(ds),
                              os.path.join(args.out, f"{ds}-by-region.csv"), REGIONS)
            print(f"wrote {csv}")

    if "aez" in todo:
        io_mod.long_to_reference_csv(
            w.aez(), AEZ_CLASSES, os.path.join(args.out, "AEZ-by-country.csv"))
        reg = w.region_rollup(w.aez(), AEZ_CLASSES)
        io_mod.per_tmr_region_csvs(reg, args.out, REGIONS)
        print("wrote AEZ CSVs")

    if "tiles" in todo:
        io_mod.write_tiles(w.tiles(), os.path.join(args.out, "tiles"))
        print("wrote tiles table")

    if "pngs" in todo:
        from aezspark import thumbnails

        paths = thumbnails.write_all_thumbnails(w.tiles(), w.fine, args.out)
        print(f"wrote {len(paths)} thumbnail PNGs")

    if "docs" in todo:
        # checkpointed doc enrichment: partition key = quadtree parent cell
        # of the span point (deterministic key plan; resume = after the
        # committed prefix of it)
        from aezspark import cellindex

        docs = w.documents()
        pts = docs_mod.indexed_points(docs)
        pts = pts.withColumn(
            "part_key", cellindex.parent_col(F.col("index_cell"), 6, 1)
            .bitwiseAND(F.lit((1 << 28) - 1)) % 16)
        bidx = w.bidx
        tiles_df = w.tiles()
        fine = w.fine

        def transform(df):
            assigned = docs_mod.assign_points(df, bidx)
            return docs_mod.with_aez(assigned, tiles_df, fine)

        cp = PartitionCheckpointer(spark, os.path.join(args.out, "docs_state"))
        tbl = cp.run(pts, "part_key", transform, batch_size=args.batch_size,
                     lineage={"input": args.fixtures, "job": "doc_enrich"})
        # no-silent-fallbacks telemetry: how many assignments came from the
        # kNN nearest-zone fallback vs true containment (a fallback surge
        # flags bad boundary data before anyone reads the counts)
        by_method = {r["method"]: r["n"] for r in
                     (tbl.read().groupBy("method")
                      .agg(F.count("*").alias("n")).collect())}
        n = sum(by_method.values())
        print(f"doc enrichment complete: {n} assignment rows at "
              f"{tbl.table_dir} "
              f"(pip={by_method.get('pip', 0)}, "
              f"knn_fallback={by_method.get('knn', 0)})")

    if "dedup" in todo:
        # corpus dedup with no-silent-caps telemetry: the LSH hot-bucket
        # guard reports what it dropped via an Observation, collected by
        # the guard's own checkpoint job
        from pyspark.sql import Observation

        from aezspark import corpus

        obs = Observation("lsh_guard")
        sh = corpus.char_shingles(w.documents().selectExpr(
            "doc_id", "concat_ws(' ', transform(spans, s -> s.text)) AS text"),
            distinct=False)  # signatures-only: min is multiset-insensitive
        pairs = corpus.lsh_candidate_pairs(
            corpus.lsh_buckets(corpus.minhash_signatures(sh)),
            observation=obs)
        pairs.write.mode("overwrite").parquet(
            os.path.join(args.out, "dedup_pairs"))
        n_pairs = spark.read.parquet(
            os.path.join(args.out, "dedup_pairs")).count()
        m = obs.get
        print(f"dedup candidate pairs: {n_pairs} "
              f"(hot-bucket guard dropped {m['lsh_dropped_buckets'] or 0} "
              f"buckets / {m['lsh_dropped_members'] or 0} members)")

    spark.stop()


if __name__ == "__main__":
    main()
