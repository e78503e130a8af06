"""Regenerate PLANS.md: physical-plan audit of the engine's headline plans.

Counts the scale-relevant node types per plan (pushed filters, broadcast vs
sort-merge joins, exchanges, python nodes, codegen spans) and captures
trimmed formatted-plan excerpts. Run after any plan-shape change:

    python tools/plan_audit.py

and update the counts pinned in tests/test_plan_shape.py in the same commit.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the driver tables the audit reads (sf0.01, as the correctness gate)
SF_DIR = "/root/testdata/sf0.01"

EXCERPT_PATTERNS = re.compile(
    r"Exchange|Join|MapIn(Pandas|Arrow)|HashAggregate|PushedFilters|ReadSchema|"
    r"Scan parquet|WholeStageCodegen|Bucketed|PartitionFilters")


def counts(plan: str) -> dict:
    """Node counts from the formatted explain's numbered details section —
    each physical node appears there exactly once as '(N) NodeName' (the
    tree rendering above it repeats every node, and substring counting would
    also match 'Exchange' inside 'BroadcastExchange')."""
    names = [m.group(1) for m in
             re.finditer(r"^\(\d+\) (\w+)", plan, flags=re.M)]
    return {
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "bhj": names.count("BroadcastHashJoin"),
        "smj": names.count("SortMergeJoin"),
        "exchanges": names.count("Exchange"),
        "bcast_exchanges": names.count("BroadcastExchange"),
        "python": names.count("MapInPandas") + names.count("MapInArrow"),
        "cartesian": (names.count("CartesianProduct")
                      + names.count("BroadcastNestedLoopJoin")),
    }


def fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def excerpt(plan: str, max_lines: int = 40) -> str:
    lines = [l.rstrip()[:120] for l in plan.splitlines()
             if EXCERPT_PATTERNS.search(l)]
    return "\n".join(lines[:max_lines])


def main():
    from aezspark.session import get_spark
    from aezspark.fixtures.generate import ensure_fixtures
    from aezspark.pipelines import World

    spark = get_spark("plan-audit", master="local[8]")
    fx = ensure_fixtures()
    w = World(spark, fx)
    plans = headline_plans(spark, w, SF_DIR)

    rows = []
    sections = []
    for name, df in plans.items():
        p = fmt_plan(df)
        c = counts(p)
        rows.append(f"| {name} | {c['pushed']} | {c['bhj']} | {c['smj']} | "
                    f"{c['exchanges']} | {c['bcast_exchanges']} | "
                    f"{c['python']} | {c['cartesian']} |")
        sections.append(f"## {name}\n\n```\n{excerpt(p)}\n```\n")

    md = f"""# PLANS — physical-plan audit (`.explain("formatted")` excerpts)

Generated by `python tools/plan_audit.py` on the fixture world at local[8]
(embedding_neardup at sf0.01). Per SURVEY §4 / the scale checklist: filters and
projections must reach the parquet scan (PushedFilters / ReadSchema), small
dims go broadcast, Python appears only as MapInPandas / MapInArrow kernels,
NO plan contains a cartesian, and every Exchange is accounted for.

## Summary

| plan | pushed filters | broadcast joins | sort-merge joins | shuffle exchanges | broadcast exchanges | python nodes | cartesians |
|---|---|---|---|---|---|---|---|
{chr(10).join(rows)}

Notes:
- **flagship_fused** (the one flagship doc-count path, run by `entry()`
  and the benched, oracled `sp_doc_zone_counts`): one Arrow pass from the
  document row. The JVM projects only `xxhash64(doc_id) AS doc_key,
  spans.kind, spans.text` over the scan (`documents.keyed_spans`; nested
  pruning puts just those fields in its ReadSchema), and ONE MapInArrow
  kernel (`joins.doc_zone_partials`) explodes and parses the geo spans in
  pyarrow.compute, runs PIP + kNN + the tile lookup, dedups (zone, doc_key)
  pairs with a pandas hash-dedup over two int64 columns and emits
  per-partition (country, aez, n) partials — the one Exchange carries only
  those. No Generate: the span explode that used to run in the JVM (and
  whose `IsNotNull(spans)` was the plan's one pushed filter) is gone, as
  is its double `split` + CAST per geo span. Tile codes come from the
  broadcast shard manifest (`World.tile_lookup()`: per-worker LRU over the
  clustered tile sink), so no tile dim is broadcast. The `Coalesce` under
  MapInArrow is `joins._one_wave`: a kernel input estimated below one
  `spark.sql.files.maxPartitionBytes` split runs as one task per core. It
  is narrow (no Exchange) and not a counted node.
- **within_distance / knn_topk / doc_assignment**: the three row-emitting
  probe joins run one kernel builder (`joins._probe_join`, each passing
  only its match function), so each is one MapInPandas over `_one_wave`'s
  Coalesce with no Exchange in the join. doc_assignment's broadcast joins
  are `documents.with_aez`: the composed tile lookup (the four of the tiles
  plan, plus the equi-join on the fine cell id).
- **simhash** (round 3; widened 16→64 bit in round 5): one row per token
  through the single groupBy — the 64 per-bit sums are conditional
  aggregates on the same row, so the shuffle carries |tokens| rows (was
  16·|tokens| with the round-2 J-explode, which would be 64· now). The
  pairs half reads the hot-block guard's checkpoint, so its fingerprint
  subtree runs once, in the guard's own job, outside this plan.
- **neardup_cc_round** (round 3): one label-propagation round — edge-join +
  min-agg + left-join; these shuffles repeat O(component diameter) times with
  lineage cut per round, and the convergence count rides the checkpoint
  action as an observe() metric (no extra job).
- **embedding_neardup** (round 2): LSH-bucketed self-join — bucket equi-join,
  0 cartesians (the round-1 crossJoin is gone; the exact all-pairs form
  survives only as a test baseline).
- **ivf_probe_pruned** (round 4): the registered IVF probe now reads the
  MATERIALIZED index (embeddings written partitionBy(centroid_id)) with
  `PartitionFilters: [centroid_id IN (...)]` on the scan — only the probed
  partitions' files are touched (round 3 recomputed assignments with a full
  unpruned scan per query). tests/test_ann_index.py pins the pruning via
  input_file_name at execution.
- **fao_slope_assembly** (round 4): 8-file tagged union scan → ONE
  conditional-aggregate pivot on the pixel key — a single Exchange, no
  8-way self-join (the S6 shape for the FAO band-assembly script).
- **tiles** (round 2): the AEZ last-writer-wins projection is a nested CASE
  (was greatest(29 whens), which overflowed Janino's 64 KB method limit and
  silently fell back to interpreted eval); the whole classify now stays
  inside WholeStageCodegen — pinned by tests/test_tiles_codegen.py, which
  runs the plan with spark.sql.codegen.fallback=false so any future overflow
  raises instead of interpreting.
- **zonal/aez**: cell tables auto-broadcast at fixture scale; at 100 TB
  Catalyst flips them to SortMergeJoin, which is why both sides are written
  bucketable by cell_id. Exchange counts include the one grouped sum
  (its map-side partial aggregate absorbs hot countries, so no salt
  stage) and the seed-zeros full-outer join (tiny, driver-seeded).
- Scans show `PushedFilters: [IsNotNull(cell_id), ...]` and pruned
  `ReadSchema` (e.g. the LC scan reads only cell_id+lccs).
- The seed-zeros grid in zonal/aez is ONE driver-side local relation
  (`sources.local_dim`: the countries × class list, ≤ a few thousand rows,
  planned as a JVM-only LocalTableScan), not a crossJoin — so no plan,
  seeding included, contains a cartesian.

{chr(10).join(sections)}"""
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write(md)
    print(f"wrote {out}")


def headline_plans(spark, world, sf_dir: str) -> dict:
    """The engine's headline plans by name: `world` is the fixture World,
    `sf_dir` the driver tables (SF_DIR). PLANS.md and the pinned counts in
    tests/test_plan_shape.py are both built from this dict."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from aezspark import documents as docs_mod

    plans = {}

    plans["zonal_wk"] = world.zonal("wk")
    plans["aez"] = world.aez()
    plans["tiles"] = world.tiles()
    plans["flagship_fused"] = docs_mod.assign_zone_counts(
        world.documents(), world.bidx, world.tile_lookup(), world.fine)
    plans["embedding_neardup"] = E.q_embedding_neardup(spark, sf_dir)
    plans["within_distance"] = E.q_sp_within_distance(spark, sf_dir)
    plans["knn_topk"] = E.q_sp_knn_topk(spark, sf_dir)
    plans["doc_assignment"] = E.q_sp_doc_assignment(spark, sf_dir)
    plans["simhash"] = E.q_simhash(spark, sf_dir)
    plans["ivf_probe_pruned"] = E.q_ivf_topk(spark, sf_dir)
    plans["fao_slope_assembly"] = E.q_sp_fao_slope(spark, sf_dir)
    # one round of the neardup CC loop (the loop itself is iterative — this
    # is the per-round join+agg shape whose shuffles repeat O(diameter)
    # times). edges/labels are materialized first, exactly as in production
    # (edges .cache(), labels .localCheckpoint() per round), so the audited
    # plan is the real per-round increment, not the inlined full upstream.
    pairs = E.q_lsh_candidate_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).localCheckpoint()
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    nbr = (edges.join(labels.select(F.col("node").alias("dst"),
                                    F.col("label").alias("dst_label")), "dst")
           .groupBy("src").agg(F.min("dst_label").alias("nbr_label")))
    plans["neardup_cc_round"] = (
        labels.join(nbr, labels.node == nbr.src, "left")
        .select(labels.node,
                F.least(F.col("label"),
                        F.coalesce("nbr_label", "label")).alias("label")))
    return plans


if __name__ == "__main__":
    main()
