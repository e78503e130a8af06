"""Per-partition checkpoint/resume with lineage + metrics (north_rule).

The reference is restart-from-zero (single-process CLI loops). The engine
makes every long pipeline resumable as batch-incremental processing over a
deterministic key plan (SURVEY §2.7). The whole state is one snapshot table
(`tables.SnapshotTable`) plus its write-once plan file:

  state_dir/
    plan.json           lineage (inputs, transform name, params, engine
                        version) + the sorted partition keys; written once
                        with an atomic replace
    data/, metadata/    the snapshot table holding the result rows

Batches run over the sorted key plan in order, so the completed keys are
always a prefix of it. Each batch is one `append` whose commit carries the
prefix length as the `checkpoint_done_keys` table property: the batch's rows
and the progress mark publish in the same atomic manifest swap. A crash
mid-batch leaves only orphan data files (`vacuum` removes them), and the
rerun resumes after the committed prefix — no duplicates, no missing rows.
Table properties are carried forward by every commit, so resume stays exact
after `compact()` and `expire_snapshots()`; `jobs/table_maintenance.py`
inspects and maintains the state dir like any other table.

Metrics per partition: rows_out, counted from the table; wall_ms and
batch_id, from the batch's snapshot summary.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import __version__
from .sources import local_dim
from .tables import SnapshotTable

DONE_KEYS = "checkpoint_done_keys"


class PartitionCheckpointer:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.table = SnapshotTable(spark, state_dir)
        self.plan_path = os.path.join(state_dir, "plan.json")

    def plan(self) -> dict:
        with open(self.plan_path) as f:
            return json.load(f)

    def _write_plan(self, df: DataFrame, key_col: str, lineage: dict):
        if os.path.exists(self.plan_path):
            return
        keys = [r[0] for r in
                df.select(key_col).distinct().orderBy(key_col).collect()]
        plan = {**lineage, "key_col": key_col, "keys": keys,
                "engine_version": __version__,
                "spark_version": self.spark.version}
        tmp = f"{self.plan_path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(plan, f, indent=2, sort_keys=True)
        os.replace(tmp, self.plan_path)

    def completed_keys(self) -> list:
        """The committed prefix of the key plan."""
        done = int(self.table.properties().get(DONE_KEYS, 0))
        return self.plan()["keys"][:done] if done else []

    def metrics(self) -> DataFrame:
        """One row per completed key: rows_out, and the batch's wall time
        (transform + write + commit, split evenly over its keys) and id.
        wall_ms and batch_id are null for keys whose batch snapshot
        `expire_snapshots` has removed."""
        batches = {}
        for s in self.table.snapshots():
            b = s["summary"]
            if "batch_id" in b:
                wall_ms = (s["timestamp_ms"] - b["started_ms"]) / len(b["keys"])
                batches.update({k: (wall_ms, b["batch_id"]) for k in b["keys"]})
        meta = local_dim(self.spark, pd.DataFrame(
            [(k, *batches.get(k, (None, None))) for k in self.completed_keys()],
            columns=["key", "wall_ms", "batch_id"]),
            "key BIGINT, wall_ms DOUBLE, batch_id STRING")
        rows = (self.table.read().groupBy(F.col(self.plan()["key_col"])
                                          .alias("key"))
                .agg(F.count("*").alias("rows_out")))
        return (meta.join(rows, "key", "left")
                .select("key", F.coalesce("rows_out", F.lit(0))
                        .alias("rows_out"), "wall_ms", "batch_id"))

    def run(self, df: DataFrame, key_col: str, transform,
            batch_size: int = 4, lineage: dict | None = None) -> SnapshotTable:
        """Process df partition-by-partition, committing one append per
        batch. transform: DataFrame → DataFrame; must keep key_col in its
        output. Returns the state table."""
        self._write_plan(df, key_col, {
            "transform": getattr(transform, "__name__", "transform"),
            **(lineage or {})})
        keys = self.plan()["keys"]
        for i in range(len(self.completed_keys()), len(keys), batch_size):
            batch = keys[i:i + batch_size]
            started_ms = int(time.time() * 1000)
            self.table.append(
                transform(df.filter(F.col(key_col).isin(batch))),
                summary={"batch_id": str(uuid.uuid4()), "keys": batch,
                         "started_ms": started_ms},
                properties={DONE_KEYS: i + len(batch)})
        return self.table
