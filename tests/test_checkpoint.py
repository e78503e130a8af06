"""Resume semantics: kill after K batches, rerun, output identical to an
uninterrupted run (SURVEY §5 engine plan: 'resume test')."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aezspark.checkpoint import PartitionCheckpointer


def _transform(df):
    return (df.groupBy("stripe", "country").agg(
        F.sum("km2").alias("km2"), F.count("*").alias("cells")))


def _crashing_after(n_batches):
    """_transform that raises on its (n_batches+1)-th call: the same
    committed state as a crash anywhere in that batch before its commit."""
    calls = []

    def transform(df):
        calls.append(1)
        if len(calls) > n_batches:
            raise RuntimeError(f"crash in batch {len(calls)}")
        return _transform(df)

    return transform


@pytest.fixture()
def stripes(world):
    from aezspark.grid import km2_col

    return (world.asg
            .withColumn("stripe", F.pmod(F.col("y"), F.lit(8)).cast("long"))
            .withColumn("km2", km2_col(world.coarse, F.col("y"))))


def _collect(tbl):
    return (tbl.read().toPandas()
            .sort_values(["stripe", "country"]).reset_index(drop=True)
            [["stripe", "country", "km2", "cells"]])


def test_full_run_and_metrics(spark, stripes, tmp_path):
    cp = PartitionCheckpointer(spark, str(tmp_path / "full"))
    got = _collect(cp.run(stripes, "stripe", _transform, batch_size=3,
                          lineage={"input": "assignment", "test": "full"}))
    exp = (_transform(stripes).toPandas()
           .sort_values(["stripe", "country"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp[got.columns.tolist()], check_dtype=False)
    m = cp.metrics().toPandas()
    assert set(m["key"]) == set(range(8))
    assert (m["rows_out"] > 0).all()
    assert (m["wall_ms"] > 0).all()
    assert m["batch_id"].nunique() == 3
    with open(tmp_path / "full" / "plan.json") as f:
        plan = json.load(f)
    assert plan["keys"] == list(range(8))
    assert plan["input"] == "assignment" and plan["transform"] == "_transform"


def test_crash_resume_identical(spark, stripes, tmp_path):
    ref = PartitionCheckpointer(spark, str(tmp_path / "ref"))
    exp = _collect(ref.run(stripes, "stripe", _transform, batch_size=3))

    cp = PartitionCheckpointer(spark, str(tmp_path / "crashy"))
    with pytest.raises(RuntimeError, match="crash in batch 2"):
        cp.run(stripes, "stripe", _crashing_after(1), batch_size=3)
    assert cp.completed_keys() == [0, 1, 2]

    got = _collect(cp.run(stripes, "stripe", _transform, batch_size=3))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # completed partitions were not reprocessed: one metrics row per key,
    # the first batch's id kept
    m = cp.metrics().toPandas()
    assert m["key"].is_unique
    assert set(m["key"]) == set(range(8))
    assert m["batch_id"].nunique() == 3


def test_resume_after_compact_and_expiry(spark, stripes, tmp_path):
    """Progress is a table property, carried forward by compaction and kept
    by snapshot expiry: the resumed run redoes nothing and skips nothing."""
    ref = PartitionCheckpointer(spark, str(tmp_path / "ref"))
    exp = _collect(ref.run(stripes, "stripe", _transform, batch_size=3))

    cp = PartitionCheckpointer(spark, str(tmp_path / "maint"))
    with pytest.raises(RuntimeError, match="crash in batch 3"):
        cp.run(stripes, "stripe", _crashing_after(2), batch_size=3)
    assert cp.table.compact() is not None
    assert cp.table.expire_snapshots(keep_last=1)
    assert len(cp.table.snapshots()) == 1
    assert cp.completed_keys() == list(range(6))

    got = _collect(cp.run(stripes, "stripe", _transform, batch_size=3))
    assert not got.duplicated(["stripe", "country"]).any()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    m = cp.metrics().toPandas().sort_values("key")
    assert m["key"].tolist() == list(range(8))
    assert (m["rows_out"] > 0).all()
    # the expired batches' summaries are gone; the resumed batch's is kept
    assert m["wall_ms"].isna().tolist() == [True] * 6 + [False] * 2
