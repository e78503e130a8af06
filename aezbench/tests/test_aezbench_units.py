"""Fast self-tests of the benchmark's own code (no Spark).

    python3 -m pytest aezbench/tests -q -p no:cacheprovider
"""

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from aezbench import check, gen, oracle, run  # noqa: E402
from aezspark.fixtures import oracle as fxoracle  # noqa: E402


@pytest.mark.parametrize("order", gen.ORDERS)
def test_documents_deterministic_per_seed(order):
    a = gen.documents_table(7, 2000, order)
    b = gen.documents_table(7, 2000, order)
    c = gen.documents_table(8, 2000, order)
    assert a.equals(b)
    assert not a.equals(c)


def test_world_deterministic_per_seed(tmp_path):
    a = gen.ensure_world(str(tmp_path / "a"), 3, 10.0)
    b = gen.ensure_world(str(tmp_path / "b"), 3, 10.0)
    c = gen.ensure_world(str(tmp_path / "c"), 4, 10.0)
    for name in ("cells_kg", "cells_lc", "boundaries"):
        ta = pd.read_parquet(os.path.join(a, f"{name}.parquet"))
        tb = pd.read_parquet(os.path.join(b, f"{name}.parquet"))
        pd.testing.assert_frame_equal(ta, tb)
    kg_a = pd.read_parquet(os.path.join(a, "cells_kg.parquet"))
    kg_c = pd.read_parquet(os.path.join(c, "cells_kg.parquet"))
    assert not kg_a.equals(kg_c)


def test_geo_point_mix():
    """About 30% of points lie off every country bbox; the rest inside one."""
    lat, lon = gen.geo_points(np.random.default_rng(0), 20_000)
    bb = gen.country_bboxes()
    inside = ((lat[:, None] >= bb[:, 0]) & (lat[:, None] <= bb[:, 1])
              & (lon[:, None] >= bb[:, 2]) & (lon[:, None] <= bb[:, 3])
              ).any(axis=1)
    assert 0.27 < 1 - inside.mean() < 0.33


def test_clustered_order_has_small_shard_working_set(tmp_path):
    world = gen.ensure_world(str(tmp_path), 1, run.WORLD_PX)
    fine = gen.GridSpec(grid_id=1, px_deg=run.WORLD_PX).refine(3, grid_id=2)
    per = {o: gen.shards_per_split(
               gen.ensure_documents(str(tmp_path), 1, 20_000, o, world),
               fine, run.TILE_PX)
           for o in gen.ORDERS}
    assert per["clustered"] < 64 < per["uniform"]


def test_fast_doc_points_equals_oracle(tmp_path):
    world = gen.ensure_world(str(tmp_path), 2, 10.0)
    for order in gen.ORDERS:
        d = gen.ensure_documents(str(tmp_path), 2, 3000, order, world)
        fast = oracle.doc_points(d)
        slow = fxoracle.doc_points(d)
        pd.testing.assert_frame_equal(fast, slow, check_dtype=False)


def test_planted_wrong_count_is_caught():
    exp = pd.DataFrame({"country": ["A", "A", "B"], "aez_code": [1, 2, 1],
                        "n_docs": [5, 7, 9]})
    good = [["A", 1, 5], ["A", 2, 7], ["B", 1, 9]]
    assert check.wrong_zone_counts(good, exp) == 0
    bad = [["A", 1, 5], ["A", 2, 8], ["B", 1, 9]]
    assert check.wrong_zone_counts(bad, exp) == 1
    assert check.wrong_zone_counts(good[:2], exp) == 1
    assert check.wrong_zone_counts(None, exp) == 3


def test_planted_wrong_csv_line_is_caught(tmp_path):
    exp = tmp_path / "exp.csv"
    exp.write_text("Country,a\nX,1.00\nY,2.00\n")
    got = tmp_path / "got.csv"
    got.write_text("Country,a\nX,1.00\nY,2.01\n")
    assert check.wrong_lines(str(exp), str(exp)) == 0
    assert check.wrong_lines(str(got), str(exp)) == 1
    assert check.wrong_lines(None, str(exp)) == 3


def test_planted_wrong_tile_is_caught(tmp_path):
    exp = pd.DataFrame({"cell_id": np.arange(4, dtype=np.int64),
                        **{c: np.zeros(4, dtype=np.int32)
                           for c in check.TILE_COLS}})
    sink = tmp_path / "tiles"
    sink.mkdir()
    got = exp.copy()
    got.loc[2, "aez_code"] = 7
    got.to_parquet(sink / "part-0.parquet")
    assert check.wrong_tiles(str(sink), exp) == 1


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_reports_every_metric():
    res = {"setup_s": 30.0, "job_times": [2.0, 2.2],
           "rows_per_job": 1000, "peak_rss_bytes": 2 << 30}
    got = run.end_to_end(res)
    spec = _bench()["end_to_end"]
    assert set(got) == {m["name"] for m in spec}
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"]
        assert got[m["name"]]["value"] > 0


def test_per_layer_refuses_a_missing_metric():
    spec = _bench()["per_layer"]
    res = {"layers": {}, "spark_per_job": {}, "job_times": [1.0],
           "traced_job_s": 1.0, "job_layer_sum_s": 1.0}
    with pytest.raises(KeyError):
        run.per_layer(res, spec)


def test_corpus_deterministic_with_planted_duplicates():
    a = gen.corpus_table(5, 1000)
    assert a.equals(gen.corpus_table(5, 1000))
    assert not a.equals(gen.corpus_table(6, 1000))
    texts = pd.Series(a.column("text").to_pylist())
    assert texts.value_counts().iloc[0] == gen.BOILERPLATE_DOCS > 64


def test_simhash_guard_mirror_drops_hot_blocks():
    """A pair sharing only an over-cap block is dropped; a pair sharing a
    small block survives."""
    hot = [(i, 0x7FFF_0000_0000_0000 + (i << 16)) for i in range(70)]
    fp = pd.DataFrame(hot + [(100, 5), (101, 5 | (1 << 20))],
                      columns=["doc_id", "simhash"])
    pairs = pd.DataFrame({"doc_a": [0, 100], "doc_b": [1, 101],
                          "hamming": [2, 1]})
    kept = oracle._guarded_simhash_pairs(fp, pairs)
    assert kept[["doc_a", "doc_b"]].values.tolist() == [[100, 101]]


def test_planted_wrong_pair_is_caught():
    exp = pd.DataFrame({"doc_a": [1, 2], "doc_b": [5, 6]})
    assert check.wrong_pairs([[1, 5], [2, 6]], exp) == 0
    assert check.wrong_pairs([[1, 5], [2, 7]], exp) == 2
