"""Connected-components dedup clustering: planted components must resolve to
min-doc_id labels regardless of edge orientation or chain length."""

from aezspark import corpus


def test_clusters_resolve_chains_and_stars(spark):
    # component 1: chain a-b-c-d (diameter 3 — needs >1 propagation round)
    # component 2: star f<-{g,h}
    # component 3: single edge x-y
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"),
         ("g", "f"), ("h", "f"),
         ("x", "y")],
        "doc_a STRING, doc_b STRING")
    got = {r.doc_id: r.cluster_id
           for r in corpus.neardup_clusters(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "f": "f", "g": "f", "h": "f",
                   "x": "x", "y": "x"}


def test_clusters_raise_on_non_convergence(spark):
    import pytest

    nodes = [f"n{i:02d}" for i in range(8)]
    pairs = spark.createDataFrame(
        [(nodes[i + 1], nodes[i]) for i in range(7)],
        "doc_a STRING, doc_b STRING")
    with pytest.raises(RuntimeError, match="did not converge"):
        corpus.neardup_clusters(pairs, max_iters=2).collect()


def test_clusters_long_chain_converges(spark):
    # 12-node chain: worst-case diameter for label propagation
    nodes = [f"n{i:02d}" for i in range(12)]
    pairs = spark.createDataFrame(
        [(nodes[i + 1], nodes[i]) for i in range(11)],
        "doc_a STRING, doc_b STRING")
    got = {r.doc_id: r.cluster_id
           for r in corpus.neardup_clusters(pairs).collect()}
    assert set(got.values()) == {"n00"}
    assert len(got) == 12


def test_one_action_per_round_no_separate_count(spark, monkeypatch):
    """VERDICT r2 item #6: the convergence signal must ride the
    localCheckpoint materialization (observe metric), not a separate
    old-vs-new join+count job. Pinned by forbidding DataFrame.count during
    the loop and counting localCheckpoint calls (= rounds)."""
    # patch the CONCRETE class (pyspark 4: pyspark.sql.DataFrame is the
    # abstract base; instances are classic.dataframe.DataFrame)
    from pyspark.sql.classic.dataframe import DataFrame

    def no_count(self):
        raise AssertionError(
            "neardup_clusters ran a separate count() action per round")

    rounds = []
    orig_ckpt = DataFrame.localCheckpoint
    monkeypatch.setattr(DataFrame, "count", no_count)
    monkeypatch.setattr(
        DataFrame, "localCheckpoint",
        lambda self, eager=True: (rounds.append(1), orig_ckpt(self, eager))[1])
    pairs = spark.createDataFrame([("g", "f"), ("h", "f")],
                                  "doc_a STRING, doc_b STRING")
    got = corpus.neardup_clusters(pairs)
    monkeypatch.undo()
    # star graph: round 1 relabels g,h → f; round 2 observes changed=0
    assert len(rounds) == 2
    labels = {r.doc_id: r.cluster_id for r in got.collect()}
    assert labels == {"f": "f", "g": "f", "h": "f"}

