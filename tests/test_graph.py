"""connected_components (operators/graph.py): exact equivalence with
a reference union-find on random graphs, chain worst cases (the
O(log n) star-contraction claim), convergence, and the dup_groups
composition over the documents fixture."""
import pytest
from pyspark.sql import functions as F

from olap_xtrctr_spark.operators import graph as G


def _union_find(edges):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "u long, v long")
    return {r["node"]: r["component"]
            for r in G.connected_components(df).collect()}


def test_cc_matches_union_find_random(spark):
    import numpy as np
    rng = np.random.RandomState(5)
    for n, m in ((60, 40), (100, 120), (30, 5)):
        edges = [(int(a), int(b))
                 for a, b in zip(rng.randint(0, n, m),
                                 rng.randint(0, n, m)) if a != b]
        if not edges:
            continue
        assert _cc(spark, edges) == _union_find(edges)


def test_cc_long_chain_and_two_components(spark):
    # one 40-node chain (worst case for label propagation) + a
    # separate triangle; component = min id of each
    chain = [(i, i + 1) for i in range(40)]
    tri = [(100, 101), (101, 102), (102, 100)]
    got = _cc(spark, chain + tri)
    assert {got[i] for i in range(41)} == {0}
    assert {got[i] for i in (100, 101, 102)} == {100}


def test_cc_self_loops_duplicates_and_orientation(spark):
    edges = [(5, 5), (3, 7), (7, 3), (3, 7), (9, 2)]
    got = _cc(spark, edges)
    # self-loop contributes no node; duplicates/reversals collapse
    assert got == {3: 3, 7: 3, 9: 2, 2: 2}


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "u long, v long")
    assert G.connected_components(df).count() == 0


def test_dup_groups_chain_transitivity(spark):
    # 3 docs sharing text A (chained 1-2, 2-3: component needs
    # transitivity), 2 sharing text B, 1 singleton
    rows = [(1, "A"), (2, "A"), (3, "A"), (10, "B"), (11, "B"),
            (99, "Z")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["component"]
           for r in G.dup_groups(docs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_chain_components_fixture_matches_group_min(spark, sf_dir):
    """On the real fixture (keyed by source: 20 groups of 25 docs →
    24-deep chains, the log-contraction worst case) the component
    label must equal min(doc_id) per group — the oracle identity the
    workload entry states in SQL."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = G.chain_components(docs, "doc_id", "source")
    want = docs.select(
        "doc_id",
        F.min("doc_id").over(
            Window.partitionBy("source")).alias("component"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # non-vacuous: the fixture really has multi-doc groups
    assert (got.filter(F.col("component") != F.col("doc_id"))
            .count()) > 0


def test_cc_rejects_non_integral_ids(spark):
    import pytest

    df = spark.createDataFrame([("a", "b")], "u string, v string")
    with pytest.raises(ValueError, match="integral node id"):
        G.connected_components(df)


def test_cc_frees_each_replaced_round(spark, monkeypatch):
    """Every round's localCheckpoint is freed once the next round holds
    the edge set: a chain that needs several rounds leaves at most the
    final round persisted, and its labels are unchanged."""
    jsc = spark.sparkContext._jsc
    rounds = []
    checksum = G._checksum

    def counted(e):
        rounds.append(1)
        return checksum(e)

    monkeypatch.setattr(G, "_checksum", counted)
    chain = [(i, i + 1) for i in range(40)]
    before = set(jsc.getPersistentRDDs().keySet())
    got = _cc(spark, chain)
    after = set(jsc.getPersistentRDDs().keySet())
    assert len(rounds) >= 4               # the initial sum + 3 rounds
    assert len(after - before) <= 1
    assert got == {i: 0 for i in range(41)}
