"""Connected-components correctness vs a union-find oracle, plus the
stability invariants (permutation / partition-count independence)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccer.operators.cluster import assign_clusters, connected_components


def _union_find_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # min-id representative per component
    return {x: find(x) for x in parent}


def _random_edges(n_nodes, n_edges, seed):
    rng = np.random.RandomState(seed)
    # unique ids WITHOUT rng.choice(replace=False), which would
    # materialize a full 10^9-element permutation
    ids = np.unique(rng.randint(0, 10**9, size=3 * n_nodes))[:n_nodes].astype(np.int64)
    a = ids[rng.randint(0, n_nodes, n_edges)]
    b = ids[rng.randint(0, n_nodes, n_edges)]
    return [(int(x), int(y)) for x, y in zip(a, b) if x != y]


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 200, 150), (3, 50, 200)])
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges):
    edges = _random_edges(n_nodes, n_edges, seed)
    oracle = _union_find_oracle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == oracle


def test_cc_permutation_and_partition_invariance(spark):
    edges = _random_edges(300, 400, seed=7)
    df1 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(2)
    df2 = (
        spark.createDataFrame(list(reversed(edges)), "id_a long, id_b long")
        .select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        .repartition(16)
    )
    r1 = sorted(map(tuple, connected_components(df1).collect()))
    r2 = sorted(map(tuple, connected_components(df2).collect()))
    assert r1 == r2


def test_cc_transitivity_chain(spark):
    # a long path graph must collapse to a single component = min id
    chain = [(i, i + 1) for i in range(100, 160)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    res = connected_components(df).collect()
    assert {r["component"] for r in res} == {100}
    assert {r["id"] for r in res} == set(range(100, 161))


def test_cc_raises_when_not_converged(spark):
    # one star round cannot collapse a long path; returning its partial
    # mapping would split the component, so the loop must fail loudly
    chain = [(i, i + 1) for i in range(100, 160)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(df, max_iterations=1)


def test_assign_clusters_singletons(spark):
    feats = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, rid string")
    comps = spark.createDataFrame([(2, 1), (1, 1)], "id long, component long")
    out = {r["id"]: r["cluster_id"] for r in assign_clusters(feats, comps).collect()}
    assert out == {1: 1, 2: 1, 3: 3}


def test_cc_releases_superseded_round_checkpoints(spark):
    """The r6 round-checkpoint hygiene (serialized storage + explicit
    unpersist of the superseded round) must leave at most the FINAL
    round's blocks cached once connected_components returns — the old
    behavior accumulated every round's checkpoint until the
    ContextCleaner happened to collect it — while labels stay identical
    to the union-find oracle on a multi-round graph."""
    sc = spark.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    edges = _random_edges(400, 500, seed=11)
    oracle = _union_find_oracle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == oracle
    new_cached = [
        i for i in sc._jsc.sc().getRDDStorageInfo() if i.id() not in before
    ]
    # only the final round's checkpoint may remain (freed by the caller's
    # GC later); every superseded round must already be unpersisted
    assert len(new_cached) <= 1, [str(i) for i in new_cached]


def test_cc_duplicate_and_self_edges(spark):
    """The r6 CC restructure (window stars, no up-front distinct) must
    absorb duplicate edges, reversed duplicates and self-loops without
    changing labels."""
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (4, 5), (5, 6), (4, 5), (7, 8)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = sorted((r["id"], r["component"]) for r in connected_components(df).collect())
    assert out == [(1, 1), (2, 1), (4, 4), (5, 4), (6, 4), (7, 7), (8, 7)]
