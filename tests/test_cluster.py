"""Connected-components correctness vs a union-find oracle, plus the
stability invariants (permutation / partition-count independence).

Every ``connected_components`` test runs on both paths through the
``cc`` fixture: Spark star rounds all the way and the default driver
tail."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccer.operators import cluster
from ccer.operators.cluster import _large_star, _small_star, assign_clusters, connected_components


@pytest.fixture
def spark_rounds(monkeypatch):
    monkeypatch.setattr(cluster, "DRIVER_FINISH_EDGES", -1)


@pytest.fixture
def cc(monkeypatch):
    """``cc(df, **kw)`` runs connected_components twice: with
    ``DRIVER_FINISH_EDGES`` patched to -1 (Spark star rounds to
    convergence, even for an empty edge set) and with the default
    (driver tail). Both must give the same sorted (id, component) rows
    under the ``id long, component long`` schema; returns those rows."""
    default = cluster.DRIVER_FINISH_EDGES

    def run(df, **kw):
        out = {}
        for path, threshold in (("spark_rounds", -1), ("driver_tail", default)):
            monkeypatch.setattr(cluster, "DRIVER_FINISH_EDGES", threshold)
            res = connected_components(df, **kw)
            assert res.schema.simpleString() == "struct<id:bigint,component:bigint>", path
            out[path] = sorted((r["id"], r["component"]) for r in res.collect())
        assert out["spark_rounds"] == out["driver_tail"]
        return out["driver_tail"]

    return run


def _new_cached(sc, before):
    return [i for i in sc._jsc.sc().getRDDStorageInfo() if i.id() not in before]


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
def test_cc_matches_union_find(spark, cc, seed, n_nodes, n_edges):
    edges = _random_edges(n_nodes, n_edges, seed)
    oracle = _union_find_oracle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = dict(cc(df))
    assert got == oracle


def test_cc_permutation_and_partition_invariance(spark, cc):
    edges = _random_edges(300, 400, seed=7)
    df1 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(2)
    df2 = (
        spark.createDataFrame(list(reversed(edges)), "id_a long, id_b long")
        .select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        .repartition(16)
    )
    r1 = cc(df1)
    r2 = cc(df2)
    assert r1 == r2


def test_cc_transitivity_chain(spark, cc):
    # a long path graph must collapse to a single component = min id
    chain = [(i, i + 1) for i in range(100, 160)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    res = cc(df)
    assert {c for _, c in res} == {100}
    assert {i for i, _ in res} == set(range(100, 161))


def test_cc_raises_when_not_converged(spark, spark_rounds):
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


def test_cc_releases_superseded_round_checkpoints(spark, spark_rounds):
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


def test_cc_duplicate_and_self_edges(spark, cc):
    """The r6 CC restructure (window stars, no up-front distinct) must
    absorb duplicate edges, reversed duplicates and self-loops without
    changing labels."""
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (4, 5), (5, 6), (4, 5), (7, 8)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = cc(df)
    assert out == [(1, 1), (2, 1), (4, 4), (5, 4), (6, 4), (7, 7), (8, 7)]


def test_cc_empty_edges(spark, cc):
    # the fixture checks the schema on both paths
    assert cc(spark.createDataFrame([], "id_a long, id_b long")) == []


def test_cc_hands_off_to_driver_after_a_round(spark, monkeypatch):
    """With the threshold between the initial edge count and the count
    after one star round, CC runs one Spark round, then finishes the
    rest on the driver — and still equals the union-find oracle."""
    edges = _random_edges(400, 500, seed=11)
    oracle = _union_find_oracle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    initial = len(edges)  # no self-loops: _random_edges drops them
    after_one = _small_star(_large_star(df)).count()
    assert after_one < initial
    monkeypatch.setattr(cluster, "DRIVER_FINISH_EDGES", (initial + after_one) // 2)
    finished = []
    finish = cluster._finish_on_driver

    def spy(current):
        finished.append(current.count())
        return finish(current)

    monkeypatch.setattr(cluster, "_finish_on_driver", spy)
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert finished == [after_one]
    assert got == oracle


def test_cc_checkpoint_release_is_observable(spark, monkeypatch):
    """Negative control for the ``<= 1`` assertion above: with
    ``unpersist_checkpoint`` a no-op (what a Spark upgrade breaking its
    private-API path would leave), the Spark rounds keep more than one
    checkpoint cached, so that assertion would catch it. The driver tail
    releases its last checkpoint itself and leaves none."""
    sc = spark.sparkContext
    edges = _random_edges(400, 500, seed=11)
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    connected_components(df).collect()
    assert _new_cached(sc, before) == []

    kept = []  # hold the superseded rounds, as a silent no-op would
    monkeypatch.setattr(cluster, "DRIVER_FINISH_EDGES", -1)
    monkeypatch.setattr(cluster, "unpersist_checkpoint", kept.append)
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    connected_components(df).collect()
    assert len(_new_cached(sc, before)) > 1
