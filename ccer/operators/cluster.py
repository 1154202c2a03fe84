"""Iterative connected components: large-star / small-star over match edges.

The transitive-closure step of the reconcile semantics — the reference's
"clusters" are works connected through shared normalized affiliation keys
(SURVEY.md overview); here they are pages connected through match edges.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'13), expressed as
DataFrame rounds of window mins:

- large-star: for each node u, attach every strictly-larger neighbor to
  the minimum of N(u) ∪ {u};
- small-star: canonicalize edges (u > v), attach u and all its smaller
  neighbors to the minimum.

Both preserve connectivity and strictly reduce the sum of component
"heights"; convergence is O(log n) rounds on real graphs. Each star is
one min-over-partition window pass — one exchange, no join back — and
small-star's output distinct is the round's only other shuffle.
Per-round ``localCheckpoint`` truncates the lineage so the plan doesn't
grow exponentially — at cluster scale this becomes a checkpoint to the
stage store (the pipeline layer does exactly that for the final labels).
A graph that has not converged after ``max_iterations`` rounds raises
instead of returning a partial mapping.

Driver tail: once the live edge count is at or below
``DRIVER_FINISH_EDGES``, the remaining edges are collected through Arrow
and finished by numpy min-label propagation with pointer jumping — a
collapsed round is several latency-bound jobs, the finish is one
collect. The labels are the same minimum member ids either way.

Labels are CONTENT-DERIVED: the component representative is the minimum
stable record id, never an execution-order artifact — ids are identical
across re-runs, resumes, and different partition counts (north rule's
"stable cluster ids").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ccer.session import checkpoint_level, unpersist_checkpoint

# Live-edge count at or below which CC finishes on the driver. A
# constant, not a setting: it bounds driver memory (two int64 columns
# collected, ~16 MiB at the threshold), not a property of the workload.
# Measured on a 4-vCPU host, random graphs with a giant component, same
# rows on both paths (driver finish vs Spark star rounds; two measurement
# runs, hence the ranges):
#   2^18 edges: 1.3-3.5 s vs 10.8-11.6 s
#   2^20 edges: 3.3-4.4 s vs 14.0-20.2 s
#   2^22 edges: 22.1 s vs 80.3 s
# The driver wins at every size tried; 2^20 keeps the collect small.
DRIVER_FINISH_EDGES = 1 << 20

# Star rounds as WINDOW aggregations (r6 optimization, guide §2.4): the
# original groupBy-min + join-back consumed the bidirectional edge
# exchange twice (once into the aggregate, once as the join probe) and
# paid a third exchange for an intermediate distinct. min-over-partition
# attaches the star minimum to every row in ONE pass over ONE exchange;
# the per-round distinct moved entirely into small-star's output (the
# only place the loop's convergence check needs distinct rows — the
# intermediate large-star duplicates are absorbed by small-star's min
# anyway). Edge SETS per round are unchanged, so labels and convergence
# behavior are bit-identical. WindowExec buffers one star's rows at a
# time in a spillable array — bounded by the largest star, same keys and
# skew profile as the groupBy it replaces.
def _star_window():
    # built lazily: WindowSpec construction needs a live SparkContext
    return Window.partitionBy("u").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )


def _large_star(edges: DataFrame) -> DataFrame:
    bi = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionAll(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    m = F.least(F.min("v").over(_star_window()), F.col("u"))
    return (
        bi.select("u", "v", m.alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("id_a"), F.col("m").alias("id_b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    canon = edges.select(
        F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
    ).filter(F.col("u") != F.col("v"))
    rows = canon.select("u", "v", F.min("v").over(_star_window()).alias("m"))
    # v == m rows stand in for the star's self-edge (u, m); the others
    # re-attach their v to the minimum — one projection, no join, same
    # output set as neighbors ∪ self_edges
    return rows.select(
        F.when(F.col("v") == F.col("m"), F.col("u")).otherwise(F.col("v")).alias("id_a"),
        F.col("m").alias("id_b"),
    ).distinct()


def _min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Min-label propagation with pointer jumping over dense node indices
    ``0..n-1`` (edges ``a[i] — b[i]``). ``label[x] <= x`` always names a
    node of x's component; each pass hooks both endpoints' labels onto
    their minimum, then jumps pointers until every label is a root. A
    pass that changes nothing leaves one label per component: its
    minimum index."""
    label = np.arange(n, dtype=np.int64)
    while True:
        la, lb = label[a], label[b]
        m = np.minimum(la, lb)
        before = label.copy()
        for idx in (a, b, la, lb):
            np.minimum.at(label, idx, m)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, before):
            return label


def _finish_on_driver(edges: DataFrame) -> DataFrame:
    """Collect a (small) checkpointed edge set, label it on the driver
    and release the checkpoint. Ids are compressed to dense indices with
    ``np.unique``, whose sorted order keeps the minimum index = the
    minimum id."""
    pdf = edges.toPandas()
    unpersist_checkpoint(edges)
    ends = np.concatenate(
        [pdf["id_a"].to_numpy(np.int64), pdf["id_b"].to_numpy(np.int64)]
    )
    ids, dense = np.unique(ends, return_inverse=True)
    label = _min_labels(dense[: len(pdf)], dense[len(pdf):], len(ids))
    out = pd.DataFrame({"id": ids, "component": ids[label]})
    return edges.sparkSession.createDataFrame(out, "id long, component long")


def connected_components(
    edges: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """Match edges (id_a, id_b) → component mapping (id, component).

    ``component`` = min record id of the component. Nodes present in the
    edge list only; the pipeline unions in singletons afterwards.

    Driver tail: the live edge count is taken after the initial
    checkpoint (one ``count``) and after each round (from the
    convergence aggregate, no extra job). As soon as it is at or below
    ``DRIVER_FINISH_EDGES`` the remaining edges are finished on the
    driver (``_finish_on_driver``) — same rows, no further Spark rounds.
    The threshold is a module constant because it bounds driver memory,
    not anything a caller tunes; every caller (pipeline, curation,
    incremental and streaming ingest, driver queries) gets the tail.

    Convergence detection (Spark rounds): the loop stops as soon as the
    edge set IS a converged star forest — every source points at exactly
    one target (count == distinct sources) and no target is itself a
    source (no depth-2 chains). Both checks read the just-checkpointed
    rows (cheap cached-RDD passes). This is a direct structural test, so
    it breaks WITHOUT computing the extra confirmation round that a
    digest-equality test needs — one full large-star/small-star round
    saved per run, and each round is latency-bound (several shuffle
    barriers) rather than data-bound once the graph has collapsed.

    Raises ``RuntimeError`` when the edge set is still above the driver
    threshold and not a converged star forest after ``max_iterations``
    rounds — a partial mapping would silently leave one component under
    several labels.

    Why the test is sufficient: small-star output always has
    id_b < id_a (targets are per-star minima), so a depth-1 forest with
    unique sources maps every node to its star's minimum, and such a
    forest is a fixed point of both star operations (Kiveris et al.'s
    converged state).
    """
    # no up-front distinct (r6): duplicate input edges only add identical
    # rows that the first round's window-min ignores and small-star's
    # output distinct removes — the old eager dedup was a full exchange
    # of the edge list that is a no-op for every caller in this engine
    # (match_edges output is distinct by construction). The checkpoint
    # stays: round 1 consumes the edge plan twice (both directions).
    # round checkpoints are stored serialized and the superseded
    # round is unpersisted as soon as its successor is materialized: the
    # default (deserialized on-heap, freed only when the ContextCleaner
    # notices) accumulated every round's edge rows on the heap and showed
    # up as full-GC cascades during the collapsed tail rounds (guide §5).
    level = checkpoint_level()
    current = edges.select("id_a", "id_b").filter(F.col("id_a") != F.col("id_b"))
    current = current.localCheckpoint(eager=True, storageLevel=level)
    n = current.count()
    rounds = 0
    while n > DRIVER_FINISH_EDGES:
        if rounds == max_iterations:
            unpersist_checkpoint(current)
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                "rounds: the partial mapping would split components"
            )
        rounds += 1
        prev = current
        current = _small_star(_large_star(current))
        current = current.localCheckpoint(eager=True, storageLevel=level)
        unpersist_checkpoint(prev)
        row = current.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id_a").alias("nd"),
        ).collect()[0]
        n = row["n"]
        # below the threshold the driver finish is cheaper than the chain
        # test's semi-join, so the test only runs above it
        if n > DRIVER_FINISH_EDGES and n == row["nd"]:
            # unique sources; converged iff additionally no chains
            targets_that_are_sources = (
                current.select("id_b")
                .join(current.select(F.col("id_a").alias("id_b")), "id_b", "left_semi")
                .limit(1)
                .count()
            )
            if targets_that_are_sources == 0:
                break
    else:
        return _finish_on_driver(current)
    # converged star graph: every edge is (node, root); roots map to themselves
    nodes = current.select(F.col("id_a").alias("id"), F.col("id_b").alias("component"))
    roots = current.select(F.col("id_b").alias("id"), F.col("id_b").alias("component"))
    return nodes.unionAll(roots).groupBy("id").agg(F.min("component").alias("component"))


def assign_clusters(features: DataFrame, components: DataFrame) -> DataFrame:
    """Attach cluster ids to every record; singletons get their own id.

    Left join on the stable id + coalesce — the reference's "every input
    row appears in the output" contract.
    """
    return (
        features.join(components, features.id == components.id, "left")
        .drop(components.id)
        .withColumn("cluster_id", F.coalesce("component", features.id))
        .drop("component")
    )
