"""Similarity search over embedding columns (array<float>).

- ``cosine_col``      JVM-side cosine of two array columns (zip_with +
                      aggregate — whole-stage codegen, no Python)
- ``brute_force_topk``  exact top-k neighbors per query (broadcast the
                      query side, window rank) — the correctness baseline
- ``embedding_neardup_pairs``  all pairs above a cosine threshold within
                      coarse LSH buckets
- ``lsh_topk``        random-hyperplane-bucketed approximate top-k — the
                      scale path: candidate set shrinks from N to the
                      bucket population before any cosine is computed
- ``ivf_topk``        IVF approximate top-k: distributed-KMeans coarse
                      quantizer, nprobe inverted lists — the alternative
                      scale path when hyperplane buckets are too skewed
                      (list sizes follow the data's cluster structure)

At 10^12 rows the brute-force path is a deliberate crossJoin(broadcast)
— linear in corpus size per query batch; the LSH path buckets the corpus
once (one Arrow pass for signatures) and turns top-k into a bucket join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ccer.operators.blocking import candidate_pairs, join_endpoints


def cosine_col(u, v):
    """Cosine similarity of two array<float/double> columns, JVM-side."""
    u = F.col(u) if isinstance(u, str) else u
    v = F.col(v) if isinstance(v, str) else v
    dot = F.aggregate(
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nu = F.sqrt(F.aggregate(u, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))
    nv = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))
    return dot / (nu * nv)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    queries are broadcast (small side); rank window breaks ties on
    neighbor id so output is deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_col("qv", "cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


HYPERPLANE_SCHEMA = "id long, bucket long"


def _hyperplane_buckets(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int, seed: int
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector (one Arrow pass; the plane
    matrix is rebuilt deterministically per task from the seed)."""

    def gen(iterator):
        planes = None
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy())
            if planes is None:
                rng = np.random.RandomState(seed)
                planes = rng.standard_normal((mat.shape[1], n_planes))
            bits = (mat @ planes) > 0
            bucket = bits.dot(1 << np.arange(n_planes)).astype(np.int64)
            yield pd.DataFrame({"id": pdf[id_col].astype("int64"), "bucket": bucket})

    return df.select(id_col, vec_col).mapInPandas(gen, schema=HYPERPLANE_SCHEMA)


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 7,
    n_rotations: int = 3,
) -> DataFrame:
    """All pairs with cosine ≥ threshold, found inside LSH buckets.

    Multiple independent bucketings (rotations) push recall up: near
    vectors land in the same bucket in ≥1 of them with high probability.
    """
    # bucket rows are bare (id, 8-byte bucket) — the vectors (~6 KB at
    # 768-dim floats) do NOT ride the bucket join or the pair-dedup
    # exchange; they join back on id only for the surviving unique pairs
    # (the ER scorer's slim-crossing pattern, through ``join_endpoints``).
    parts = []
    for r in range(n_rotations):
        parts.append(
            _hyperplane_buckets(vectors, id_col, vec_col, n_planes, seed + r)
            .withColumn("bucket", F.xxhash64(F.lit(r), "bucket"))
        )
    buckets = parts[0]
    for p in parts[1:]:
        buckets = buckets.unionByName(p)
    # the buckets as block rows; no fingerprint, so no Hamming prefilter
    blocks = buckets.select(
        F.col("bucket").alias("block_key"), F.lit(0).alias("pass_id"), "id",
        F.lit(0).cast("long").alias("simhash"),
    )
    pairs = candidate_pairs(blocks, hamming_prefilter=None)
    vecs = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return (
        join_endpoints(pairs, vecs, ["vec"])
        .withColumn("cosine", cosine_col("vec_a", "vec_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def _centroid_probes(
    df: DataFrame, id_col: str, vec_col: str, centroids, nprobe: int
) -> DataFrame:
    """(id, centroid, probe) rows: each vector's ``nprobe`` nearest
    centroids by squared euclidean, rank-ordered (probe 0 = assignment).
    One Arrow pass, no shuffle — the centroid matrix (k × dim, tiny by
    construction) ships inside the task closure; ties break on the lower
    centroid index (numpy stable argsort), so identical vectors ALWAYS
    produce identical probe lists — the property the planted-replica
    oracle relies on."""
    import numpy as np
    import pandas as pd

    cent = np.asarray(centroids, dtype=np.float64)
    c_sq = (cent**2).sum(axis=1)

    def gen(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = (m**2).sum(axis=1)[:, None] - 2.0 * (m @ cent.T) + c_sq[None, :]
            order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[id_col].to_numpy().astype("int64"), nprobe),
                    "centroid": order.reshape(-1).astype(np.int32),
                    "probe": np.tile(np.arange(nprobe, dtype=np.int32), n),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        gen, schema="id long, centroid int, probe int"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    train_fraction: float = 1.0,
) -> DataFrame:
    """IVF approximate top-k: a KMeans coarse quantizer partitions the
    corpus into ``n_centroids`` inverted lists; each query scores only
    the lists of its ``nprobe`` nearest centroids. The scale path when
    hyperplane LSH's bucket population is too skewed: list sizes follow
    the data's cluster structure and ``nprobe`` trades recall for
    compute directly.

    Spark-first shape: distributed KMeans (pyspark.ml) trains the
    centroids (``train_fraction`` subsamples the fit at large corpus
    sizes — the quantizer needs a sketch of the distribution, not every
    row); assignment and probing are one shuffle-free Arrow pass each;
    candidate generation is an equi-join on the 4-byte centroid id with
    bare ids (vectors join back only for surviving candidates — the
    slim-crossing pattern, ``score_pairs``). Recall < 1.0 by
    construction, 1.0 for exact-duplicate vectors (identical vectors
    share probe lists)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    if train_fraction < 1.0:
        train = train.sample(fraction=train_fraction, seed=seed)
    model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(train)
    centroids = [np.asarray(c, dtype="float64").tolist() for c in model.clusterCenters()]

    assign = _centroid_probes(corpus, id_col, vec_col, centroids, nprobe=1).select(
        F.col("id").alias("neighbor_id"), "centroid"
    )
    probes = _centroid_probes(queries, id_col, vec_col, centroids, nprobe=nprobe).select(
        F.col("id").alias("query_id"), "centroid"
    )
    cand = (
        probes.join(assign, "centroid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    # join order matters at scale: corpus vectors attach via the
    # neighbor_id equi-join FIRST (bare id pairs on the shuffle; bucket
    # the corpus on vec_id to eliminate even that exchange), and the
    # small query side broadcasts LAST — if qv joined first, every
    # candidate pair would ship the query vector through the
    # neighbor_id exchange (audited: ivf_slim_candidates in
    # jobs/explain_plans.py)
    scored = cand.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id").withColumn(
        "cosine", cosine_col("qv", "cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    seed: int = 7,
    n_rotations: int = 4,
) -> DataFrame:
    """Approximate top-k: only candidates sharing ≥1 LSH bucket with the
    query are scored. Recall < 1.0 by construction; n_rotations trades
    compute for recall."""
    def bucketize(df):
        parts = []
        for r in range(n_rotations):
            parts.append(
                _hyperplane_buckets(df, id_col, vec_col, n_planes, seed + r)
                .withColumn("bucket", F.xxhash64(F.lit(r), "bucket"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    cb = bucketize(corpus).withColumnRenamed("id", "neighbor_id")
    qb = bucketize(queries).withColumnRenamed("id", "query_id")
    cand = (
        cb.join(qb, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    # join order matters at scale: corpus vectors attach via the
    # neighbor_id equi-join FIRST (bare id pairs on the shuffle; bucket
    # the corpus on vec_id to eliminate even that exchange), and the
    # small query side broadcasts LAST — if qv joined first, every
    # candidate pair would ship the query vector through the
    # neighbor_id exchange (audited: ivf_slim_candidates in
    # jobs/explain_plans.py)
    scored = cand.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id").withColumn(
        "cosine", cosine_col("qv", "cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )
