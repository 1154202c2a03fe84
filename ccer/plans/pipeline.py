"""The flagship plan: pages → features → blocks → pairs → edges →
components → clusters, each stage checkpointed and resumable.

Reference lifecycle analog: FileProcessor.run (query_db/workflows.py:56-100)
— prescan ids → linkage → discovery → combine — with every phase landing
in a stage table. Our stages:

1. ``features``    one Arrow pass (normalize, signatures, stable ids)
2. ``blocks``      multi-pass block keys, salted for skew
3. ``pairs``       in-block pair generation, distinct candidate pairs
4. ``edges``       Arrow-batched pairwise scoring → match edges
5. ``components``  large-star/small-star transitive closure
6. ``clusters``    every record labeled with its stable cluster id

``resume=True`` restarts from the last complete stage (manifest-driven) —
kill the job after any stage and the next run does not repeat it.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccer.operators.blocking import block_keys, candidate_pairs, salt_oversized_blocks
from ccer.operators.cluster import assign_clusters, connected_components
from ccer.operators.features import extract_features
from ccer.operators.scoring import ScoringConfig, match_edges, score_pairs
from ccer.sources.catalog import StageStore

STAGE_ORDER = ["features", "blocks", "pairs", "edges", "components", "clusters"]


class PipelineConfig:
    def __init__(
        self,
        num_perm: int = 128,
        minhash_bands: int = 32,
        simhash_bits: int | str = "auto",
        shingle_k: int = 3,
        text_cap: int = 4000,
        block_cap: int = 500,
        weak_pass_caps: dict | None = None,
        salt_bits_max: int = 20,
        passes=("url", "host", "minhash", "simhash"),
        scoring: ScoringConfig | None = None,
        hamming_prefilter: int | None = 26,
        host_hamming_prefilter: int | None = 16,
    ):
        if num_perm % minhash_bands != 0:
            raise ValueError(
                f"num_perm ({num_perm}) must be a multiple of "
                f"minhash_bands ({minhash_bands})"
            )
        self.num_perm = num_perm
        self.minhash_bands = minhash_bands
        self.simhash_bits = simhash_bits
        self.shingle_k = shingle_k
        self.text_cap = text_cap
        self.block_cap = block_cap
        self.weak_pass_caps = weak_pass_caps
        self.salt_bits_max = salt_bits_max
        self.passes = passes
        self.scoring = scoring or ScoringConfig()
        self.hamming_prefilter = hamming_prefilter
        self.host_hamming_prefilter = host_hamming_prefilter

    def fingerprint(self) -> str:
        """Stable digest of every knob that changes stage contents — stored
        in the checkpoint manifest so resume never reuses a stage computed
        under a different configuration."""
        import hashlib

        own = {k: v for k, v in vars(self).items() if k != "scoring"}
        own["scoring"] = dict(sorted(vars(self.scoring).items()))
        payload = repr(sorted(own.items(), key=lambda kv: kv[0]))
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    config: PipelineConfig | None = None,
    resume: bool = True,
) -> DataFrame:
    """Run (or resume) the full ER pipeline; returns the clusters table
    (rid, id, url, warc_ts, lang, cluster_id, ...)."""
    cfg = config or PipelineConfig()
    store = StageStore(spark, workdir, fingerprint=cfg.fingerprint())
    if not resume:
        store.invalidate_from("features", STAGE_ORDER)

    def stage(name: str, compute, **write_kwargs):
        if store.exists(name):
            return store.read(name)
        # time from BEFORE the plan is built: the scoring stage's eager
        # localCheckpoint executes the pairwise crossing during compute(),
        # and duration_sec must own that cost (catalog.write docstring)
        start = time.time()
        return store.write(compute(), name, start=start, **write_kwargs)

    # features is bucketed on id: the scoring stage joins it TWICE (id_a,
    # id_b) and cluster assignment once more — bucketing pays one shuffle
    # at write time and deletes the features-side exchange from all three
    features = stage(
        "features",
        lambda: extract_features(
            pages,
            num_perm=cfg.num_perm,
            shingle_k=cfg.shingle_k,
            text_cap=cfg.text_cap,
        ),
        bucket_by="id",
    )
    # the simhash pass's key space (rotations x 2^bits buckets) is FIXED,
    # so at constant bits the per-bucket population grows linearly with
    # the corpus and the in-bucket pair count QUADRATICALLY (measured:
    # 21.7M pair-candidates upper bound at 960k pages, 86.1M at 1.92M —
    # 4x for 2x docs, every bucket of the 196,608 saturated). "auto"
    # scales the prefix so buckets hold ~8 rows: the pass stays a
    # bounded-cost secondary net at any corpus size, while the primary
    # nets (url, MinHash bands) have corpus-proportional key spaces.
    if cfg.simhash_bits == "auto":
        n_rows = store._load_manifest()["stages"]["features"].get("rows") or 1
        simhash_bits = min(40, max(16, (max(1, n_rows // 8)).bit_length()))
    else:
        simhash_bits = cfg.simhash_bits
    blocks = stage(
        "blocks",
        lambda: salt_oversized_blocks(
            block_keys(
                features,
                passes=cfg.passes,
                minhash_bands=cfg.minhash_bands,
                num_perm=cfg.num_perm,
                simhash_bits=simhash_bits,
            ),
            block_cap=cfg.block_cap,
            weak_pass_caps=cfg.weak_pass_caps,
            salt_bits_max=cfg.salt_bits_max,
        ),
    )
    pairs = stage(
        "pairs",
        lambda: candidate_pairs(
            blocks,
            hamming_prefilter=cfg.hamming_prefilter,
            host_hamming_prefilter=cfg.host_hamming_prefilter,
        ),
    )
    edges = stage(
        "edges", lambda: match_edges(score_pairs(pairs, features, cfg.scoring))
    )
    components = stage("components", lambda: connected_components(edges))
    # the clusters table is the pipeline's OUTPUT — keep it slim (the
    # signature/sketch columns live in the features checkpoint; rewriting
    # them here would double the heaviest write for no reader)
    slim = [
        "rid", "id", "url", "warc_ts", "lang", "url_norm", "host",
        "n_tokens", "cluster_id",
    ]
    clusters = stage(
        "clusters",
        lambda: assign_clusters(features, components).select(*slim),
    )
    return clusters


def cluster_pages(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """Convenience: fresh full run (no resume)."""
    return run_pipeline(spark, pages, workdir, config=config, resume=False)


def predicted_pairs_from_clusters(clusters: DataFrame) -> DataFrame:
    """Intra-cluster record pairs (rid_a < rid_b) — the pairwise view used
    for F1 evaluation against labeled pairs."""
    a = clusters.select(
        F.col("cluster_id").alias("c"), F.col("rid").alias("rid_a")
    )
    b = clusters.select(
        F.col("cluster_id").alias("c"), F.col("rid").alias("rid_b")
    )
    return (
        a.join(b, "c")
        .filter(F.col("rid_a") < F.col("rid_b"))
        .select("rid_a", "rid_b")
        .distinct()
    )
