"""The flagship plan: pages → features → blocks → pairs → edges →
components → clusters. The chain is defined once, in ``er_chain``;
every consumer runs it through a stage hook:

- ``run_pipeline`` passes a ``StageStore``, whose ``stage`` reuses a
  complete checkpoint or writes the stage, and whose ``rows`` reads a
  written stage's row count from the manifest;
- ``q_er_cluster_documents`` and ``q_er_cluster_invariants`` pass
  ``LAZY_STAGES``, the identity hook: each stage is its unmaterialized
  plan and reports no row count;
- ``incremental_update`` passes a ``DeltaStages``, whose ``stage``
  applies one delta rule per stage against the prior features and
  components, and which reports no row count.

Reference lifecycle analog: FileProcessor.run (query_db/workflows.py:56-100)
— prescan ids → linkage → discovery → combine — with every phase landing
in a stage table. Our stages:

1. ``features``    one Arrow pass (normalize, band keys, sketches, stable ids)
2. ``blocks``      multi-pass block keys, salted for skew
3. ``pairs``       in-block pair generation, distinct candidate pairs
4. ``edges``       Arrow-batched pairwise scoring → match edges
5. ``components``  large-star/small-star transitive closure
6. ``clusters``    every record labeled with its stable cluster id

``resume=True`` restarts from the last complete stage (manifest-driven) —
kill the job after any stage and the next run does not repeat it.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccer.functions.hashing import band_rows
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
        band_rows(num_perm, minhash_bands)  # raises on a ragged banding
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

    # knob -> operator arguments, read by er_chain and stream_ingest
    def features_args(self) -> dict:
        return dict(
            num_perm=self.num_perm, shingle_k=self.shingle_k,
            text_cap=self.text_cap, minhash_bands=self.minhash_bands,
            sketch_k=self.scoring.sketch_k, prefix_cap=self.scoring.lev_prefix,
        )

    def block_args(self, n_rows: int | None) -> dict:
        """``block_keys`` arguments for ``n_rows`` features rows (None:
        unknown, which gives "auto" its 16-bit floor). The simhash key
        space (rotations x 2^bits) is FIXED, so at constant bits in-bucket
        pairs grow QUADRATICALLY with the corpus (measured: 21.7M candidates
        at 960k pages, 86.1M at 1.92M); "auto" scales the prefix so buckets
        hold ~8 rows, keeping the pass a bounded-cost secondary net."""
        bits = self.simhash_bits
        if bits == "auto":
            bits = min(40, max(16, (max(1, (n_rows or 1) // 8)).bit_length()))
        return dict(
            passes=self.passes, minhash_bands=self.minhash_bands,
            simhash_bits=bits,
        )

    def salt_args(self) -> dict:
        return dict(
            block_cap=self.block_cap, weak_pass_caps=self.weak_pass_caps,
            salt_bits_max=self.salt_bits_max,
        )

    def pair_args(self) -> dict:
        return dict(
            hamming_prefilter=self.hamming_prefilter,
            host_hamming_prefilter=self.host_hamming_prefilter,
        )

    def fingerprint(self) -> str:
        """Stable digest of every knob that changes stage contents — stored
        in the checkpoint manifest so resume never reuses a stage computed
        under a different configuration."""
        import hashlib

        own = {k: v for k, v in vars(self).items() if k != "scoring"}
        own["scoring"] = dict(sorted(vars(self.scoring).items()))
        payload = repr(sorted(own.items(), key=lambda kv: kv[0]))
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


# the identity stage hook: each stage is its unmaterialized plan, and no
# stage has a known row count
LAZY_STAGES = SimpleNamespace(
    stage=lambda name, compute, **write_kwargs: compute(),
    rows=lambda name: None,
)


class DeltaStages:
    """The delta stage hook: ``er_chain(new_pages, cfg, DeltaStages(
    prior_features, prior_components))`` advances the prior clustering by
    the new pages, one rule per stage (see ``ccer.streaming.ingest``):

    - ``features``: the batch's features, materialized once, tagged
      ``new=True`` and unioned with the prior features tagged
      ``new=False`` (``candidate_pairs`` then runs in probe mode);
    - ``edges``: the new edges unioned with the prior ``id → component``
      mapping as ``(id_a=id, id_b=component)`` edges;
    - every other stage: its plan unchanged.

    ``frames`` holds each stage's frame: the features union, and every
    other stage as its operators produced it (edges without the prior
    mapping)."""

    def __init__(
        self, prior_features: DataFrame | None, prior_components: DataFrame | None
    ):
        self.prior_features = prior_features
        self.prior_components = prior_components
        self.frames: dict[str, DataFrame] = {}

    def stage(self, name: str, compute, **write_kwargs) -> DataFrame:
        out = compute()
        if name == "features":
            # block keys, the scorer and cluster assignment all read the
            # batch's features: run the Arrow pass once
            out = out.localCheckpoint(eager=False).withColumn("new", F.lit(True))
            if self.prior_features is not None:
                out = self.prior_features.withColumn("new", F.lit(False)).unionByName(out)
        self.frames[name] = out
        if name == "edges" and self.prior_components is not None:
            out = self.prior_components.select(
                F.col("id").alias("id_a"), F.col("component").alias("id_b")
            ).unionByName(out)
        return out

    def rows(self, name: str) -> None:
        return None


def er_chain(pages: DataFrame, cfg: PipelineConfig, stages) -> DataFrame:
    """The ER stage chain; returns the clusters table (rid, id, url,
    warc_ts, lang, url_norm, host, n_tokens, cluster_id). ``stages`` is
    the hook: ``stages.stage(name, compute, **write_kwargs)`` returns the
    stage's DataFrame, ``stages.rows(name)`` a written stage's row count
    or None. The operators are called through this module's globals."""
    # features is bucketed on id: the scoring stage joins it TWICE (id_a,
    # id_b) and cluster assignment once more — bucketing pays one shuffle
    # at write time and deletes the features-side exchange from all three
    features = stages.stage(
        "features", lambda: extract_features(pages, **cfg.features_args()),
        bucket_by="id",
    )
    block_args = cfg.block_args(stages.rows("features"))
    blocks = stages.stage(
        "blocks",
        lambda: salt_oversized_blocks(
            block_keys(features, **block_args), **cfg.salt_args()
        ),
    )
    pairs = stages.stage("pairs", lambda: candidate_pairs(blocks, **cfg.pair_args()))
    edges = stages.stage(
        "edges", lambda: match_edges(score_pairs(pairs, features, cfg.scoring))
    )
    components = stages.stage("components", lambda: connected_components(edges))
    # the clusters table is the pipeline's OUTPUT — keep it slim (the
    # band-key/sketch columns live in the features checkpoint; rewriting
    # them here would double the heaviest write for no reader)
    slim = [
        "rid", "id", "url", "warc_ts", "lang", "url_norm", "host",
        "n_tokens", "cluster_id",
    ]
    return stages.stage(
        "clusters",
        lambda: assign_clusters(features, components).select(*slim),
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    config: PipelineConfig | None = None,
    resume: bool = True,
) -> DataFrame:
    """Run (or resume) the full ER pipeline through the stage store;
    returns the clusters table of ``er_chain``."""
    cfg = config or PipelineConfig()
    store = StageStore(spark, workdir, fingerprint=cfg.fingerprint())
    if not resume:
        store.invalidate_from("features", STAGE_ORDER)
    return er_chain(pages, cfg, store)
