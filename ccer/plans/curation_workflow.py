"""End-to-end training-data curation pipeline: pages → docs →
exact-dedup → near-dup sweep → quality filter → decontaminate → sample
— the curation counterpart of the ER plan in ``pipeline.py``, composed
from the same operator library a user reaches for one-at-a-time.

The funnel after ``docs`` is defined once, in ``curation_chain``, and
run through a stage hook: ``run_curation`` passes a ``StageStore`` (each
stage checkpointed and resumable), ``curate_batch``
(``ccer.streaming.curation``) a ``CurationDelta``, one delta rule per
stage against a stream's accumulated dedup state.

Reference lifecycle analog: FileProcessor.run (query_db/workflows.py:56-100)
staged-materialization shape, applied to the corpus-curation flow the
reference does not have (training-data extension, SURVEY §2.12).

Stage semantics (every stage is a row-filter over the previous one, so
per-stage lineage counters read as a funnel):

1. ``docs``        stable doc ids + source host derived from the page url
2. ``exact``       one survivor (min id) per byte-identical text
3. ``neardup``     MinHash-LSH pairs → connected components → keep the
                   min-id member of each near-dup group
4. ``quality``     Gopher repetition gate + token-count floor; C4's
                   terminal-punctuation prior is OFF by default because
                   it presumes prose (it would empty a non-punctuated
                   corpus) — enable for real web text via config
5. ``decontam``    drop docs sharing any n-gram with the eval set
                   (skipped when no eval set is supplied)
6. ``sample``      deterministic per-source downsampling (md5-bucket;
                   skipped at fraction 1.0)

Storage: only ``docs`` stores rows, in input order. Stages 2–6 are
keep-lists (``StageStore.write(..., keep_of="docs")``): each stores the
``doc_id`` of its survivors, and reading it (``StageStore.read``, also
in a fresh store over the workdir) returns ``docs`` semi-joined to those
ids — ``docs``' columns in ``docs``' order, the rows a full copy would
hold. The near-dup sweep and the quality and decontam gates read their
text through that read-back. On ``curation_synth`` (6,000 pages) the
store fell from 2.08× the input bytes to ~0.5×.

Doc ids are ``xxhash64(url)``, and they must be a key of ``docs``: a
keep-list names rows by id, so a url seen twice (a re-crawl) would bring
both rows back wherever one survives. The ``docs`` stage refuses such
an input and names the url. At 10^12 distinct urls the birthday bound
gives ~27 expected colliding pairs per corpus; a collision is refused
the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ccer.functions.hashing import band_rows
from ccer.operators.blocking import join_endpoints
from ccer.operators.cluster import connected_components
from ccer.operators.dedup import (
    decontaminate, exact_dedup, minhash_neardup_pairs, signature_neardup_pairs,
    text_signatures,
)
from ccer.operators.quality import repetition_signals
from ccer.operators.textstats import stratified_sample
from ccer.sources.catalog import StageStore, load_manifest

CURATION_STAGE_ORDER = ["docs", "exact", "neardup", "quality", "decontam", "sample"]


class CurationConfig:
    def __init__(
        self,
        minhash_threshold: float = 0.7,
        num_perm: int = 128,
        min_tokens: int = 5,
        max_dup_line_frac: float = 0.3,
        use_c4: bool = False,
        decontam_n: int = 8,
        sample_fraction: float = 1.0,
        sample_by_source: dict | None = None,
        sample_seed: int = 42,
    ):
        # the dedup operators band every signature 32 ways: a ragged
        # num_perm fails here, not inside the Arrow pass
        band_rows(num_perm, 32)
        self.minhash_threshold = minhash_threshold
        self.num_perm = num_perm
        self.min_tokens = min_tokens
        self.max_dup_line_frac = max_dup_line_frac
        self.use_c4 = use_c4
        self.decontam_n = decontam_n
        self.sample_fraction = sample_fraction
        self.sample_by_source = sample_by_source or {}
        self.sample_seed = sample_seed

    def fingerprint(self) -> str:
        import hashlib

        payload = repr(sorted(vars(self).items(), key=lambda kv: kv[0]))
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


def doc_rows(pages: DataFrame) -> DataFrame:
    """The ``docs`` stage's plan: ``(doc_id, url, source, lang, text)``,
    ``doc_id`` the url's ``xxhash64`` and ``source`` its host without
    ``www.``, normalized JVM-side (``parse_url`` runs in codegen)."""
    host = F.regexp_replace(
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))), r"^www\.", ""
    )
    return pages.select(
        F.xxhash64("url").alias("doc_id"), "url", host.alias("source"), "lang", "text"
    )


def component_roots(docs: DataFrame, comps: DataFrame) -> DataFrame:
    """``docs`` minus every doc that is not its near-dup component's
    label, the component's min id; docs absent from ``comps`` survive."""
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


def curation_chain(
    docs: DataFrame,
    cfg: CurationConfig,
    stages,
    eval_docs: DataFrame | None = None,
) -> DataFrame:
    """The curation funnel over the ``docs`` stage's rows: exact →
    neardup → quality → decontam → sample; returns the surviving docs
    rows. ``stages`` is the hook: ``stages.stage(name, compute,
    keep_of="docs")`` returns the stage's rows, where ``compute()`` is
    the ``doc_id`` keep-list of its survivors. The operators are called
    through this module's globals.

    ``eval_docs``: any DataFrame with a ``text`` column (an id column is
    derived if absent); only its n-grams are used. No-op stages
    (decontam without an eval set, sample at fraction 1.0) are SKIPPED
    rather than materialized as pass-throughs — a pass-through stage
    would store every doc id and add a semi-join to each read.
    """

    def keep(name, compute):
        return stages.stage(name, lambda: compute().select("doc_id"), keep_of="docs")

    exact = keep("exact", lambda: exact_dedup(docs))

    def neardup_sweep():
        edges = minhash_neardup_pairs(
            exact, num_perm=cfg.num_perm, est_threshold=cfg.minhash_threshold
        ).select("id_a", "id_b")
        return component_roots(exact, connected_components(edges))

    neardup = keep("neardup", neardup_sweep)

    def quality_gate():
        # repetition_signals and c4_filters are pure per-row column
        # algebra, so the gate is an inline filter over the neardup
        # read-back — zero shuffles. Spark pushes it below the
        # read-back's semi-join, so it runs over every docs row, not
        # just the survivors: the price of reading text through docs.
        toks = F.size(F.split(F.col("text"), r"\s+"))
        gated = repetition_signals(neardup).filter(
            (F.col("dup_line_frac") <= cfg.max_dup_line_frac)
            & (toks >= cfg.min_tokens)
        )
        if cfg.use_c4:
            from ccer.operators.quality import c4_filters

            gated = c4_filters(gated).filter(F.col("keep"))
        return gated

    quality = keep("quality", quality_gate)

    decontam = quality
    if eval_docs is not None:
        ev = eval_docs
        if "doc_id" not in ev.columns:
            # content-derived id, NOT monotonically_increasing_id: only the
            # eval grams are consumed downstream, but a partition-dependent
            # id would make the funnel nondeterministic across retries —
            # the engine's stable-id rule (features.py:50) applies here too
            ev = ev.withColumn("doc_id", F.xxhash64(F.col("text")))

        def decontam_stage():
            flagged = decontaminate(quality, ev, n=cfg.decontam_n).select("doc_id")
            return quality.join(flagged, "doc_id", "left_anti")

        decontam = keep("decontam", decontam_stage)

    if cfg.sample_by_source or cfg.sample_fraction < 1.0:

        def sample_stage():
            return stratified_sample(
                decontam,
                cfg.sample_by_source,
                default_fraction=cfg.sample_fraction,
                seed=cfg.sample_seed,
            )

        return keep("sample", sample_stage)
    return decontam


def run_curation(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    config: CurationConfig | None = None,
    resume: bool = True,
    eval_docs: DataFrame | None = None,
) -> DataFrame:
    """Run (or resume) the curation funnel through the stage store: the
    ``docs`` stage, then ``curation_chain``. Returns the surviving docs
    ``(doc_id, url, source, lang, text)``. Stage row counts land in the
    StageStore manifest (per-partition lineage + duration), so the CLI
    can report the funnel without recounting."""
    cfg = config or CurationConfig()
    store = StageStore(spark, workdir, fingerprint=cfg.fingerprint())
    if not resume:
        store.invalidate_from("docs", CURATION_STAGE_ORDER)
    docs = store.stage("docs", lambda: doc_rows(pages), check=_require_unique_doc_ids)
    return curation_chain(docs, cfg, store, eval_docs)


class CurationDelta:
    """The curation delta stage hook: the ``docs`` stage and
    ``curation_chain`` under ``CurationDelta(prior, cfg)`` advance a
    stream's dedup state ``prior`` (a ``ccer.streaming.curation``
    ``CurationState``; None before the first batch) by one batch of
    pages, one rule per stage:

    - ``docs``: ``doc_id`` becomes the arrival id, ``prior.next_id``
      plus the rank by ``(text, url)`` within the batch, so "min
      ``doc_id``" keeps the first arrival and every prior label is below
      every new id;
    - ``exact``: the batch's ``exact_dedup`` survivors, anti-joined
      against the digests in ``prior.seen``;
    - ``neardup``: the batch's ``text_signatures`` rows (kept for the
      state) probe ``prior.sigs`` through ``signature_neardup_pairs``,
      the signature half of ``minhash_neardup_pairs``, and an old
      endpoint stands for its component's label (``prior.comps``, then
      ``prior.relabels``), so a chain A (batch 1) ← B (batch 2, dropped
      as A's near-dup) ← C (batch 3, near-dup of B only) drops C as the
      sweep over the union would; survivors are the component roots;
    - every other stage: ``compute()``, semi-joined into ``docs``.

    ``frames`` holds each stage's rows; ``delta`` the state's advance:
    this batch's ``seen``, ``sigs`` and ``comps`` rows, the whole
    compressed ``relabels`` and the new ``next_id``."""

    def __init__(self, prior, cfg: CurationConfig):
        self.prior = prior
        self.cfg = cfg
        self.next_id = prior.next_id if prior is not None else 0
        self.frames: dict[str, DataFrame] = {}
        self.delta: dict = {}

    def stage(self, name: str, compute, keep_of: str | None = None) -> DataFrame:
        if name == "docs":
            out = self._arrival_ranked(compute())
        elif name == "neardup":
            out = self._neardup_probe(self.frames["exact"])
        else:
            out = compute()
            if keep_of is not None:
                out = self.frames[keep_of].join(out, "doc_id", "left_semi")
            if name == "exact":
                out = self._unseen(out)
        self.frames[name] = out
        return out

    def _arrival_ranked(self, docs: DataFrame) -> DataFrame:
        """``docs`` with ``doc_id`` = ``next_id`` + rank, assigned
        DISTRIBUTED (range-partition → per-partition row_number +
        driver-side partition offsets), never through a single-partition
        global window that a large catch-up batch would funnel into."""
        spark = docs.sparkSession
        n_part = max(2, spark.sparkContext.defaultParallelism)
        # localCheckpoint pins the SAMPLED range boundaries (each action
        # re-samples them), so the counts and the ranked join see one
        # partitioning. Executor loss then fails the batch instead of
        # recomputing it; a stream replays a failed batch.
        by_range = (
            docs.repartitionByRange(n_part, "text", "url")
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        counts = dict(by_range.groupBy("__pid").count().collect())
        offsets, acc = [], 0
        for pid in range(n_part):
            offsets.append((pid, acc))
            acc += counts.get(pid, 0)
        self.delta["next_id"] = self.next_id + acc
        off = spark.createDataFrame(offsets, "__pid int, __off long")
        rank = F.row_number().over(Window.partitionBy("__pid").orderBy("text", "url"))
        return (
            by_range.join(F.broadcast(off), "__pid")
            .withColumn("doc_id", F.lit(self.next_id) + F.col("__off") + rank)
            .select(*docs.columns)
        )

    def _unseen(self, exact: DataFrame) -> DataFrame:
        digest = F.unhex(F.md5(F.col("text")))
        if self.prior is not None:
            exact = exact.join(self.prior.seen, digest == F.col("text_md5"), "left_anti")
        exact = exact.localCheckpoint(eager=True)
        self.delta["seen"] = exact.select(digest.alias("text_md5"), "doc_id")
        return exact

    def _neardup_probe(self, exact: DataFrame) -> DataFrame:
        cfg, prior = self.cfg, self.prior
        sigs = text_signatures(exact, num_perm=cfg.num_perm).localCheckpoint(eager=True)
        edges = signature_neardup_pairs(
            sigs, num_perm=cfg.num_perm, est_threshold=cfg.minhash_threshold,
            prior=prior.sigs if prior is not None else None,
        ).select("id_a", "id_b")
        merged = None
        if prior is not None:
            # every old id → its component's label after the relabels
            # (relabels is small by construction: a broadcast join)
            relabel = prior.relabels.withColumnRenamed("old_label", "component")
            labels = prior.comps.join(F.broadcast(relabel), "component", "left").select(
                "id", F.coalesce("new_label", "component").alias("component")
            )
            edges = join_endpoints(edges, labels, ["component"], how="left").select(
                F.coalesce("component_a", "id_a").alias("id_a"),
                F.coalesce("component_b", "id_b").alias("id_b"),
            ).filter(F.col("id_a") != F.col("id_b"))
            merged = prior.relabels
        comps = connected_components(edges).localCheckpoint(eager=True)
        # prior labels (ids <= next_id) that this batch merged into an
        # older component (a bridge doc) become relabel rows; compressed
        # transitively, as every relabel points at a smaller label
        swallowed = comps.filter(
            (F.col("id") <= self.next_id) & (F.col("id") != F.col("component"))
        ).select(F.col("id").alias("old_label"), F.col("component").alias("new_label"))
        merged = swallowed if merged is None else merged.unionByName(swallowed)
        self.delta.update(
            sigs=sigs,
            comps=sigs.select("id")
            .join(comps, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component")),
            relabels=connected_components(
                merged.select(F.col("old_label").alias("id_a"), F.col("new_label").alias("id_b"))
            )
            .filter(F.col("id") != F.col("component"))
            .select(F.col("id").alias("old_label"), F.col("component").alias("new_label")),
        )
        return component_roots(exact, comps)


def _require_unique_doc_ids(docs: DataFrame) -> None:
    """Raise unless ``doc_id`` is a key of ``docs``. Every later stage
    names its rows by ``doc_id``, so a repeated id (one url crawled
    twice, or an xxhash64 collision of two urls) would return every row
    under that id wherever the id survives — including a re-crawl that
    exact dedup had dropped. One aggregation over the stored ``doc_id``
    column; the url is read only to name it in the error."""
    repeated = (
        docs.groupBy("doc_id").count().filter(F.col("count") > 1).select("doc_id").limit(1).collect()
    )
    if repeated:
        doc_id = repeated[0]["doc_id"]
        urls = sorted(
            r["url"] for r in docs.filter(F.col("doc_id") == doc_id).select("url").distinct().collect()
        )
        why = (
            f"url {urls[0]!r} appears more than once"
            if len(urls) == 1
            else f"urls {urls} share it (an xxhash64 collision)"
        )
        raise ValueError(
            f"doc_id {doc_id} is not a key of docs: {why}; curation stages keep "
            "rows by doc_id, so each url must occur once in the input"
        )


def stage_counts(workdir: str) -> dict:
    """Read the per-stage row counts (the curation funnel) from the
    StageStore manifest — no recount scans."""
    return {
        name: {
            "rows": meta.get("rows"),
            "duration_sec": meta.get("duration_sec"),
        }
        for name, meta in load_manifest(workdir)["stages"].items()
    }
