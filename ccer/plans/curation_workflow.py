"""End-to-end training-data curation pipeline: pages → docs →
exact-dedup → near-dup sweep → quality filter → decontaminate → sample,
each stage checkpointed to the StageStore and resumable — the curation
counterpart of the ER plan in ``pipeline.py``, composed from the same
operator library a user reaches for one-at-a-time.

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

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccer.operators.cluster import connected_components
from ccer.operators.dedup import decontaminate, exact_dedup, minhash_neardup_pairs
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


def run_curation(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    config: CurationConfig | None = None,
    resume: bool = True,
    eval_docs: DataFrame | None = None,
) -> DataFrame:
    """Run (or resume) the curation funnel; returns the surviving docs
    ``(doc_id, url, source, lang, text)``. Stage row counts land in the
    StageStore manifest (per-partition lineage + duration), so the CLI
    can report the funnel without recounting.

    ``eval_docs``: any DataFrame with a ``text`` column (an id column is
    derived if absent); only its n-grams are used. No-op stages
    (decontam without an eval set, sample at fraction 1.0) are SKIPPED
    rather than materialized as pass-throughs — a pass-through stage
    would store every doc id and add a semi-join to each read.
    """
    cfg = config or CurationConfig()
    store = StageStore(spark, workdir, fingerprint=cfg.fingerprint())
    if not resume:
        store.invalidate_from("docs", CURATION_STAGE_ORDER)

    # JVM-native host normalization (parse_url runs in codegen; the ER
    # plan's Arrow features pass has its own Python url_host — this
    # stage never needs the Python crossing)
    host = F.regexp_replace(
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))), r"^www\.", ""
    )
    docs = store.stage(
        "docs",
        lambda: pages.select(
            F.xxhash64("url").alias("doc_id"),
            "url",
            host.alias("source"),
            "lang",
            "text",
        ),
        check=_require_unique_doc_ids,
    )

    # a filter stage stores its survivors' doc_ids; the store serves its
    # rows (and its text, to the next stage) as docs semi-joined to them
    def keep(name, compute):
        return store.stage(name, lambda: compute().select("doc_id"), keep_of="docs")

    exact = keep("exact", lambda: exact_dedup(docs))

    def neardup_sweep():
        edges = minhash_neardup_pairs(
            exact, num_perm=cfg.num_perm, est_threshold=cfg.minhash_threshold
        ).select("id_a", "id_b")
        comps = connected_components(edges)
        # keep the min-id member of each near-dup component: the
        # component label IS the min id, so survivors are exactly the
        # docs whose id equals their label — everyone else drops; docs
        # absent from the edge set are singletons and survive
        losers = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("doc_id")
        )
        return exact.join(losers, "doc_id", "left_anti")

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
