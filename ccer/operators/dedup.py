"""Deduplication family for large-scale corpus curation.

Five dedup modes over a document table, each the Spark-first expression
of a standard technique (the training-data-pipeline extensions the
engine provides beyond reference parity):

- exact         hash-groupBy on the (optionally normalized) text
- token-Jaccard in-block self-join + JVM array_intersect/array_union
- MinHash-LSH   signature → ``block_keys`` band keys → ``candidate_pairs``
                → estimated-Jaccard verify
- SimHash       fingerprint → ``block_keys`` rotated-prefix keys →
                ``candidate_pairs`` with the Hamming bound as prefilter
- embedding     cosine near-dup over array<float> (see ann.py)

The MinHash and SimHash modes are the ER near-dup core, not a copy of
it: signatures come from the features pass's per-document step
(``shingle_signature``), keys from ``block_keys`` and pairs from
``candidate_pairs``, so a text's signature and band keys here equal its
ER features-table values. Everything except the signature computation
(one Arrow pass) is JVM-side column algebra — blocking keys, pair
generation, Hamming distances, and Jaccard all run inside whole-stage
codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ccer.functions.hashing import shingle_signature
from ccer.functions.normalize import normalize_text
from ccer.operators.blocking import block_keys, candidate_pairs


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_key, keep_id, n_dups).

    keep_id = min id (deterministic survivor), reference FIRST-per-group
    analog (repository.py:229-237) with a stable aggregate.
    """
    return (
        docs.groupBy(F.col(text_col).alias("text_key"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct text — the dedup sweep
    a training pipeline runs before anything else.

    ONE shuffle, keyed on a 16-byte md5 digest of the text (collision
    odds 2^-128 — far below the near-dup sweep's own false-merge rate):
    ``groupBy(digest).agg(min_by(struct(row), id))`` lets map-side
    partial aggregation collapse duplicates before they ever cross the
    wire, so at a 50%-duplicate web corpus only ~half the payload
    shuffles. The previous shape (groupBy on the raw text + self
    semi-join) carried the full text across three exchanges — measured
    as the second-largest contributor to the curation funnel's 8 GB
    shuffle at N=960k."""
    cols = docs.columns
    digest = F.unhex(F.md5(F.col(text_col)))
    row = F.struct(*[F.col(c) for c in cols])
    return (
        docs.groupBy(digest.alias("_tk"))
        .agg(F.min_by(row, F.col(id_col)).alias("_row"))
        .select(*[F.col("_row").getField(c).alias(c) for c in cols])
    )


def token_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Within-block near-dup pairs by word-token Jaccard — pure JVM:
    split → array_distinct → self-join on block → array_intersect /
    array_union sizes. SQL-expressible (DuckDB list_intersect oracle)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+")).alias("toks"),
    )
    a = toks.select(F.col("id").alias("id_a"), "blk", F.col("toks").alias("toks_a"))
    b = toks.select(F.col("id").alias("id_b"), "blk", F.col("toks").alias("toks_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("toks_a", "toks_b"))
            / F.size(F.array_union("toks_a", "toks_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


SIGNATURE_SCHEMA = "id long, sig array<int>, simhash long"


def text_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    shingle_k: int = 3,
) -> DataFrame:
    """One Arrow pass: id → (MinHash signature, SimHash fingerprint), the
    ``id``/``sig``/``simhash`` columns ``block_keys`` reads.

    Each text goes through the features pass's per-document step
    (``shingle_signature``) over its full normalized text, so a text
    shorter than the features ``text_cap`` gets the same ``sig`` and
    ``simhash`` as its ER features row. Signatures are stored 32-bit
    (top half of each 64-bit min-hash, order-preserving truncation — the
    same convention as the ER features table and datasketch's default
    precision). Halves every downstream signature byte: the band-key
    slices, the pair-verify join-backs, and the localCheckpointed live
    set in the curation funnel / streaming state. Cost: an extra 2^-32
    per-position collision probability in the estimated-Jaccard match
    count — ≪ the sketch's own 1/sqrt(num_perm) noise.
    """

    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)

    def gen(iterator):
        # per-task word-hash memo for the shingle hasher, bounded as in
        # the features pass
        word_cache: dict = {}
        for pdf in iterator:
            if len(word_cache) > 2_000_000:
                word_cache.clear()
            sigs = []
            fps = np.empty(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf[text_col].tolist()):
                words = (normalize_text(text) or "").split()
                _, sig, fp = shingle_signature(words, shingle_k, num_perm, word_cache)
                sigs.append((sig >> np.uint64(32)).astype(np.uint32).view(np.int32))
                fps[i] = np.uint64(fp).astype(np.int64)
            yield pd.DataFrame(
                {"id": pdf[id_col].astype(np.int64), "sig": sigs, "simhash": fps}
            )

    return docs.select(id_col, text_col).mapInPandas(gen, schema=SIGNATURE_SCHEMA)


def _join_endpoints(pairs: DataFrame, sigs: DataFrame, col: str) -> DataFrame:
    """Join ``col`` of both pair endpoints back from the signature table
    as ``{col}_a`` / ``{col}_b``."""
    return pairs.join(
        sigs.select(F.col("id").alias("id_a"), F.col(col).alias(f"{col}_a")), "id_a"
    ).join(
        sigs.select(F.col("id").alias("id_b"), F.col(col).alias(f"{col}_b")), "id_b"
    )


def estimated_jaccard(pairs: DataFrame, sigs: DataFrame, num_perm: int) -> DataFrame:
    """(id_a, id_b) pairs → (id_a, id_b, est_jaccard): matching signature
    positions / num_perm (JVM zip_with + filter + size — no second Python
    pass), with both signatures joined back from ``sigs`` on id."""
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    ) / F.lit(float(num_perm))
    return _join_endpoints(pairs, sigs, "sig").select(
        "id_a", "id_b", est.alias("est_jaccard")
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    est_threshold: float = 0.7,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with signature-estimated Jaccard.

    ``block_keys`` MinHash band keys → ``candidate_pairs`` (no Hamming
    prefilter) → ``estimated_jaccard`` ≥ ``est_threshold``.
    """
    # consumed three times (band keys + the two signature join-backs):
    # materialize the Arrow pass once; blocks are reclaimed by the
    # ContextCleaner when the result DataFrame is collected.
    sigs = text_signatures(docs, text_col, id_col, num_perm=num_perm).localCheckpoint(
        eager=False
    )
    # the 128-long signature (~0.5 KB at 32-bit precision) must NOT ride
    # the pair generation: block rows are slim (key, pass, id, simhash)
    # rows, and the signatures join back on id afterwards (the ER
    # scorer's slim-crossing pattern, scoring.py:253-270).
    blocks = block_keys(sigs, passes=("minhash",), minhash_bands=bands, num_perm=num_perm)
    pairs = candidate_pairs(blocks, hamming_prefilter=None)
    return (
        estimated_jaccard(pairs, sigs, num_perm)
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    rotations=(0, 21, 43),
    max_hamming: int = 6,
) -> DataFrame:
    """SimHash near-dup pairs: ``block_keys`` rotated-prefix keys →
    ``candidate_pairs`` with ``max_hamming`` as its JVM
    bit_count(a XOR b) prefilter; the distance is recomputed on the
    surviving pairs."""
    # consumed three times (keys + the two fingerprint join-backs)
    sigs = text_signatures(docs, text_col, id_col).localCheckpoint(eager=False)
    blocks = block_keys(
        sigs,
        passes=("simhash",),
        simhash_bits=prefix_bits,
        simhash_rotations=rotations,
    )
    pairs = candidate_pairs(blocks, hamming_prefilter=max_hamming)
    return _join_endpoints(pairs, sigs, "simhash").select(
        "id_a",
        "id_b",
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
    )


# =====================================================================
# Word-window operators: chunk-level exact dedup + benchmark
# decontamination. Both ride the same n-gram machinery; everything is
# JVM column algebra (split → sequence → slice → array_join → xxhash64)
# so the gram explosion stays inside whole-stage codegen.
# =====================================================================

def _word_gram_hashes(
    docs: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exploded (id, gh, n_grams) rows: one xxhash64 per n-word window
    (stride 1), plus the doc's total gram count carried on every row (a
    constant few bytes that lets downstream per-doc aggregates avoid a
    second join against the corpus). A doc with fewer than n words
    yields no rows. Only the 8-byte hash, the id, and the count leave
    the projection — the gram strings are consumed inside the per-row
    expression, so any downstream shuffle carries ~20 B/gram regardless
    of text size.

    Gram identity (r6 optimization, guide §2.3 "narrower types" applied
    to compute): each word is hashed ONCE, and a gram's 64-bit key is
    the xxhash64 chain over its n word hashes — no n-word string is ever
    materialized. With stride-1 windows the old array_join built (and
    hashed) every text ~n times over; the word-hash window removes that
    n-fold string construction. Gram keys are still a deterministic
    injective-modulo-2^-64 function of the gram's word sequence (both
    join sides use the same derivation), so the overlap counts the SQL
    oracle checks are unchanged."""
    words = F.split(F.col(text_col), " ")
    # materialize the word hashes as their own projection output BEFORE
    # the window pass: referenced n times per gram, an inlined transform
    # would re-hash every word of the doc once per element_at
    hashed = docs.select(
        F.col(id_col).alias("id"),
        F.size(words).alias("_nw"),
        F.transform(words, lambda w: F.xxhash64(w)).alias("_wh"),
    )
    grams = F.when(
        F.col("_nw") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("_nw") - n + 1),
            lambda i: F.xxhash64(
                *[F.element_at("_wh", i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return hashed.select(
        "id",
        F.greatest(F.col("_nw") - n + 1, F.lit(0)).alias("n_grams"),
        F.explode(grams).alias("gh"),
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    n-word gram with an evaluation set (the n-gram-overlap rule used to
    scrub eval contamination from web-scale training corpora; n=8..13 is
    the published range).

    Returns one row per contaminated training doc:
    ``(doc_id, shared_grams, n_grams, contam_frac)`` where shared_grams
    counts DISTINCT overlapping grams and contam_frac = shared/total.

    Scale shape: the eval side is always small relative to the corpus
    (benchmarks are ~1e6 grams, the corpus ~1e12), so its distinct gram
    hashes broadcast — the training table's exploded gram stream is
    filtered map-side with NO shuffle of corpus grams; only the
    surviving (id, gh) hits shuffle into the per-doc aggregate, and the
    per-doc gram total rides each hit row so no second corpus join is
    needed. If an eval set ever outgrew broadcast, dropping the hint
    falls back to a hash join on the 8-byte gram key.

    Gram identity is the 64-bit xxhash of the gram text: at 1e12 grams
    the expected number of colliding distinct-gram pairs is far below
    one per corpus, which cannot flip the ≥1-shared-gram contamination
    decision; the SQL oracle joins on the gram STRING, so the driver
    gate also verifies the hash path's equivalence on real data.
    """
    eval_grams = (
        _word_gram_hashes(eval_docs, n, id_col, text_col).select("gh").distinct()
    )
    train_grams = _word_gram_hashes(train, n, id_col, text_col)
    return (
        train_grams.join(F.broadcast(eval_grams), "gh")
        .groupBy("id")
        .agg(
            F.count_distinct("gh").alias("shared_grams"),
            F.first("n_grams").alias("n_grams"),
        )
        .select(
            F.col("id").alias(id_col),
            "shared_grams",
            "n_grams",
            F.round(F.col("shared_grams") / F.col("n_grams"), 6).alias("contam_frac"),
        )
    )


def chunk_dedup_stats(
    docs: DataFrame,
    chunk_words: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Passage-level exact dedup: split each doc into non-overlapping
    ``chunk_words``-word chunks (trailing partial chunk included), find
    chunks whose exact text occurs more than once corpus-wide, and
    report per-doc ``(doc_id, n_chunks, dup_chunks, dup_frac)`` for docs
    carrying at least one duplicated chunk — the per-passage analog of
    line-level dedup for text without line structure.

    Scale shape: chunks leave the scan as 8-byte hashes with the per-doc
    chunk total riding each row (the chunk strings never leave the
    map-side projection). One groupBy(hash) — partial-aggregated
    map-side — finds duplicated hashes; the join back onto the chunk
    stream is left to AQE because the duplicated-chunk set is NOT
    reliably small on web corpora (line/passage dup rates of 20-30% are
    normal), so forcing a broadcast would OOM exactly on the inputs this
    operator exists for; both sides of that join are slim (≤20 B/row).
    Occurrences are counted across ALL positions (a chunk repeated twice
    inside one doc counts), matching the SQL oracle.
    """
    words = F.split(F.col(text_col), " ")
    n_chunks_col = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks_col - 1),
        lambda i: F.xxhash64(
            F.array_join(F.slice(words, i * chunk_words + 1, chunk_words), " ")
        ),
    )
    exploded = docs.select(
        F.col(id_col).alias("id"),
        n_chunks_col.alias("n_chunks"),
        F.explode(chunks).alias("ch"),
    )
    dup_hashes = (
        exploded.groupBy("ch")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 1)
        .select("ch")
    )
    return (
        exploded.join(dup_hashes, "ch")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("dup_chunks"),
            F.first("n_chunks").alias("n_chunks"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_chunks",
            "dup_chunks",
            F.round(F.col("dup_chunks") / F.col("n_chunks"), 6).alias("dup_frac"),
        )
    )
