"""Per-record feature extraction — ONE Arrow pass over the page table.

Everything the downstream stages need (normalized url/host, capped
normalized text, title, MinHash band keys, SimHash fingerprint, stable
63-bit record id) is computed in a single ``mapInPandas`` crossing so the
text is normalized exactly once (the byte-identical invariant) and no
later stage re-enters Python for per-record work.

Reference analog: the Rust ETL's extract+normalize relay
(parsing-utils/parse_join_normalize_author_affiliation_metadata/src/main.rs:363-381
— normalized key columns computed once, carried through all joins).

Scale note: output width per record is bounded AND deliberately small —
the shuffle-byte budget is what caps throughput at scale (measured: the
pairwise-scoring exchange is the pipeline's largest shuffle, and every
byte here rides it once per consuming join):

- the normalized text is NOT carried (its 64-bit hash is, for the
  byte-identical-extraction check); the scorer needs only the capped
  ``text_prefix``;
- the MinHash signature is NOT carried: its only reader is blocking, so
  the pass emits the LSH band keys of the configured banding (``bands``)
  and the signature stays a local of the Arrow pass;
- the KMV overlap sketch stores 32-bit values (the order-preserving top
  half of each 64-bit hash): bottom-k semantics are preserved with
  collision probability 2^-32 per comparison — immaterial next to the
  estimator's own variance — at half the bytes.

The band keys, SimHash and sketch come from one ``signature_batch`` call
per Arrow batch, the step ``dedup.text_signatures`` runs too, so a
text's band keys and fingerprint are equal in both tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ccer.functions.hashing import band_rows, hash64, signature_batch
from ccer.functions.normalize import html_to_text, normalize_text, normalize_url, url_host

FEATURES_SCHEMA = (
    "rid string, id long, url string, warc_ts timestamp, lang string, "
    "url_norm string, host string, title_norm string, text_norm_hash long, "
    "text_prefix string, n_tokens int, n_sh int, "
    "simhash long, sh array<int>, bands array<long>"
)
# ``bands``: the ``minhash_bands`` LSH band keys of the row's 32-bit
# MinHash signature (spark_minhash_band_keys) — what ``block_keys``
# reads for the MinHash pass


def stable_id(rid: str) -> int:
    """Stable non-negative 63-bit record id from the business key.

    Content-derived (never monotonically_increasing_id) so cluster labels
    survive re-runs, resumes, and repartitioning. At 10^12 records a
    128-bit id (two longs) is the production choice; 63 bits keeps the CC
    shuffles cheap here and the upgrade is mechanical.
    """
    return hash64(rid) & 0x7FFFFFFFFFFFFFFF


def extract_features(
    pages: DataFrame,
    num_perm: int = 128,
    shingle_k: int = 3,
    text_cap: int = 4000,
    title_cap: int = 120,
    prefix_cap: int = 128,
    sketch_k: int = 64,
    minhash_bands: int = 32,
) -> DataFrame:
    """(url, warc_ts, html?, text?, lang) → features table.

    ``text`` is taken from the text column when present, else extracted
    deterministically from ``html`` via the canonical kernel. ``bands``
    holds ``minhash_bands`` keys per row, so ``num_perm`` must be a
    multiple of ``minhash_bands``.
    """
    from pyspark.sql import functions as F

    band_rows(num_perm, minhash_bands)  # raises on a ragged banding

    cols = pages.columns
    has_text = "text" in cols
    has_html = "html" in cols

    # ship ONLY what the kernel needs through Arrow. html bytes are the
    # widest column; when a text column exists, html is needed only for
    # rows whose text is null — blank it JVM-side for the rest.
    selected = [F.col("url"), F.col("warc_ts")]
    selected.append(F.col("lang") if "lang" in cols else F.lit(None).cast("string").alias("lang"))
    if has_text:
        selected.append(F.col("text"))
        if has_html:
            selected.append(
                F.when(F.col("text").isNull(), F.col("html")).alias("html")
            )
    elif has_html:
        selected.append(F.col("html"))
    pages = pages.select(*selected)
    has_text = "text" in pages.columns
    has_html = "html" in pages.columns

    # the Arrow pass parallelizes per partition — a small/single-file
    # input would otherwise run the whole corpus on one core
    target = pages.sparkSession.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < target:
        pages = pages.repartition(target)

    def gen(iterator):
        for pdf in iterator:
            n = len(pdf)
            urls = pdf["url"].tolist()
            tss = pdf["warc_ts"].tolist()
            langs = pdf["lang"].tolist() if "lang" in pdf else [None] * n
            texts = pdf["text"].tolist() if has_text else [None] * n
            htmls = pdf["html"].tolist() if has_html else [None] * n
            # column-wise output buffers
            rids, ids2 = [], np.empty(n, dtype=np.int64)
            url_norms, hosts, title_norms = [], [], []
            text_prefixes = []
            text_norm_hashes = np.empty(n, dtype=np.int64)
            n_tokens = np.empty(n, dtype=np.int32)

            def words_per_doc():
                # the per-record columns, yielding each document's words
                # to the signature step as it goes
                for i in range(n):
                    url = urls[i] or ""
                    text = texts[i]
                    if text is None and htmls[i] is not None:
                        text = html_to_text(htmls[i])
                    text = text or ""
                    title = text.split("\n", 1)[0][:title_cap]
                    text_norm = normalize_text(text[:text_cap]) or ""
                    words = text_norm.split()
                    rid = f"{url}@{tss[i].isoformat() if tss[i] is not None else ''}"
                    rids.append(rid)
                    ids2[i] = stable_id(rid)
                    url_norms.append(normalize_url(url))
                    hosts.append(url_host(url))
                    title_norms.append(normalize_text(title) or "")
                    text_norm_hashes[i] = hash64(text_norm) & 0x7FFFFFFFFFFFFFFF
                    text_prefixes.append(text_norm[:prefix_cap])
                    n_tokens[i] = len(words)
                    yield words

            # band keys, fingerprint and overlap sketch all derive from
            # one hashing of each document's shingles
            signatures = signature_batch(
                words_per_doc(), shingle_k, num_perm,
                bands=minhash_bands, sketch_k=sketch_k,
            )
            yield pd.DataFrame(
                {
                    "rid": rids,
                    "id": ids2,
                    "url": urls,
                    "warc_ts": tss,
                    "lang": langs,
                    "url_norm": url_norms,
                    "host": hosts,
                    "title_norm": title_norms,
                    "text_norm_hash": text_norm_hashes,
                    "text_prefix": text_prefixes,
                    "n_tokens": n_tokens,
                    **signatures,
                }
            )

    return pages.mapInPandas(gen, schema=FEATURES_SCHEMA)
