"""Per-record feature extraction — ONE Arrow pass over the page table.

Everything the downstream stages need (normalized url/host, capped
normalized text, title, MinHash signature, SimHash fingerprint, stable
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
- the MinHash signature and the KMV overlap sketch store 32-bit values
  (the order-preserving top half of each 64-bit hash): position-equality
  and bottom-k semantics are preserved with collision probability 2^-32
  per comparison — immaterial next to the estimators' own variance —
  at half the bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ccer.functions.hashing import hash64, shingle_signature, spark_minhash_band_keys
from ccer.functions.normalize import html_to_text, normalize_text, normalize_url, url_host

FEATURES_SCHEMA = (
    "rid string, id long, url string, warc_ts timestamp, lang string, "
    "url_norm string, host string, title_norm string, text_norm_hash long, "
    "text_prefix string, n_tokens int, n_sh int, sig array<int>, "
    "simhash long, sh array<int>, bands array<long>"
)

# the precomputed LSH band-key layout carried in ``bands`` (see
# spark_minhash_band_keys): block_keys consumes it only when asked for
# exactly this banding, else it falls back to the value-identical JVM
# slice+hash path
FEATURE_BANDS = 32


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
) -> DataFrame:
    """(url, warc_ts, html?, text?, lang) → features table.

    ``text`` is taken from the text column when present, else extracted
    deterministically from ``html`` via the canonical kernel.
    """
    from pyspark.sql import functions as F

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
        # per-task word-hash memo for the shingle hasher: web text is
        # Zipfian, so most word hashes are cache hits. Bounded to keep
        # worker RSS flat on adversarial vocabularies.
        word_cache: dict = {}
        for pdf in iterator:
            if len(word_cache) > 2_000_000:
                word_cache.clear()
            n = len(pdf)
            urls = pdf["url"].tolist()
            tss = pdf["warc_ts"].tolist()
            langs = pdf["lang"].tolist() if "lang" in pdf else [None] * n
            texts = pdf["text"].tolist() if has_text else [None] * n
            htmls = pdf["html"].tolist() if has_html else [None] * n
            # column-wise output buffers; signature/sketch columns stay
            # numpy (Arrow consumes ndarray cells directly — boxing the
            # 384 ints per row into Python lists would dominate the pass)
            rids, ids2 = [], np.empty(n, dtype=np.int64)
            url_norms, hosts, title_norms = [], [], []
            text_prefixes = []
            text_norm_hashes = np.empty(n, dtype=np.int64)
            n_tokens = np.empty(n, dtype=np.int32)
            n_shs = np.empty(n, dtype=np.int32)
            sigs, shs = [], []
            fps = np.empty(n, dtype=np.int64)
            for i in range(n):
                url = urls[i] or ""
                text = texts[i]
                if text is None and htmls[i] is not None:
                    text = html_to_text(htmls[i])
                text = text or ""
                title = text.split("\n", 1)[0][:title_cap]
                text_norm = normalize_text(text[:text_cap]) or ""
                title_norm = normalize_text(title) or ""
                words = text_norm.split()
                # hash shingles ONCE; signature, fingerprint, and the
                # pairwise-overlap sketch all derive from the same hashes.
                # Per-doc signature grids beat a batch-level segmented
                # reduce: np.minimum.reduceat over the concatenated hashes
                # was measured 4x SLOWER than the per-doc (num_perm × n)
                # grids — reduceat's segmented inner loop runs ~10x below
                # contiguous ufunc throughput.
                sh, sig, fp = shingle_signature(words, shingle_k, num_perm, word_cache)
                rid = f"{url}@{tss[i].isoformat() if tss[i] is not None else ''}"
                rids.append(rid)
                ids2[i] = stable_id(rid)
                url_norms.append(normalize_url(url))
                hosts.append(url_host(url))
                title_norms.append(title_norm)
                text_norm_hashes[i] = hash64(text_norm) & 0x7FFFFFFFFFFFFFFF
                text_prefixes.append(text_norm[:prefix_cap])
                n_tokens[i] = len(words)
                # 32-bit hash space for signature + sketch: the top half
                # of each 64-bit hash (order-preserving truncation)
                sig32 = (sig >> np.uint64(32)).astype(np.uint32).view(np.int32)
                sigs.append(sig32)
                # bottom-k (KMV) sketch over the 32-bit hashes — unique
                # ascending, so the scorer's set ops can assume_unique
                h32 = np.unique((sh >> np.uint64(32)).astype(np.uint32))
                n_shs[i] = h32.size
                shs.append(h32[:sketch_k].view(np.int32))
                fps[i] = np.uint64(fp).astype(np.int64)
            # batch-vectorized LSH band keys (guide §4.2: hand the whole
            # batch to numpy): value-identical to the JVM slice+hash the
            # blocking stage would otherwise run per row per band
            if n and num_perm % FEATURE_BANDS == 0:
                band_mat = spark_minhash_band_keys(
                    np.stack(sigs), FEATURE_BANDS, num_perm // FEATURE_BANDS
                )
                bands_col = list(band_mat)
            else:
                bands_col = [None] * n
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
                    "n_sh": n_shs,
                    "sig": sigs,
                    "simhash": fps,
                    "sh": shs,
                    "bands": bands_col,
                }
            )

    return pages.mapInPandas(gen, schema=FEATURES_SCHEMA)
