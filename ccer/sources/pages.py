"""Deterministic synthetic Common-Crawl-style page corpus (FIXTURES.md §1).

Generates the input table of BASELINE.json's ``input_hint`` shape —
``(url string, warc_ts timestamp, html binary, text string, lang string)``
— with planted duplicate clusters carrying hidden ``true_cluster_id``
labels, Zipf-skewed hosts (one mega-host owning ~20% of rows, to exercise
salting), URL near-dup variants, seeded token-level edits and unicode
confusables (exercising the ascii-fold normalization), and re-crawl rows
(same url, distinct warc_ts).

Generation is DISTRIBUTED and a pure function of ``(seed, row_id)``:
``spark.range(n)`` → ``mapInPandas`` with every random draw derived from a
per-row RandomState. The same (seed, n) always yields byte-identical rows
regardless of partitioning — the property every resume/stability test
leans on. At 10^12 rows the same code shape holds: no driver-side
materialization anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# cluster-size pattern: cycled to assign docs to clusters of size 1..10
# (FIXTURES.md: clusters of size 1-10, ~N/20 source documents)
_PATTERN = [3, 1, 2, 5, 1, 4, 2, 8, 1, 3]
_PATTERN_PREFIX = np.cumsum([0] + _PATTERN)  # len 11
_PATTERN_SUM = int(_PATTERN_PREFIX[-1])  # 30
_CLUSTERS_PER_BLOCK = len(_PATTERN)  # 10

_SYLLABLES = [
    "ba", "co", "di", "fu", "ga", "he", "ji", "ka", "lo", "mi",
    "na", "po", "qu", "ri", "sa", "te", "ul", "vo", "wa", "xe",
    "yo", "za", "br", "cl", "dr", "fl", "gr", "pl", "st", "tr",
]

_CONFUSABLES = {"a": "á", "e": "é", "o": "ö", "u": "ü", "n": "ñ", "c": "ç"}

_LANGS = ["en", "en", "en", "en", "en", "en", "en", "en", "de", "fr"]

_ZH_CHARS = "的一是不了人我在有他这为之大来以个中上们到说国和地也子时道出而要于就下得可你年生"

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "true_cluster_id long"
)


def _vocab_word(rng: np.random.RandomState) -> str:
    n = rng.randint(2, 5)
    return "".join(_SYLLABLES[rng.randint(0, len(_SYLLABLES))] for _ in range(n))


def _make_vocab(seed: int, size: int = 2000) -> list[str]:
    rng = np.random.RandomState(seed)
    return [_vocab_word(rng) for _ in range(size)]


def _cluster_of(i: int) -> tuple[int, int]:
    """(cluster_id, member_index) for global row index i — pure arithmetic."""
    block, r = divmod(i, _PATTERN_SUM)
    slot = int(np.searchsorted(_PATTERN_PREFIX, r, side="right")) - 1
    member = r - int(_PATTERN_PREFIX[slot])
    return block * _CLUSTERS_PER_BLOCK + slot, member


def _base_doc(cluster: int, seed: int, vocab: list[str]) -> list[str]:
    rng = np.random.RandomState((seed + cluster * 7919) % (2**32))
    n_words = rng.randint(120, 400)
    return [vocab[rng.randint(0, len(vocab))] for _ in range(n_words)]


def _mutate(words: list[str], rng: np.random.RandomState, vocab: list[str]) -> list[str]:
    """Seeded member-level edits: typos, word swaps, sentence drop/insert,
    unicode confusables — the near-duplicate construction of FIXTURES.md."""
    words = list(words)
    n = len(words)
    # ~2% word substitutions with a typo'd variant
    for _ in range(max(1, n // 50)):
        j = rng.randint(0, len(words))
        w = words[j]
        if len(w) > 3:
            k = rng.randint(0, len(w) - 1)
            words[j] = w[:k] + w[k + 1] + w[k] + w[k + 2:]
    # drop a "sentence" (a run of up to 12 words)
    if rng.rand() < 0.6 and len(words) > 40:
        start = rng.randint(0, len(words) - 15)
        del words[start : start + rng.randint(4, 13)]
    # insert a few fresh words
    if rng.rand() < 0.5:
        pos = rng.randint(0, len(words))
        words[pos:pos] = [vocab[rng.randint(0, len(vocab))] for _ in range(rng.randint(1, 5))]
    # unicode confusables on ~1% of words (exercises ascii_fold)
    for _ in range(max(1, n // 100)):
        j = rng.randint(0, len(words))
        words[j] = "".join(_CONFUSABLES.get(ch, ch) if rng.rand() < 0.5 else ch for ch in words[j])
    return words


def _html_wrap(title: str, text: str) -> bytes:
    body = text.replace("\n", "</p><p>")
    return (
        f"<html><head><title>{title}</title><style>p{{margin:0}}</style>"
        f"</head><body><h1>{title}</h1><p>{body}</p>"
        f"<div class=\"footer\">generated corpus</div></body></html>"
    ).encode("utf-8")


def _gen_row(i: int, seed: int, n_hosts: int, vocab: list[str]) -> tuple:
    cluster, member = _cluster_of(i)
    rng = np.random.RandomState((seed + cluster * 7919 + member * 104729 + 1) % (2**32))
    lang = _LANGS[rng.randint(0, len(_LANGS))]

    if lang == "en" or cluster % 37 != 0:
        base = _base_doc(cluster, seed, vocab)
        words = _mutate(base, rng, vocab) if member > 0 else base
        # title: first 5 words of the BASE doc — shared across the cluster
        title = " ".join(base[:5])
        text_lines = []
        line = []
        for w in words:
            line.append(w)
            if len(line) >= 12:
                text_lines.append(" ".join(line))
                line = []
        if line:
            text_lines.append(" ".join(line))
        text = "\n".join(text_lines)
    else:
        # CJK singleton rows (exercise the non-latin gate); cluster sizes
        # still apply but members share the same char stream
        crng = np.random.RandomState((seed + cluster * 7919) % (2**32))
        chars = "".join(_ZH_CHARS[crng.randint(0, len(_ZH_CHARS))] for _ in range(300))
        title = chars[:8]
        text = chars
        lang = "zh"

    # host: Zipf-skewed; host 0 is the mega-host with ~20% of clusters
    hrng = np.random.RandomState((seed + cluster * 31337 + 7) % (2**32))
    if hrng.rand() < 0.20:
        host_idx = 0
    else:
        host_idx = 1 + min(int(hrng.zipf(1.5)) - 1, n_hosts - 2)
    # mirrors: ~25% of multi-member clusters spread members across hosts
    if member > 0 and hrng.rand() < 0.25:
        host_idx = 1 + (host_idx + member * 13) % (n_hosts - 1)
    host = "mega-portal.example.com" if host_idx == 0 else f"site-{host_idx:05d}.example.org"

    path = f"articles/c{cluster}/m{member}"
    url = f"https://{host}/{path}"
    # URL near-dup variants + re-crawls (same normalized url, later ts)
    variant = rng.randint(0, 10)
    if variant == 0:
        url += "/"
    elif variant == 1:
        url += "?utm_source=feed&utm_campaign=x"
    elif variant == 2:
        url += "/index.html"
    elif variant == 3:
        url = f"https://www.{host}/{path}"

    base_epoch = 1_650_000_000
    ts = base_epoch + (i * 137) % 31_536_000 + rng.randint(0, 3600)
    html = _html_wrap(title, text)
    return (url, ts, html, text, lang, cluster)


def synthesize_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    with_labels: bool = True,
    n_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic page corpus of ``n_docs`` rows.

    Returns (url, warc_ts, html, text, lang[, true_cluster_id]).
    """
    n_hosts = max(8, n_docs // 50)

    def gen(iterator):
        vocab = _make_vocab(seed)  # built once per task, deterministic
        for pdf in iterator:
            rows = [_gen_row(int(i), seed, n_hosts, vocab) for i in pdf["id"]]
            out = pd.DataFrame(
                rows,
                columns=["url", "warc_ts", "html", "text", "lang", "true_cluster_id"],
            )
            out["warc_ts"] = pd.to_datetime(out["warc_ts"], unit="s")
            yield out

    if n_partitions is None:
        n_partitions = max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_docs, numPartitions=n_partitions)
    df = base.mapInPandas(gen, schema=PAGES_SCHEMA)
    if not with_labels:
        df = df.drop("true_cluster_id")
    return df
