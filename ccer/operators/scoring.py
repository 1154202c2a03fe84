"""Vectorized pairwise scoring: candidate pairs → scored match edges.

The scorer is the reference's similarity predicate lifted out of the join
condition (reference: query_db/repository.py:131-137 runs
are_names_similar_udf per row INSIDE the DuckDB join; here the equi-join
on block keys runs free of Python and the Arrow-batched scorer runs as a
post-filter — Catalyst stays free to pick hash/SMJ, the UDF sees only
surviving candidates).

Score components per pair:

- ``s_set``  — set cosine |A∩B|/√(|A||B|) over the word-shingle sets,
  computed from their bottom-k (KMV) sketches (k smallest hashes, built
  once in the features stage): exact when both sets fit the sketch, an
  unbiased KMV estimate otherwise — O(k) bytes per record in the pair
  join no matter how long the document is;
- ``s_lev``  — Levenshtein ratio of the normalized-text prefixes, computed
  LAZILY only for pairs in the ambiguous band (the DP is the expensive
  kernel; decided pairs skip it);
- ``s_jw_title`` — Jaro-Winkler of normalized titles (the "last name"
  gate analog of name_matching.py:64-82);
- ``same_url`` — normalized-url equality (re-crawl identity).

Decision rule (gate-then-override, the reference's shape), with
``s_set`` = 1.0 on ``same_url``:
    match ⇔ same_url
          ∨ s_set ≥ cos_hi                        (strong-similarity override)
          ∨ in the ambiguous band lev_band[0] ≤ s_set < cos_hi:
              (s_set ≥ cos_lo ∧ s_jw_title ≥ jw_gate)   (gated accept)
              ∨ (s_set < lev_band[1] ∧ s_lev ≥ lev_hi)  (near-identical prefix)
``s_jw_title`` is computed only when s_set ≥ cos_lo, and ``s_lev`` only
when the gate did not accept; a score not computed is 0.0.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ccer.functions.textsim import jaro_winkler_similarity, levenshtein_ratio
from ccer.operators.blocking import join_endpoints

EDGES_SCHEMA = (
    "id_a long, id_b long, s_set double, s_lev double, s_jw_title double, "
    "same_url boolean, is_match boolean"
)


class ScoringConfig:
    """Thresholds for the pairwise decision rule (constants.py:21-22 analog)."""

    def __init__(
        self,
        cos_hi: float = 0.80,
        cos_lo: float = 0.55,
        jw_gate: float = 0.85,
        lev_hi: float = 0.90,
        lev_band: tuple[float, float] = (0.30, 0.90),
        lev_prefix: int = 128,
        sketch_k: int = 64,
        backend: str = "hybrid",
    ):
        self.cos_hi = cos_hi
        self.cos_lo = cos_lo
        self.jw_gate = jw_gate
        self.lev_hi = lev_hi
        self.lev_band = lev_band
        self.lev_prefix = lev_prefix
        self.sketch_k = sketch_k
        # "hybrid": a string-free Arrow crossing computes the cosine that
        #           decides every pair; only the ambiguous band crosses to
        #           the Python string kernels.
        # "sql":    zero Python crossings (the --no-udf mode) — native
        #           levenshtein approximates the kernel tier.
        _check_backend(backend)
        self.backend = backend


def _check_backend(backend: str) -> None:
    if backend not in ("hybrid", "sql"):
        raise ValueError(
            f"unknown scorer backend {backend!r}; expected 'hybrid' or 'sql'"
        )


def _list_values_offsets(arr):
    """An Arrow ``ListArray`` of int32 → (backing values as int32, int64
    offsets into them), the inputs of ``_mat_from_flat``. ``arr.values``
    ignores the array's slice window while ``arr.offsets`` is already
    windowed and absolute, so the pair addresses the right values for a
    sliced array with no re-basing. A null entry may still own a
    non-empty offset span (a non-canonical producer), which no gather can
    tell apart from a real sketch — so any null raises."""
    if arr.null_count:
        raise ValueError(
            f"sketch list column has {arr.null_count} null entries; "
            "every scored row must carry a sketch"
        )
    values = arr.values.to_numpy(zero_copy_only=False)
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    return np.ascontiguousarray(values, dtype=np.int32), offs


def _mat_from_flat(flat_i32, offs, rows, pad_base, k):
    """Padded (len(rows), k) int64 sketch matrix gathered straight from
    an Arrow ListArray's flat values + offsets, zero per-row Python:
    row r holds its sketch values lifted to unsigned, then the pads
    ``pad_base + c`` for the unused positions c. Sketches are ≤ k
    elements by construction (features emits ``h32[:sketch_k]``)."""
    col = np.arange(k, dtype=np.int64)
    lens = (offs[1:] - offs[:-1])[rows]
    m = len(rows)
    out = np.broadcast_to(pad_base + col, (m, k)).copy()
    mask = col[None, :] < lens[:, None]
    total = int(lens.sum())
    if total:
        cum = np.cumsum(lens) - lens
        pos = (
            np.arange(total, dtype=np.int64)
            - np.repeat(cum, lens)
            + np.repeat(offs[rows], lens)
        )
        out[mask] = flat_i32[pos].view(np.uint32).astype(np.int64)
    return out, lens


def _cosine_from_mats(A, ska, B, skb, na, nb, k):
    """Binary cosine of shingle sets from their bottom-k (KMV) sketches,
    for a whole batch of padded sketch matrices (``_mat_from_flat``).

    Sketches are sorted-unique uint32 (top half of the 64-bit shingle
    hashes). When both sets fit in the sketch the count is exact;
    otherwise the KMV estimator runs on the bottom-k of the union: the
    fraction of union-bottom-k hashes present in both sets estimates
    Jaccard, and |A∩B| = J/(1+J)·(|A|+|B|) converts to cosine with the
    true set sizes.

    Because each side is a set (no repeats), |A∩B| equals the number of
    adjacent duplicates in the row-wise sorted concatenation of the two
    sketches — O(k log k) per pair instead of the O(k²) equality matrix.
    The two sides' pads are per-position-distinct sentinels above 2³²
    (different ``pad_base`` per side), so padding never forms a duplicate.
    """
    conc = np.concatenate([A, B], axis=1)        # (m, 2k)
    conc.sort(axis=1)                            # pads sort last, all distinct
    dup = conc[:, 1:] == conc[:, :-1]            # adjacent duplicate ⇔ A∩B member
    inter = dup.sum(axis=1).astype(np.int64)

    denom = np.sqrt(na.astype(np.float64) * nb.astype(np.float64))
    denom[denom == 0.0] = np.inf                 # empty set ⇒ cosine 0
    exact = (na <= k) & (nb <= k)
    cos = np.where(exact, inter / denom, 0.0)

    kmv = ~exact & (na > 0) & (nb > 0)
    if kmv.any():
        isnew = np.ones(conc.shape, dtype=bool)
        isnew[:, 1:] = ~dup
        ranks = np.cumsum(isnew, axis=1)         # unique rank per position
        m_u = np.minimum(k, ska + skb - inter)   # bottom-k of the union
        m_u = np.maximum(m_u, 1)
        # a duplicate at position i+1 belongs to unique rank ranks[i+1];
        # it is inside the union's bottom-m_u iff that rank ≤ m_u
        hits = (dup & (ranks[:, 1:] <= m_u[:, None])).sum(axis=1)
        j_est = hits / m_u
        inter_est = j_est / (1.0 + j_est) * (na + nb)
        cos = np.where(kmv, np.minimum(1.0, inter_est / denom), cos)
    return cos


_U32 = 4294967295  # lift int32-viewed-uint32 sketch values back to unsigned


def _with_jvm_set_cosine(df: DataFrame, k: int) -> DataFrame:
    """Add ``s_set`` — the KMV set-cosine — as JVM column algebra over the
    slim pair row, double-for-double identical to ``_cosine_from_mats``
    (asserted by test_scoring_backend_parity in tests/test_pipeline.py,
    which compares round(s_set, 12) of both backends with a scalar
    per-pair reference):

    - exact branch (both true set sizes fit the sketch): |A∩B|/√(|A||B|)
      with the intersection from ``array_intersect`` (sketch == set);
    - KMV branch: Jaccard estimated as the fraction of the union's
      bottom-m hashes present in both sketches, converted to cosine with
      the true set sizes — the m-th union value via sorted array_union,
      membership via array_intersect, all inside the JVM.

    The sketches are stored as int32 views of uint32 (ascending in
    UNSIGNED order), so rank logic lifts to long with ``& 0xFFFFFFFF``;
    pure membership ops (intersect) run on the raw int32. Intermediates
    are materialized as columns so each array op runs once per pair, and
    the union/element_at only evaluates on non-empty-sketch rows (ANSI
    index safety).
    """
    lift = lambda arr: F.transform(arr, lambda x: x.cast("long").bitwiseAND(F.lit(_U32)))
    nonempty = (F.col("n_sh_a") > 0) & (F.col("n_sh_b") > 0)
    df = (
        df.withColumn("_ia", F.array_intersect("sh_a", "sh_b"))
        .withColumn("_inter", F.size("_ia"))
        .withColumn(
            "_m_u",
            F.greatest(
                F.least(F.lit(k), F.size("sh_a") + F.size("sh_b") - F.col("_inter")),
                F.lit(1),
            ),
        )
        .withColumn(
            "_kth",
            F.when(
                nonempty,
                F.element_at(
                    F.array_sort(lift(F.array_union("sh_a", "sh_b"))), F.col("_m_u")
                ),
            ),
        )
        .withColumn(
            "_hits",
            F.when(
                nonempty,
                F.size(F.filter(lift(F.col("_ia")), lambda x: x <= F.col("_kth"))),
            ).otherwise(F.lit(0)),
        )
    )
    na = F.col("n_sh_a").cast("double")
    nb = F.col("n_sh_b").cast("double")
    denom = F.sqrt(na * nb)
    exact = (F.col("n_sh_a") <= F.lit(k)) & (F.col("n_sh_b") <= F.lit(k))
    exact_cos = F.when(denom > 0, F.col("_inter").cast("double") / denom).otherwise(
        F.lit(0.0)
    )
    j = F.col("_hits").cast("double") / F.col("_m_u").cast("double")
    inter_est = j / (F.lit(1.0) + j) * (na + nb)
    kmv_cos = F.least(F.lit(1.0), inter_est / denom)
    s_set = (
        F.when(exact, exact_cos).when(nonempty, kmv_cos).otherwise(F.lit(0.0))
    )
    return df.withColumn("s_set", s_set).drop("_ia", "_inter", "_m_u", "_kth", "_hits")


def score_pairs(
    pairs: DataFrame, features: DataFrame, config: ScoringConfig | None = None
) -> DataFrame:
    """Candidate pairs → edges (EDGES_SCHEMA) with scores and the match
    decision. Both backends join the same slim pair rows — ids, sketches
    and a url-identity hash, no strings — and send only the ambiguous
    band (typically a few % of pairs) on to a join with the string
    payload. Measured at 960k pages, an all-pairs scorer's shuffle of
    wide rows carried 6.0 GB, ~45% of it strings for pairs that mostly
    never needed them. Backend (``config.backend``):

    - ``hybrid`` (default): the KMV cosine runs in numpy over the
      string-free Arrow crossing, the tier-0/1 decisions are JVM filters
      on its output, and the ambiguous band runs the Python string
      kernels. (A pure-JVM cosine via array_intersect/array_union
      higher-order functions was tried and REJECTED: HOF
      lambdas are interpreted per element with boxing — 13x slower than
      the Arrow crossing.)
    - ``sql``: zero Python crossings — the HOF-based JVM cosine plus
      native ``levenshtein`` ratios (title + prefix) instead of the
      Python kernels. The --no-udf COMPATIBILITY mode for clusters
      without Python workers; correct, not fast.
    """
    cfg = config or ScoringConfig()
    # checked here too: ``backend`` is a plain attribute, and a value
    # assigned after construction must not fall through to hybrid
    _check_backend(cfg.backend)
    slim = join_endpoints(
        pairs,
        features.select("id", "sh", "n_sh", _url_key("url_norm").alias("uh")),
        ["sh", "n_sh", "uh"],
    )
    # three-valued logic trap: with only `uh_a.isNotNull() & (uh_a == uh_b)`
    # a pair where uh_a is set but uh_b is NULL (malformed url on one side)
    # yields NULL, which crashes the Arrow tier (`~NULL`) and silently
    # drops the pair from the sql backend's filters. Both hashes must be
    # present for url identity to hold.
    slim = slim.withColumn(
        "same_url",
        F.col("uh_a").isNotNull()
        & F.col("uh_b").isNotNull()
        & (F.col("uh_a") == F.col("uh_b")),
    )
    if cfg.backend == "sql":
        slim = _with_jvm_set_cosine(slim, cfg.sketch_k)
        base = slim.select(
            "id_a",
            "id_b",
            F.when(F.col("same_url"), F.lit(1.0))
            .otherwise(F.col("s_set"))
            .alias("s_set"),
            "same_url",
        )
    else:
        base = _numpy_cosine_pass(slim, cfg.sketch_k)
    # the decided/ambiguous split consumes ``base`` twice. A plain
    # exchange does NOT protect the scoring pass from running once per
    # branch: the branch filters push below a repartition (so the two
    # exchange subtrees stop being identical and stage reuse never
    # fires — measured as two stages each reading the 4.2 GB join
    # shuffle). An eager localCheckpoint materializes the slim scored
    # rows (~25 B/pair) once and both branches read the blocks; the
    # ContextCleaner reclaims them when the DataFrame is collected.
    base = base.localCheckpoint(eager=True)
    lo_band = cfg.lev_band[0]
    match0 = F.col("same_url") | (F.col("s_set") >= F.lit(cfg.cos_hi))
    amb_cond = (
        (~match0) & (F.col("s_set") >= F.lit(lo_band)) & (F.col("s_set") < F.lit(cfg.cos_hi))
    )
    decided = base.filter(~amb_cond).select(
        "id_a",
        "id_b",
        "s_set",
        F.lit(0.0).alias("s_lev"),
        F.lit(0.0).alias("s_jw_title"),
        "same_url",
        match0.alias("is_match"),
    )
    amb_wide = join_endpoints(
        base.filter(amb_cond), features, ["title_norm", "text_prefix"]
    )
    if cfg.backend == "sql":
        amb_scored = _tier2_sql(amb_wide, cfg)
    else:
        amb_scored = _tier2_python(amb_wide, cfg)
    return decided.unionByName(amb_scored)


def _numpy_cosine_pass(slim: DataFrame, sketch_k: int) -> DataFrame:
    """String-free Arrow crossing: (ids, sketches, same_url) → s_set via
    the vectorized sort-merge KMV estimator ``_cosine_from_mats`` (pinned
    to 12 dp against a scalar per-pair reference and the sql backend's
    JVM cosine by test_scoring_backend_parity).

    mapInArrow, not mapInPandas (r6, guide §4.2): the sketch lists are
    unpacked straight from the Arrow ListArray's flat values + offsets
    (one vectorized gather builds the padded estimator matrices —
    ``_mat_from_flat``), so the crossing never boxes a per-row ndarray
    on either side and the output is a RecordBatch built from numpy
    arrays. The crossing's cost floor is the sketch payload itself
    (2×64 ints/pair ≈ 3.8 GB at 7.4M pairs), so the win is modest —
    measured medians 6.0 s vs 6.4 s on the isolated crossing at sf0.1 —
    but strictly allocation-free on the Python side."""
    import pyarrow as pa

    def cos_batch(iterator):
        for rb in iterator:
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}

            def np_col(name):
                return cols[name].to_numpy(zero_copy_only=False)

            n = rb.num_rows
            same_url = np_col("same_url").astype(bool, copy=False)
            s_set = np.zeros(n)
            rest = np.flatnonzero(~same_url)
            if rest.size:
                fa, oa = _list_values_offsets(cols["sh_a"])
                fb, ob = _list_values_offsets(cols["sh_b"])
                A, ska = _mat_from_flat(fa, oa, rest, np.int64(1) << 33, sketch_k)
                B, skb = _mat_from_flat(fb, ob, rest, np.int64(1) << 34, sketch_k)
                s_set[rest] = _cosine_from_mats(
                    A, ska, B, skb,
                    np_col("n_sh_a")[rest],
                    np_col("n_sh_b")[rest],
                    sketch_k,
                )
            s_set[same_url] = 1.0
            yield pa.RecordBatch.from_arrays(
                [
                    cols["id_a"],
                    cols["id_b"],
                    pa.array(s_set, type=pa.float64()),
                    pa.array(same_url, type=pa.bool_()),
                ],
                names=["id_a", "id_b", "s_set", "same_url"],
            )

    return slim.select("id_a", "id_b", "sh_a", "sh_b", "n_sh_a", "n_sh_b", "same_url").mapInArrow(
        cos_batch, schema="id_a long, id_b long, s_set double, same_url boolean"
    )


def _url_key(col: str):
    """Null unless the normalized url is present; url identity compares
    8-byte hashes instead of shipping the string (collision 2^-64/pair —
    immaterial next to the similarity estimators' own variance)."""
    c = F.col(col)
    return F.when(c.isNotNull() & (c != ""), F.xxhash64(c))


def _tier2_sql(amb_wide: DataFrame, cfg: ScoringConfig) -> DataFrame:
    """Ambiguous band decided with native levenshtein ratios (no Python):
    gate-then-override like the kernel tier, with the title levenshtein
    ratio standing in for Jaro-Winkler."""
    hi_band = cfg.lev_band[1]

    def lev_ratio(a, b):
        a = F.coalesce(a, F.lit(""))
        b = F.coalesce(b, F.lit(""))
        return F.lit(1.0) - F.levenshtein(a, b).cast("double") / F.greatest(
            F.length(a), F.length(b), F.lit(1)
        ).cast("double")

    tl = lev_ratio(F.col("title_norm_a"), F.col("title_norm_b"))
    pr = lev_ratio(
        F.substring(F.col("text_prefix_a"), 1, cfg.lev_prefix),
        F.substring(F.col("text_prefix_b"), 1, cfg.lev_prefix),
    )
    title_ok = (F.col("s_set") >= F.lit(cfg.cos_lo)) & (tl >= F.lit(cfg.jw_gate))
    lev_ok = (F.col("s_set") < F.lit(hi_band)) & (pr >= F.lit(cfg.lev_hi))
    return amb_wide.select(
        "id_a",
        "id_b",
        "s_set",
        pr.alias("s_lev"),
        tl.alias("s_jw_title"),
        "same_url",
        (title_ok | lev_ok).alias("is_match"),
    )


def _tier2_python(amb_wide: DataFrame, cfg: ScoringConfig) -> DataFrame:
    """Ambiguous band through the Python string kernels (Jaro-Winkler
    gate, lazy Levenshtein) — the decision rule's ambiguous band, applied
    to the few % of pairs that need it."""
    hi_band = cfg.lev_band[1]
    cos_lo, jw_gate, lev_hi, prefix = cfg.cos_lo, cfg.jw_gate, cfg.lev_hi, cfg.lev_prefix

    def tier2(iterator):
        for pdf in iterator:
            n = len(pdf)
            s_set = pdf["s_set"].to_numpy()
            s_lev = np.zeros(n)
            s_jw = np.zeros(n)
            match = np.zeros(n, dtype=bool)
            ta = pdf["title_norm_a"].tolist()
            tb = pdf["title_norm_b"].tolist()
            xa = pdf["text_prefix_a"].tolist()
            xb = pdf["text_prefix_b"].tolist()
            for j in range(n):
                cs_i = s_set[j]
                if cs_i >= cos_lo:
                    jw = jaro_winkler_similarity(ta[j] or "", tb[j] or "")
                    s_jw[j] = jw
                    if jw >= jw_gate:
                        match[j] = True
                        continue
                if cs_i < hi_band:
                    lr = levenshtein_ratio((xa[j] or "")[:prefix], (xb[j] or "")[:prefix])
                    s_lev[j] = lr
                    if lr >= lev_hi:
                        match[j] = True
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(),
                    "id_b": pdf["id_b"].to_numpy(),
                    "s_set": s_set,
                    "s_lev": s_lev,
                    "s_jw_title": s_jw,
                    "same_url": pdf["same_url"].to_numpy(),
                    "is_match": match,
                }
            )

    return amb_wide.mapInPandas(tier2, schema=EDGES_SCHEMA)


def match_edges(scored: DataFrame) -> DataFrame:
    """Keep only matching pairs — the edge list the clustering consumes."""
    return scored.filter(F.col("is_match")).select("id_a", "id_b")
