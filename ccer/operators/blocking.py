"""Multi-pass blocking: normalized-url / host / MinHash-LSH / SimHash keys,
materialized as salted, skew-aware block rows.

Blocking is the reference's equi-key prefilter generalized
(reference: query_db/repository.py:112-142 — the blocked fuzzy linkage
join runs the expensive similarity UDF only inside doi/work_id blocks).
Here the block keys are content-derived:

- pass 1 ``url``  — exact normalized-url key (catches re-crawls free)
- pass 2 ``host`` — normalized host (cheap same-site signal, weak)
- pass 3 ``minhash`` — LSH band keys over the stored MinHash signature
- pass 4 ``simhash`` — rotated 16-bit fingerprint prefixes

Block keys are 64-bit ``xxhash64`` values, NOT strings: every downstream
shuffle (the size profile, the in-block pair generation, pair dedup) moves 8
bytes per key instead of a 30-70 byte string — at 10^12 block rows that
is the difference between a few TB and tens of TB of shuffle. A hash
collision merely merges two unrelated blocks (extra candidates that the
scorer rejects), never loses a pair.

Everything here is JVM-side column algebra over the features table — the
Python work (signatures) happened once in the features pass, so the
whole stage is whole-stage-codegen'd.

Skew (north rule "salted, skew-aware block partitions"): a block larger
than its cap would cost O(n²) in pair generation — one mega-host block of
10^8 rows is 10^16 pairs. Oversized blocks are subdivided by a
CONTENT-DERIVED salt: the top ``ceil(log2(n/cap))`` SimHash bits. Exact
and near duplicates agree on those bits with high probability, so they
stay co-blocked, while the block's quadratic cost drops by 4^bits;
random salting would lose ALL cross-salt pairs. Weak passes (host) get a
tighter cap than strong passes (url, MinHash bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_PASSES = ("url", "host", "minhash", "simhash")
PASS_URL, PASS_HOST, PASS_MINHASH, PASS_SIMHASH = 1, 2, 3, 4


def block_keys(
    features: DataFrame,
    passes=DEFAULT_PASSES,
    minhash_bands: int = 32,
    simhash_bits: int = 16,
    simhash_rotations=(0, 21, 43),
    num_perm: int = 128,
) -> DataFrame:
    """features → (block_key long, pass_id int, id long, simhash long).

    ``num_perm`` must match the signature length produced by the features
    pass and be a multiple of ``minhash_bands`` — otherwise band slices
    would run past the signature end (empty-array band keys collapse
    every record into one degenerate mega-block per band).
    """
    if num_perm % minhash_bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be a multiple of "
            f"minhash_bands ({minhash_bands})"
        )
    rows_per_band = num_perm // minhash_bands

    # ONE scan of the features table for ALL passes: every pass's keys go
    # into one struct array that a single inline() explodes (a 4-branch
    # union read the features parquet four times — at 10^12 rows that is
    # three extra full-corpus scans for nothing). Conditional passes
    # (url/host on non-empty values) emit a NULL key that a codegen'd
    # post-explode filter drops — no interpreted HOF lambda anywhere.
    entries = []
    if "url" in passes:
        entries.append(
            F.struct(
                F.when(
                    F.col("url_norm") != "", F.xxhash64(F.lit("u"), F.col("url_norm"))
                ).alias("block_key"),
                F.lit(PASS_URL).alias("pass_id"),
            )
        )
    if "host" in passes:
        entries.append(
            F.struct(
                F.when(
                    F.col("host") != "", F.xxhash64(F.lit("h"), F.col("host"))
                ).alias("block_key"),
                F.lit(PASS_HOST).alias("pass_id"),
            )
        )
    if "minhash" in passes:
        # the features pass precomputes the default banding's keys in its
        # vectorized Arrow crossing (features.py FEATURE_BANDS), VALUE-
        # identical to the JVM expression below (spark_minhash_band_keys
        # is a verified bit-exact xxhash64 replica) — consuming them here
        # removes 32 slice+hash calls per record from this explode
        # (~115 executor-CPU-s per corpus pass at 242k pages). Any other
        # banding, or a features table written before the column existed,
        # falls back to the JVM path with the SAME key values, so mixed
        # provenance (resume, incremental batches) stays consistent.
        from ccer.operators.features import FEATURE_BANDS

        precomputed = (
            minhash_bands == FEATURE_BANDS
            and num_perm % FEATURE_BANDS == 0
            and "bands" in features.columns
        )
        for band in range(minhash_bands):
            if precomputed:
                key = F.coalesce(
                    F.col("bands").getItem(band),
                    F.xxhash64(
                        F.lit("m"),
                        F.lit(band),
                        F.slice("sig", band * rows_per_band + 1, rows_per_band),
                    ),
                )
            else:
                key = F.xxhash64(
                    F.lit("m"),
                    F.lit(band),
                    F.slice("sig", band * rows_per_band + 1, rows_per_band),
                )
            entries.append(
                F.struct(
                    key.alias("block_key"),
                    F.lit(PASS_MINHASH).alias("pass_id"),
                )
            )
    if "simhash" in passes:
        shift = 64 - simhash_bits
        for rot in simhash_rotations:
            if rot == 0:
                rotated = F.col("simhash")
            else:
                rotated = F.shiftleft("simhash", rot).bitwiseOR(
                    F.shiftrightunsigned("simhash", 64 - rot)
                )
            entries.append(
                F.struct(
                    F.xxhash64(
                        F.lit("s"), F.lit(rot), F.shiftrightunsigned(rotated, shift)
                    ).alias("block_key"),
                    F.lit(PASS_SIMHASH).alias("pass_id"),
                )
            )
    if not entries:
        raise ValueError(f"no blocking passes selected from {passes!r}")

    return (
        features.select(
            "id",
            "simhash",
            F.explode(F.array(*entries)).alias("_e"),
        )
        .select(
            F.col("_e.block_key").alias("block_key"),
            F.col("_e.pass_id").alias("pass_id"),
            "id",
            "simhash",
        )
        .filter(F.col("block_key").isNotNull())
    )


def block_size_profile(blocks: DataFrame) -> DataFrame:
    """(block_key, pass_id, count) over a set of RAW (unsalted) block rows.

    This is the one corpus-wide aggregation behind skew salting. In batch
    mode it runs once over everything; in the incremental path it runs
    over the BATCH only and is merged into the persisted prior profile
    with ``merge_profiles`` — per-batch shuffle work then scales with the
    batch, not the corpus (the profile itself is #distinct-keys rows of
    20 bytes, and a prior profile persisted hash-partitioned on block_key
    satisfies the merge's clustering requirement exchange-free)."""
    return blocks.groupBy("block_key", "pass_id").count()


def merge_profiles(prior: DataFrame, delta: DataFrame) -> DataFrame:
    """Combine two block-size profiles by summing counts per key."""
    return (
        prior.unionByName(delta)
        .groupBy("block_key", "pass_id")
        .agg(F.sum("count").alias("count"))
    )


def salt_oversized_blocks(
    blocks: DataFrame,
    block_cap: int = 500,
    weak_pass_caps: dict | None = None,
    salt_bits_max: int = 20,
    profile: DataFrame | None = None,
) -> DataFrame:
    """Subdivide blocks larger than their cap by a SimHash-prefix salt
    whose width adapts to the block size (see module docstring).

    ``salt_bits_max`` must be deep enough that the LARGEST block reaches
    its cap: a 20%-of-corpus mega-host needs ceil(log2(0.2n/cap)) bits —
    14 at 960k rows, ~34 at 10^12 (content bits are plentiful: the salt
    is a simhash prefix, 64 bits). A cap that binds leaves cells of
    n/2^bits rows whose QUADRATIC pair cost grows with corpus size —
    measured at 960k pages/cap 12: 4096 cells x ~47 rows = 4.4M
    candidate pairs from one host, 4x the 480k count (the salted cells,
    not the matches, were the growth).

    One aggregation (block-size profile — or none at all when a
    pre-computed ``profile`` is passed, the incremental path) + one
    broadcast join of the oversized-key list (the skew tail — tiny by
    construction) back onto the block rows; the block rows are shuffled
    exactly once. Salt depth is a pure function of the profile, so
    passing the same profile yields the same salted keys for old and new
    rows alike (cross-batch pairs stay co-blocked).
    """
    # host is a weak signal: a same-host pair that is a REAL near-dup is
    # almost always also band- or fingerprint-blocked, so a tight cap
    # costs ~no recall while cutting the quadratic same-host pair volume
    caps = {PASS_HOST: 16} if weak_pass_caps is None else weak_pass_caps
    if profile is None and not blocks.isStreaming:
        # no precomputed profile: the block rows feed BOTH the size
        # profile and the salt join-back, and in a composed (unstaged)
        # plan the whole upstream key explode would run once per branch
        # (measured at 242k pages: ~115 executor-CPU-s of duplicated
        # slice+hash work). A lazy localCheckpoint materializes the slim
        # rows on first use so the second branch reads blocks instead of
        # recomputing; callers that manage their own staging (the
        # checkpointed pipeline, the incremental path) pass ``profile``
        # and never hit this.
        # deserialized (default) storage: this checkpoint is re-read hot
        # by the profile branch, the salt join-back, AND the downstream
        # pair generation — a serialized level was measured 5x more CPU
        # on the re-reads (JavaSerializer per-row deser, 62->303 CPU-s)
        # for a modest GC saving; the slim CC-round checkpoints are where
        # serialized storage pays (see cluster.py).
        blocks = blocks.localCheckpoint(eager=False)
    cap_col = F.lit(block_cap)
    for pass_id, cap in caps.items():
        cap_col = F.when(
            F.col("pass_id") == pass_id, F.lit(min(cap, block_cap))
        ).otherwise(cap_col)
    sizes = (profile if profile is not None else block_size_profile(blocks)).withColumn(
        "_cap", cap_col
    )
    oversized = sizes.filter(F.col("count") > F.col("_cap")).select(
        "block_key",
        F.least(
            F.lit(salt_bits_max),
            F.ceil(F.log2(F.col("count") / F.col("_cap"))).cast("int"),
        ).alias("_bits"),
    ).dropDuplicates(["block_key"])
    salt = F.lit(None).cast("long")
    for b in range(salt_bits_max, 0, -1):
        salt = F.when(F.col("_bits") == b, F.shiftrightunsigned("simhash", 64 - b)).otherwise(salt)
    salted = (
        blocks.join(F.broadcast(oversized), "block_key", "left")
        .withColumn(
            "block_key",
            F.when(
                F.col("_bits").isNotNull(),
                F.xxhash64("block_key", salt),
            ).otherwise(F.col("block_key")),
        )
        .drop("_bits")
    )
    return salted


HOST_HAMMING_PREFILTER = 16


def candidate_pairs(
    blocks: DataFrame,
    hamming_prefilter: int | None = 26,
    host_hamming_prefilter: int | None = HOST_HAMMING_PREFILTER,
) -> DataFrame:
    """In-block all-pairs → distinct candidate id pairs (id_a < id_b).

    Shape (r6 optimization — guide §2.3/§2.4 "shuffle fewer bytes / do
    fewer shuffles"): ONE groupBy(block_key) collects each block's
    members (sorted by id), the per-block rows are re-partitioned by
    their minimum member id, and the quadratic pair generation runs as
    two chained codegen generators (posexplode + slice-explode) over the
    member arrays — no self-join at all. The previous self-join consumed
    the ``blocks`` subtree twice (two exchanges of every block row; in
    an uncheckpointed composed plan the whole upstream explode was
    COMPUTED twice) and emitted one pair row per containing block: with
    32 MinHash bands plus 3 SimHash rotations a true near-dup clique
    crossed the pair-dedup exchange ~20-35x over (measured at 242k
    pages: 1.86 GB shuffled, 271 executor-CPU-s to generate-then-discard
    the duplicates). The min-id co-location makes the rediscoveries
    collapse in the dedup's map-side partial aggregate instead; the
    global ``dropDuplicates`` still guarantees exact distinctness
    (reference analog: DISTINCT over the OR-join, repository.py:113).
    The pair SET is bit-identical to the self-join formulation — only
    where duplicates get dropped moved.

    ``hamming_prefilter``: pairs whose 64-bit SimHash fingerprints differ
    in more than this many bits are discarded in the generator stage (JVM
    ``bit_count(xor)``, whole-stage codegen) — random same-host pairs sit
    at ~32 bits and die here for the cost of one XOR. Exact-URL pairs
    (pass 1) bypass the filter: a re-crawl may have completely new
    content yet is still the same page identity.

    ``host_hamming_prefilter``: STRICTER bound for host-pass pairs. Rows
    inside a salted mega-host cell already AGREE on the simhash-prefix
    salt bits (that is what co-celled them), so their expected xor weight
    over the remaining bits is halved and the global prefilter passes
    ~half of the junk — the salt selects for exactly the pairs the filter
    was meant to kill (measured at 960k pages: the host pass alone
    generated 14.5M of 58M raw candidates). A pair that only the host
    pass finds is a same-site near-identical page, which sits at single-
    digit hamming; 16 bits keeps those while killing the correlated junk.
    """
    # one shuffle of the slim block rows; singleton blocks (most of the
    # url pass) die here instead of riding a join
    per_block = (
        blocks.groupBy("block_key")
        .agg(
            F.min("pass_id").alias("pass_id"),
            F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("members"),
        )
        .filter(F.size("members") > 1)
    )
    # co-locate blocks by their minimum member id: blocks of the same
    # near-dup cluster (all the band/rotation blocks that keep
    # re-discovering the same pairs) overwhelmingly share their min
    # member, so the pair-dedup's MAP-SIDE partial aggregation collapses
    # the cross-band duplicates locally and the global pair exchange
    # carries ~the distinct pairs instead of every rediscovery (measured
    # at 242k pages: 1.86 GB -> 268 MB on that exchange, pair-generation
    # stage 271 -> 40 executor-CPU-s). Key spread is
    # one partition per distinct min-id — no hot key: a cluster's pair
    # volume is bounded by (#passes x cap^2) regardless of corpus size.
    rep = per_block.repartition(F.col("members").getItem(0).getField("id"))
    # all pairs within a block: members are sorted by unique id, so taking
    # element i against the tail slice yields each unordered pair exactly
    # once with id_a < id_b — two codegen generators, no join
    exploded = rep.select(
        "pass_id", "members", F.posexplode("members").alias("_i", "_a")
    )
    joined = exploded.select(
        "pass_id",
        F.col("_a.id").alias("id_a"),
        F.col("_a.simhash").alias("fp_a"),
        F.explode(
            F.slice("members", F.col("_i") + F.lit(2), F.size("members"))
        ).alias("_b"),
    ).select(
        "pass_id",
        "id_a",
        "fp_a",
        F.col("_b.id").alias("id_b"),
        F.col("_b.simhash").alias("fp_b"),
    ).filter(F.col("id_a") < F.col("id_b"))
    if hamming_prefilter is not None:
        dist = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        host_bound = (
            hamming_prefilter if host_hamming_prefilter is None
            else min(host_hamming_prefilter, hamming_prefilter)
        )
        keep = (
            F.when(F.col("pass_id") == PASS_URL, F.lit(True))
            .when(F.col("pass_id") == PASS_HOST, dist <= host_bound)
            .otherwise(dist <= hamming_prefilter)
        )
        joined = joined.filter(keep)
    return joined.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
