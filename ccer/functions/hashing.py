"""Deterministic hashing kernels: stable 64-bit hash, shingle hashes,
MinHash, SimHash, and a numpy replica of Spark's ``xxhash64`` band keys,
composed per batch by ``signature_batch`` — the one step both Arrow
passes (ER features, dedup signatures) run.

Python's builtin ``hash`` is salted per-process, so it can never be used
on executors. Every hash here is a pure function of its input,
reproducible across workers, runs, and resumes (the stable-cluster-id
requirement of the north rule): ``hash64`` is blake2b, shingle hashes
are a fixed mix over blake2b word hashes, and band keys are bit-exact
Spark ``xxhash64`` values.
"""

from __future__ import annotations

from hashlib import blake2b

import numpy as np

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def hash64(s: str, seed: int = 0) -> int:
    """Stable 64-bit hash of a string."""
    h = blake2b(s.encode("utf-8"), digest_size=8, salt=seed.to_bytes(8, "little"))
    return int.from_bytes(h.digest(), "little")


_MIX_C = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0x2545F4914F6CDD1D],
    dtype=np.uint64,
)
_MIX_R = np.array([0, 31, 17, 47, 23, 9], dtype=np.uint64)
_FMIX = np.uint64(0xFF51AFD7ED558CCD)
_S33 = np.uint64(33)


def _mix_consts(k: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-window-position mix constants for ANY shingle width k.

    Positions 0..5 keep the hand-picked table (hash values for the
    default k=3 are pinned by tests and materialized features); positions
    ≥6 are seed-extended deterministically from blake2b so no two window
    positions ever share a (multiplier, rotation) pair — cycling with
    ``j % 6`` made positions 6 apart identical, and the XOR combine being
    commutative, windows differing only by a swap of those words hashed
    identically (silent collision for configurable shingle_k > 6).
    """
    if k <= 6:
        return _MIX_C[:k], _MIX_R[:k]
    c = np.empty(k, dtype=np.uint64)
    r = np.empty(k, dtype=np.uint64)
    c[:6], r[:6] = _MIX_C, _MIX_R
    for j in range(6, k):
        d = blake2b(b"shingle-mix-%d" % j, digest_size=9).digest()
        c[j] = np.uint64(int.from_bytes(d[:8], "little") | 1)  # odd multiplier
        r[j] = np.uint64(d[8] % 63 + 1)                        # rotation 1..63
    return c, r


def shingle_hashes64(words: list, k: int, word_cache: dict | None = None) -> np.ndarray:
    """uint64 hash per k-word shingle, WITHOUT materializing shingle
    strings: each unique word is blake2b-hashed once (memoized in
    ``word_cache`` — pass a per-batch/per-worker dict; Zipfian text makes
    the hit rate very high), then the k word hashes of every window are
    mixed with a vectorized xxhash-style combiner (rotate + odd-constant
    multiply + avalanche) over the whole document at once.

    This replaces hash64(" ".join(window)) per shingle, which was 52% of
    the features-stage kernel (one Python-level blake2b call per shingle,
    ~207k calls for 800 pages) plus the shingle-string construction
    (another 18%). Different hash VALUES than the string path — still a
    pure deterministic function of the token sequence, which is the only
    property MinHash/SimHash/KMV need.
    """
    n = len(words)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    if word_cache is None:
        word_cache = {}
    # C-speed memo lookup: hash only the cache misses (rare on Zipfian
    # text), then map the whole token list through dict.__getitem__ in
    # one fromiter pass — the explicit per-word Python loop this replaces
    # was the kernel's single hottest block (0.66 s of dict.get alone per
    # 12k docs).
    for w in words:
        if w not in word_cache:
            word_cache[w] = hash64(w)
    wh = np.fromiter(map(word_cache.__getitem__, words), dtype=np.uint64, count=n)
    m = n - k + 1
    mix_c, mix_r = _mix_consts(k)
    with np.errstate(over="ignore"):
        h = np.zeros(m, dtype=np.uint64)
        for j in range(k):
            x = wh[j : j + m] * mix_c[j]
            r = mix_r[j]
            if r:
                x = (x << r) | (x >> (np.uint64(64) - r))
            h ^= x
        h ^= h >> _S33
        h *= _FMIX
        h ^= h >> _S33
    return h


def _minhash_perms(num_perm: int, seed: int = 1):
    """Affine permutation parameters (a odd, b) drawn deterministically."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 62, size=num_perm).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 1 << 62, size=num_perm).astype(np.uint64)
    return a, b


# module-level cache: perms for the default configuration are built once
# per executor process, not once per Arrow batch.
_PERM_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def minhash_from_hashes(base: np.ndarray, num_perm: int = 64, seed: int = 1) -> np.ndarray:
    """MinHash signature (uint64[num_perm]) from pre-hashed tokens.

    Affine family h_i(x) = a_i * x + b_i over Z_2^64 (odd multiplier ⇒
    bijective), minimized over the token base-hashes. Empty input yields
    the all-max signature (matches nothing).
    """
    key = (num_perm, seed)
    if key not in _PERM_CACHE:
        _PERM_CACHE[key] = _minhash_perms(num_perm, seed)
    a, b = _PERM_CACHE[key]
    if base.size == 0:
        return np.full(num_perm, _MASK64, dtype=np.uint64)
    with np.errstate(over="ignore"):
        # (num_perm, n_tokens) grid of permuted hashes, min over tokens
        grid = a[:, None] * base[None, :] + b[:, None]
    return grid.min(axis=1)


# ---------------------------------------------------------------------
# Bit-exact numpy replica of Spark SQL's xxhash64 over the band-key
# expression shape xxhash64(lit("m"), lit(band), slice(sig, .., rows)):
# seed 42 chained through the UTF8 bytes of "m", the int band index, and
# each int signature element (Spark hashes IntegerType fields with the
# XXH64 4-byte step, unsigned-widened). Verified element-for-element
# against F.xxhash64 in tests; letting the features Arrow pass emit the
# band keys moves ~9M slice+hash calls per corpus pass out of the JVM
# explode while keeping every key value identical (so JVM-derived and
# precomputed blocks stay mutually compatible, batch or incremental).
# ---------------------------------------------------------------------
_XXH_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = np.uint64(0x165667B19E3779F9)
_XXH_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH_P5 = np.uint64(0x27D4EB2F165667C5)
_XXH_SEED = np.uint64(42)


def _xxh_rotl(x, r: int):
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _xxh_fmix(h):
    h ^= h >> np.uint64(33)
    h *= _XXH_P2
    h ^= h >> np.uint64(29)
    h *= _XXH_P3
    h ^= h >> np.uint64(32)
    return h


def _xxh_hash_int(value, seed):
    """XXH64 of one 4-byte int (unsigned-widened) — Spark's IntegerType
    field step. ``value``/``seed`` may be uint64 scalars or arrays."""
    h = seed + _XXH_P5 + np.uint64(4)
    h = h ^ (value * _XXH_P1)
    h = _xxh_rotl(h, 23) * _XXH_P2 + _XXH_P3
    return _xxh_fmix(h)


def _xxh_hash_bytes(data: bytes, seed) -> np.uint64:
    """XXH64 of a short (< 32 B) byte string — Spark's StringType step."""
    h = np.uint64(seed) + _XXH_P5 + np.uint64(len(data))
    i = 0
    while i + 8 <= len(data):
        k = np.uint64(int.from_bytes(data[i : i + 8], "little"))
        h ^= _xxh_rotl(k * _XXH_P2, 31) * _XXH_P1
        h = _xxh_rotl(h, 27) * _XXH_P1 + _XXH_P4
        i += 8
    if i + 4 <= len(data):
        k = np.uint64(int.from_bytes(data[i : i + 4], "little"))
        h ^= k * _XXH_P1
        h = _xxh_rotl(h, 23) * _XXH_P2 + _XXH_P3
        i += 4
    while i < len(data):
        h ^= np.uint64(data[i]) * _XXH_P5
        h = _xxh_rotl(h, 11) * _XXH_P1
        i += 1
    return _xxh_fmix(h)


def band_rows(num_perm: int, bands: int) -> int:
    """Signature rows per LSH band; ``num_perm`` must split evenly into
    ``bands`` (a ragged last band would hash a short slice)."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be a multiple of minhash_bands ({bands})"
        )
    return num_perm // bands


def spark_minhash_band_keys(sig32: np.ndarray, bands: int, rows_per_band: int) -> np.ndarray:
    """(n, num_perm) int32 signature matrix → (n, bands) int64 band keys,
    value-identical to the JVM expression
    ``xxhash64(lit("m"), lit(band), slice(sig, band*rows+1, rows))``."""
    n = sig32.shape[0]
    with np.errstate(over="ignore"):
        u = sig32.view(np.uint32).astype(np.uint64)
        h_m = _xxh_hash_bytes(b"m", _XXH_SEED)
        out = np.empty((n, bands), dtype=np.uint64)
        for b in range(bands):
            hv = np.full(n, _xxh_hash_int(np.uint64(b), h_m), dtype=np.uint64)
            for j in range(rows_per_band):
                hv = _xxh_hash_int(u[:, b * rows_per_band + j], hv)
            out[:, b] = hv
    return out.view(np.int64)


def simhash_from_hashes(base: np.ndarray, weights=None) -> int:
    """64-bit SimHash from pre-hashed tokens (optionally weighted).

    Sum ±weight per bit over token hashes; sign of each bit-sum gives the
    fingerprint bit. Near-identical token sets differ in few bits.
    """
    if base.size == 0:
        return 0
    if weights is None:
        # unweighted fast path: bit i is set iff more than half the token
        # hashes have bit i set (2*count - n > 0). unpackbits over the
        # little-endian byte view yields the same bit order as
        # (base >> i) & 1 at ~10x the speed of the float bit-matrix.
        n = base.size
        bits = np.unpackbits(
            base.view(np.uint8).reshape(n, 8), axis=1, bitorder="little"
        )
        counts = bits.sum(axis=0, dtype=np.int64)
        set_bits = np.flatnonzero(counts * 2 > n).astype(np.uint64)
        return int(np.bitwise_or.reduce(np.uint64(1) << set_bits)) if set_bits.size else 0
    w = np.asarray(weights, dtype=np.float64)
    bits = ((base[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.float64
    )
    acc = ((bits * 2.0 - 1.0) * w[:, None]).sum(axis=0)
    out = np.uint64(0)
    for i in range(64):
        if acc[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(out)


# per-process word-hash memo for ``signature_batch`` (web text is
# Zipfian: most word hashes are hits), cleared past the bound to keep
# worker RSS flat on adversarial vocabularies
_WORD_CACHE: dict = {}


def signature_batch(
    word_lists, k: int, num_perm: int, *,
    sig: bool = False, bands: int | None = None, sketch_k: int | None = None,
) -> dict:
    """Documents' word lists → ``{column: values}`` holding ``simhash``
    (every caller's ``block_keys`` reads it) and only the other columns
    asked for; array columns hold one numpy array per document (Arrow
    takes ndarray cells directly; boxing ints into Python lists would
    dominate the pass). ``word_lists`` is iterated once, so a generator
    keeps one document's words alive at a time.

    A document's shingle hashes are ``shingle_hashes64`` over its k-word
    windows; fewer than ``k`` words hash as one shingle of the joined
    words, no words give none. From them: ``sig`` is the ``num_perm``
    MinHash signature truncated to 32 bits (top half of each 64-bit
    min-hash, order-preserving; all-max when empty); ``bands`` its
    ``bands`` LSH band keys (``spark_minhash_band_keys``); ``simhash`` is
    the int64 SimHash (0 when empty); ``sh``/``n_sh`` the bottom-
    ``sketch_k`` unique 32-bit hashes (ascending int32) and their
    unique count. The MinHash grid, the costliest step, runs only for
    ``sig`` or ``bands``. Grids stay per document: ``np.minimum.reduceat``
    over the concatenated hashes measured 4x slower.
    """
    rows_per_band = band_rows(num_perm, bands) if bands is not None else None
    want_minhash = sig or bands is not None
    if len(_WORD_CACHE) > 2_000_000:
        _WORD_CACHE.clear()
    sigs, fps, sketches, n_sh = [], [], [], []
    for words in word_lists:
        if len(words) >= k:
            sh = shingle_hashes64(words, k, _WORD_CACHE)
        elif words:
            sh = np.array([hash64(" ".join(words))], dtype=np.uint64)
        else:
            sh = np.empty(0, dtype=np.uint64)
        if want_minhash:
            sigs.append(minhash_from_hashes(sh, num_perm=num_perm))
        fps.append(simhash_from_hashes(sh))
        if sketch_k is not None:
            h32 = np.unique((sh >> np.uint64(32)).astype(np.uint32))
            n_sh.append(h32.size)
            sketches.append(h32[:sketch_k].view(np.int32))
    out: dict = {"simhash": np.array(fps, dtype=np.uint64).view(np.int64)}
    if want_minhash:
        sig64 = np.array(sigs, dtype=np.uint64).reshape(-1, num_perm)
        sig32 = (sig64 >> np.uint64(32)).astype(np.uint32).view(np.int32)
        if sig:
            out["sig"] = list(sig32)
        if bands is not None:
            out["bands"] = list(spark_minhash_band_keys(sig32, bands, rows_per_band))
    if sketch_k is not None:
        out["sh"] = sketches
        out["n_sh"] = np.array(n_sh, dtype=np.int32)
    return out
