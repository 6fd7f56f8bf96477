"""Similarity sketches: shingling, MinHash, SimHash — numpy kernels.

Used by operators/dedup.py inside Arrow-batched pandas UDFs. All
hashing is deterministic (fixed seeds) so signatures are stable across
runs and partitions — a correctness requirement for LSH bucketing
(same document must land in the same buckets on every executor).
"""

from __future__ import annotations

import numpy as np

_MERSENNE = np.uint64((1 << 61) - 1)
_SEED = 0x5EED_C0FFEE


def _rand_params(k: int, seed: int = _SEED):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, (1 << 61) - 1, size=k, dtype=np.uint64)
    b = rng.integers(0, (1 << 61) - 1, size=k, dtype=np.uint64)
    return a, b


def char_shingles(text: str, n: int = 5) -> np.ndarray:
    """Distinct char n-gram hashes (uint64) via polynomial rolling hash."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if len(b) < n:
        b = np.pad(b, (0, n - len(b)), constant_values=0)
    base = np.uint64(1000003)
    # rolling polynomial over windows of n bytes (vectorized via strides)
    windows = np.lib.stride_tricks.sliding_window_view(b, n)
    powers = np.empty(n, dtype=np.uint64)
    powers[0] = np.uint64(1)
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        for i in range(1, n):
            powers[i] = powers[i - 1] * base
        hashes = (windows * powers[::-1]).sum(axis=1, dtype=np.uint64)
    return np.unique(hashes)


def hash_str(s: str, seed: int = 0) -> np.uint64:
    """Deterministic FNV-1a 64 of a string (no PYTHONHASHSEED dependence)."""
    h = np.uint64(0xCBF29CE484222325 ^ seed)
    p = np.uint64(0x100000001B3)
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        for byte in s.encode("utf-8"):
            h = (h ^ np.uint64(byte)) * p
    return h


def hash_str_many(words: list) -> np.ndarray:
    """Vectorized FNV-1a 64 over many strings — bit-identical to
    ``hash_str`` (property-tested): the byte sequences are packed into
    one padded matrix and the fold runs per byte POSITION (≈ max-length
    vector ops instead of a Python loop per byte per word). The simhash
    hot path hashes each unique token once through this."""
    n = len(words)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bs = [w.encode("utf-8") for w in words]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    p = np.uint64(0x100000001B3)
    # group by exact byte length: zero padding, O(total_bytes) work and
    # memory — one pathological long token (base64 blob, minified JS)
    # must not inflate an (n_words x max_len) matrix
    order = np.argsort(lens, kind="stable")
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        start = 0
        while start < n:
            ln = int(lens[order[start]])
            end = start
            while end < n and lens[order[end]] == ln:
                end += 1
            idx = order[start:end]
            start = end
            if ln == 0:
                continue
            mat = np.frombuffer(
                b"".join(bs[i] for i in idx), dtype=np.uint8
            ).reshape(len(idx), ln).astype(np.uint64)
            hh = h[idx]
            for pos in range(ln):
                hh = (hh ^ mat[:, pos]) * p
            h[idx] = hh
    return h


def minhash_signature(shingle_hashes: np.ndarray, k: int = 64) -> np.ndarray:
    """k-permutation MinHash: sig_i = min over shingles of
    (a_i·x + b_i mod 2^61−1). Empty input → all-max signature."""
    if len(shingle_hashes) == 0:
        return np.full(k, np.iinfo(np.uint64).max, dtype=np.uint64)
    a, b = _rand_params(k)
    x = shingle_hashes.astype(np.uint64) % _MERSENNE
    # (k, n) matrix — wrapping multiply then mod mersenne
    vals = (np.outer(a, x) + b[:, None]) % _MERSENNE
    return vals.min(axis=1)


def _fast_mod_mersenne(v: np.ndarray) -> np.ndarray:
    """v mod (2^61−1) without integer division: 2^61 ≡ 1 (mod M), so
    v = hi·2^61 + lo ≡ hi + lo; one conditional subtract finishes
    (hi ≤ 7 ⇒ hi + lo < 2M). Bit-identical to ``v % _MERSENNE`` on the
    same wrapped-u64 inputs — a true mod either way — but shift/add
    instead of a 64-bit divide per element (~4× on the sketch kernel).
    """
    with np.errstate(over="ignore"):
        r = (v >> np.uint64(61)) + (v & _MERSENNE)
    return np.where(r >= _MERSENNE, r - _MERSENNE, r)


def minhash_signatures_batch(
    shingle_arrays: "list[np.ndarray]", k: int = 64,
    max_chunk_hashes: int = 16_000,
) -> np.ndarray:
    """Batched MinHash over many documents at once, BIT-IDENTICAL to
    per-doc `minhash_signature` (same x%M → wrapping a·x+b → %M → min
    pipeline; asserted in tests). One (k, chunk) matrix op + a
    `minimum.reduceat` per ~``max_chunk_hashes`` shingles replaces a
    per-document outer-product call. At web-corpus document sizes
    (~300 shingles/doc) throughput matches the per-doc path — the
    kernel is at its u64-arithmetic floor — and on SHORT-document
    corpora (call overhead per doc dominant) the ~60× fewer numpy
    dispatches win. Chunks are sized to keep the (k, chunk) matrix
    cache-resident (the 100k-hash variant measured 4× slower —
    memory-bandwidth bound)."""
    n_docs = len(shingle_arrays)
    a, b = _rand_params(k)
    out = np.full((n_docs, k), np.iinfo(np.uint64).max, dtype=np.uint64)
    lens = np.array([len(s) for s in shingle_arrays], dtype=np.int64)
    nonempty = np.nonzero(lens > 0)[0]
    if len(nonempty) == 0:
        return out
    # chunk document GROUPS so each matrix stays cache/memory-bounded
    start = 0
    while start < len(nonempty):
        end = start
        tot = 0
        while end < len(nonempty) and (tot == 0 or tot + lens[nonempty[end]] <= max_chunk_hashes):
            tot += lens[nonempty[end]]
            end += 1
        idx = nonempty[start:end]
        x = np.concatenate([shingle_arrays[i] for i in idx]).astype(np.uint64)
        x = _fast_mod_mersenne(x)
        offsets = np.concatenate(([0], np.cumsum(lens[idx])))[:-1]
        vals = _fast_mod_mersenne(a[:, None] * x[None, :] + b[:, None])
        out[idx] = np.minimum.reduceat(vals, offsets, axis=1).T
        start = end
    return out


def minhash_bands(signature: np.ndarray, bands: int = 16) -> np.ndarray:
    """Fold the signature into ``bands`` bucket hashes (LSH keys)."""
    k = len(signature)
    rows = k // bands
    mix = np.uint64(0x9E3779B97F4A7C15)
    out = np.zeros(bands, dtype=np.uint64)
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        for b in range(bands):
            h = np.uint64(b + 1)
            for v in signature[b * rows : (b + 1) * rows]:
                h = (h ^ np.uint64(v)) * mix
            out[b] = h
    return out


def minhash_bands_batch(signatures: np.ndarray, bands: int = 16) -> np.ndarray:
    """Batched ``minhash_bands`` over a (n_docs, k) signature matrix →
    (n_docs, bands) band hashes, BIT-IDENTICAL to the per-doc fold
    (same xor-multiply order per band; parity-tested): the fold runs
    per signature POSITION as one vector op across all docs, so the
    whole batch costs bands×rows numpy dispatches instead of
    n_docs×bands Python loops."""
    sigs = np.asarray(signatures, dtype=np.uint64)
    n_docs, k = sigs.shape
    rows = k // bands
    mix = np.uint64(0x9E3779B97F4A7C15)
    out = np.zeros((n_docs, bands), dtype=np.uint64)
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        for b in range(bands):
            h = np.full(n_docs, b + 1, dtype=np.uint64)
            for j in range(rows):
                h = (h ^ sigs[:, b * rows + j]) * mix
            out[:, b] = h
    return out


def minhash_jaccard_estimate(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    return float((np.asarray(sig_a) == np.asarray(sig_b)).mean())


def simhash(token_hashes: np.ndarray, weights: np.ndarray | None = None, bits: int = 64) -> np.uint64:
    """Charikar SimHash: weighted bit-vote over token hashes."""
    if len(token_hashes) == 0:
        return np.uint64(0)
    th = np.asarray(token_hashes, dtype=np.uint64)
    if weights is None:
        weights = np.ones(len(th))
    bit_matrix = ((th[:, None] >> np.arange(bits, dtype=np.uint64)) & np.uint64(1)).astype(
        np.float64
    )
    votes = ((bit_matrix * 2 - 1) * np.asarray(weights)[:, None]).sum(axis=0)
    result = np.uint64(0)
    for i in np.nonzero(votes > 0)[0]:
        result |= np.uint64(1) << np.uint64(i)
    return result


def simhash_many(token_hashes: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Batched unweighted Charikar simhash: ``token_hashes`` holds all
    docs' token hashes concatenated, ``counts[i]`` tokens for doc i.
    Bit votes are segment-summed across the whole batch
    (np.add.reduceat) instead of building a per-doc matrix — identical
    results to ``simhash`` per doc (±1 votes are integer-exact under
    any summation order; parity-tested), ~an order of magnitude less
    Python overhead. Zero-token docs hash to 0, matching ``simhash``.
    int32 votes bound docs to < 2^31 tokens (web docs are ~10^3)."""
    n_docs = len(counts)
    out = np.zeros(n_docs, dtype=np.uint64)
    nz = counts > 0
    if not nz.any():
        return out
    th = np.asarray(token_hashes, dtype=np.uint64)
    signed = (
        ((th[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
        * 2 - 1
    )  # (T, 64)
    nz_counts = counts[nz]
    offsets = np.zeros(len(nz_counts), dtype=np.int64)
    np.cumsum(nz_counts[:-1], out=offsets[1:])
    votes = np.add.reduceat(signed, offsets, axis=0)  # (n_nz_docs, 64)
    bits = (votes > 0).astype(np.uint64)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    out[nz] = bits @ weights
    return out


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    x = np.bitwise_xor(np.asarray(a, dtype=np.uint64), np.asarray(b, dtype=np.uint64))
    # popcount via bit tricks (numpy<2 lacks bit_count ufunc)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


_LSH_Q = 1 << 24  # fixed-point scale for cross-engine-exact LSH codes


def int_hyperplanes(n_planes: int, dim: int, seed: int = _SEED) -> np.ndarray:
    """Integer-quantized random hyperplanes: standard-normal rows from
    the seeded generator, scaled by 2^24, rounded via floor(x + 0.5).
    Quantization keeps the hyperplane direction (the LSH property) while
    making sign codes EXACT integer arithmetic — reproducible bit-for-
    bit in any engine (the float dot's rounding depends on summation
    order: BLAS vs sequential could flip a near-zero sign)."""
    rng = np.random.default_rng(seed + dim)
    planes = rng.standard_normal((n_planes, dim))
    return np.floor(planes * _LSH_Q + 0.5).astype(np.int64)


def hyperplane_codes_int(
    mat: np.ndarray, n_planes: int = 16, seed: int = _SEED
) -> np.ndarray:
    """Sign-bit LSH codes over integer-quantized vectors and planes:
    (n, d) matrix → (n,) int64 codes. All arithmetic is exact int64
    (components quantized by floor(x*2^24 + 0.5); |dot| bound ~2^56 for
    unit-ish vectors at d <= 256, far from overflow), so the DuckDB twin
    (_ann_lsh_oracle_sql) reproduces codes exactly."""
    mat = np.asarray(mat, dtype=np.float64)
    planes = int_hyperplanes(n_planes, mat.shape[1], seed)
    vq = np.floor(mat * _LSH_Q + 0.5).astype(np.int64)
    # int64 matmul wraps SILENTLY on overflow while the DuckDB twin sums
    # in HUGEINT — guard the bound so divergence is an error, not a
    # wrong candidate set (normalize embeddings if this ever fires)
    bound = float(np.abs(vq).max(initial=0)) * float(np.abs(planes).max()) * mat.shape[1]
    if bound >= 2**62:
        raise OverflowError(
            "hyperplane_codes_int: |dot| bound exceeds int64 — "
            "normalize or scale down the embedding components"
        )
    bits = (vq @ planes.T) > 0  # (n, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    return bits @ weights


def hyperplane_buckets(
    mat: np.ndarray, n_planes: int = 16, seed: int = _SEED
) -> np.ndarray:
    """Random-hyperplane LSH buckets for cosine similarity: (n, d)
    matrix → (n,) int64 bucket ids (sign-bit codes). Deterministic
    planes from the seed + dimensionality."""
    mat = np.asarray(mat, dtype=np.float64)
    rng = np.random.default_rng(seed + mat.shape[1])
    planes = rng.standard_normal((n_planes, mat.shape[1]))
    bits = (mat @ planes.T) > 0  # (n, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    return bits @ weights
