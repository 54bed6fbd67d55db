"""Stable, vectorized feature hashing (the engine's MALLET-Alphabet twin).

The reference maps feature strings to integer indices through a growable
MALLET ``Alphabet`` (a mutable driver-side string->int dictionary [K MALLET]).
A distributed mutable alphabet would serialize every executor through the
driver, so the engine replaces it with the *hashing trick*: a fixed,
deterministic 64-bit FNV-1a hash of the feature string taken modulo a fixed
feature-space size. No coordination, no growth, same semantics for a frozen
model (SURVEY.md §2.1 P8, §7 hard part #3).

Everything here is vectorized over numpy object arrays — these functions run
inside Arrow-batched pandas UDFs on the hot path, never per-row Spark Python.
"""

from __future__ import annotations

import numpy as np

FEATURE_SPACE = 1 << 20  # 2^20 hashed feature buckets
_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def fnv1a_bytes(data: bytes) -> int:
    """FNV-1a 64-bit of raw bytes (scalar reference implementation)."""
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def hash_str_array(strings: np.ndarray, space: int = FEATURE_SPACE) -> np.ndarray:
    """Hash an object array of strings to int64 indices in [0, space):
    ``fnv64_array`` modulo ``space``. Deterministic across runs, Python
    versions, and machines (unlike built-in ``hash``)."""
    return (fnv64_array(strings) % np.uint64(space)).astype(np.int64)


# ``fnv64_array`` hashes the strings still longer than j bytes in one
# numpy step per byte position j; once fewer than this many remain, the
# rest (a few long strings) go through the scalar ``fnv1a_bytes`` instead
# of one numpy step per remaining byte.
_VEC_MIN_ACTIVE = 32


def fnv64_array(strings: np.ndarray) -> np.ndarray:
    """Full 64-bit FNV-1a per string (uint64): the value hash that feature
    families numerically mix (see operators/features.py).

    Runs over ONE flat UTF-8 buffer of all strings. The strings are sorted
    by length, longest first, so the strings still active at byte
    position j are a prefix of that order: step j reads byte j of each of
    them straight from the buffer. Memory is O(total bytes), whatever the
    longest string."""
    n = len(strings)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    if n == 0:
        return h
    encoded = [s.encode("utf-8") for s in strings]
    lens = np.fromiter(map(len, encoded), count=n, dtype=np.int64)
    flat = np.frombuffer(b"".join(encoded), dtype=np.uint8)
    order = np.argsort(-lens, kind="stable")
    pos = (np.cumsum(lens) - lens)[order]
    hv = h[order]
    # active[j] = number of strings longer than j bytes (0 at the longest)
    active = n - np.cumsum(np.bincount(lens))
    j = 0
    with np.errstate(over="ignore"):
        while active[j] >= _VEC_MIN_ACTIVE:
            k = active[j]
            hv[:k] ^= flat[pos[:k] + j]
            hv[:k] *= _FNV_PRIME
            j += 1
    h[order] = hv
    for i in order[: active[j]]:
        h[i] = fnv1a_bytes(encoded[i])
    return h


_MIX_P1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX_P2 = np.uint64(0xC4CEB9FE1A85EC53)


def mix64(a: np.ndarray, b: "np.ndarray | int") -> np.ndarray:
    """Deterministic 64-bit mixing of two hash streams (uint64 in/out)."""
    b = np.uint64(b) if np.isscalar(b) else b.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (a.astype(np.uint64) ^ b) * _MIX_P1
        x ^= x >> np.uint64(33)
        x *= _MIX_P2
        x ^= x >> np.uint64(29)
    return x


def to_space(h: np.ndarray, space: int = FEATURE_SPACE) -> np.ndarray:
    return (h.astype(np.uint64) % np.uint64(space)).astype(np.int64)


def minhash_signatures(
    token_sets: list[np.ndarray], num_hashes: int = 64, seed: int = 42
) -> np.ndarray:
    """MinHash signatures for a list of already-hashed shingle-id arrays.

    Each hash function is ``mix64(x ^ salt_i)`` (murmur-style finalizer) —
    a genuine pseudo-permutation of the 64-bit space. (The textbook affine
    ``(a*x+b) mod p`` family is a trap when ``a*x`` rarely wraps ``p``: it
    becomes order-preserving, every hash picks the same minimum element,
    and Jaccard estimates are badly biased — caught by the
    ``test_minhash_estimates_jaccard`` property test.)

    Returns an (n_docs, num_hashes) int64 matrix (top bit cleared).
    """
    rng = np.random.RandomState(seed)
    salts = rng.randint(0, 1 << 62, size=num_hashes, dtype=np.int64).astype(
        np.uint64
    )
    n = len(token_sets)
    out = np.empty((n, num_hashes), dtype=np.int64)
    empty_sig = (mix64(salts, np.uint64(0x5A17)) >> np.uint64(1)).astype(np.int64)
    lens = np.fromiter((len(x) for x in token_sets), dtype=np.int64, count=n)
    nonempty = np.flatnonzero(lens > 0)
    out[lens == 0] = empty_sig
    if len(nonempty) == 0:
        return out
    # Flattened: ONE mix64 pass per salt over the concatenated id stream,
    # per-doc minima via minimum.reduceat — no per-doc Python loop, and the
    # per-salt working set (total_ids * 8B) stays cache-sized.
    flat = np.concatenate([token_sets[i] for i in nonempty]).astype(np.uint64)
    offs = np.concatenate(([0], np.cumsum(lens[nonempty])[:-1]))
    mins = np.empty((len(nonempty), num_hashes), dtype=np.uint64)
    b1 = np.empty_like(flat)
    b2 = np.empty_like(flat)
    with np.errstate(over="ignore"):
        for k in range(num_hashes):
            # inlined mix64 with reused buffers (no per-salt allocation)
            np.bitwise_xor(flat, salts[k], out=b1)
            np.multiply(b1, _MIX_P1, out=b1)
            np.right_shift(b1, np.uint64(33), out=b2)
            np.bitwise_xor(b1, b2, out=b1)
            np.multiply(b1, _MIX_P2, out=b1)
            np.right_shift(b1, np.uint64(29), out=b2)
            np.bitwise_xor(b1, b2, out=b1)
            np.minimum.reduceat(b1, offs, out=mins[:, k])
    out[nonempty] = (mins >> np.uint64(1)).astype(np.int64)
    return out
