"""Fingerprinting kernels for large-scale dedup: shingles, MinHash, SimHash.

Published algorithms (Broder 1997 resemblance/MinHash; Charikar 2002
SimHash). Pure Python/numpy; deterministic (fixed hash constants, no
process-salted ``hash()``). These back the dedup operators in
``operators/dedup.py``; at cluster scale the per-doc signature computation
is an Arrow UDF and the candidate generation is a band-bucket shuffle join.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

_MERSENNE = (1 << 61) - 1
_MAX64 = (1 << 64) - 1


def stable_hash64(data: str | bytes) -> int:
    """Deterministic 64-bit hash (blake2b-based; process-independent)."""
    if isinstance(data, str):
        data = data.encode("utf-8", "surrogatepass")
    return struct.unpack("<Q", hashlib.blake2b(data, digest_size=8).digest())[0]


def _splitmix64(h: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (Steele et al.) — avalanche mixing."""
    with np.errstate(over="ignore"):
        h = h.copy()
        h ^= h >> np.uint64(30)
        h *= np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(27)
        h *= np.uint64(0x94D049BB133111EB)
        h ^= h >> np.uint64(31)
    return h


_POLY_BASE = np.uint64(1099511628211)  # FNV-64 prime as polynomial base


def char_shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Unique 64-bit hashes of the k-byte shingles of ``text``, fully
    vectorized: sliding windows → polynomial hash (uint64 wraparound) →
    splitmix64 avalanche. ~50× faster than per-shingle blake2b, which
    dominated the MinHash signature UDF."""
    data = np.frombuffer(
        text.encode("utf-8", "surrogatepass"), dtype=np.uint8
    ).astype(np.uint64)
    if data.size == 0:
        return np.empty(0, dtype=np.uint64)
    k = min(k, data.size)
    windows = np.lib.stride_tricks.sliding_window_view(data, k)
    with np.errstate(over="ignore"):
        powers = np.empty(k, dtype=np.uint64)
        powers[-1] = 1
        for i in range(k - 2, -1, -1):
            powers[i] = powers[i + 1] * _POLY_BASE
        h = (windows * powers[None, :]).sum(axis=1, dtype=np.uint64)
    return np.unique(_splitmix64(h))


def _perm_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    # Multiply-shift family (Dietzfelbinger et al.): h_i(x) = a_i*x + b_i
    # mod 2^64 with odd a_i — wraps naturally in uint64, mixes well, and
    # vectorizes exactly (no arbitrary-precision math).
    a = rng.randint(0, _MAX64, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.randint(0, _MAX64, size=num_perm, dtype=np.uint64)
    return a, b


_PERM_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def minhash_signature(shingle_hashes: "set[int] | np.ndarray",
                      num_perm: int = 128, seed: int = 42) -> np.ndarray:
    """MinHash signature via multiply-shift hashing mod 2^64."""
    key = (num_perm, seed)
    if key not in _PERM_CACHE:
        _PERM_CACHE[key] = _perm_params(num_perm, seed)
    a, b = _PERM_CACHE[key]
    if isinstance(shingle_hashes, np.ndarray):
        x = shingle_hashes.astype(np.uint64, copy=False)
    elif shingle_hashes:
        x = np.fromiter(shingle_hashes, dtype=np.uint64, count=len(shingle_hashes))
    else:
        x = np.empty(0, dtype=np.uint64)
    if x.size == 0:
        return np.full(num_perm, _MAX64, dtype=np.uint64)
    # (a*x + b) mod 2^64 via natural uint64 wraparound (multiply-shift family).
    with np.errstate(over="ignore"):
        ax = x[:, None] * a[None, :] + b[None, :]
    return np.min(ax, axis=0)


def simhash(tokens: list[str], bits: int = 64) -> int:
    """Charikar SimHash over token unigrams with unit weights (vectorized:
    the per-token per-bit Python loop was the SimHash UDF's hot path)."""
    if not tokens:
        return 0
    hs = np.fromiter(
        (stable_hash64(t) for t in tokens), dtype=np.uint64, count=len(tokens)
    )
    shifts = np.arange(bits, dtype=np.uint64)[None, :]
    bitmat = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
    acc = (2 * bitmat - 1).sum(axis=0)
    out = 0
    for i in np.nonzero(acc > 0)[0]:
        out |= 1 << int(i)
    return out
