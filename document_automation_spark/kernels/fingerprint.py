"""Deterministic document fingerprints: shingles, MinHash, SimHash, rolling hash.

Pure-Python kernels (no Spark imports) used by both the Spark UDF layer
(operators.dedup / operators.text_analysis) and the pytest oracles, so the
distributed and single-process answers agree exactly.

All hashing is seed-stable across processes (md5/blake2b-based; never
Python's builtin ``hash``, which is randomized per process) — a hard
requirement for a multi-executor cluster where every worker must agree on
bucket ids.

Base-hash choice: the shingle hash is the **top 60/64 bits of md5** rather
than crc32.  md5 is ~3× slower per shingle, but it is the only hash this
container's SQL oracle engine (DuckDB) can recompute — which turns MinHash
signatures, LSH candidate pairs, SimHash fingerprints and the whole
near-dup pipeline into *driver-checkable* queries instead of trust-me
Python.  At 100 TB, if verification is handled elsewhere, pass
``hash_impl='crc32'`` (a TESTED switch on :func:`minhash_signature` and
``dedup.minhash_lsh_candidates`` above it — :func:`fast_hash64`) — the
permutation math and the banding are hash-agnostic.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from typing import List, Sequence

import numpy as np

MERSENNE_31 = (1 << 31) - 1  # permutation field: products fit in uint64
_MAX_HASH = (1 << 31) - 2


#: cache sizing: the cost is paid PER PYTHON WORKER (one per core, e.g. 32
#: per node), so the bound must stay small — 2^17 entries ≈ 30-50 MB per
#: worker worst-case on low-reuse text, while boilerplate-heavy web corpora
#: still hit >90% (their shingle vocabulary is tiny relative to volume).
_HASH_CACHE_SIZE = 1 << 17


@lru_cache(maxsize=_HASH_CACHE_SIZE)
def stable_hash64(s: str) -> int:
    """Process-stable 64-bit hash of a string: first 16 hex chars of md5.

    Deterministic across processes (unlike builtin ``hash``) and
    reproducible in SQL — DuckDB: ``('0x' || substr(md5(s),1,16))::UBIGINT``
    — so every fingerprint built on it is oracle-checkable.  LRU-cached so
    repeated (boilerplate) shingles pay md5 once per worker."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16)


@lru_cache(maxsize=_HASH_CACHE_SIZE)
def stable_hash60(s: str) -> int:
    """Top 60 bits of md5 (15 hex chars): always fits a signed int64, so
    products with 31-bit permutation constants stay below 2^63 in every
    engine.  DuckDB: ``('0x' || substr(md5(s),1,15))::UBIGINT``.  Cached
    like :func:`stable_hash64`."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


@lru_cache(maxsize=_HASH_CACHE_SIZE)
def fast_hash64(s: str) -> int:
    """The flagged FAST base hash (``hash_impl='crc32'``): two C-speed
    crc32 passes → 64 process-stable bits.

    The second word hashes the REVERSED bytes (plus a different init) —
    NOT the same message with another init: crc32 is affine in its init,
    so ``crc32(b) ^ crc32(b, seed)`` is one constant for every
    equal-length input, and fixed-k shingles would carry only 32
    independent bits (halving SimHash's effective width; caught by the
    round-3 review, pinned by tests/test_kernels.py).  Reversal is a
    different message, so the two words are independent linear maps of the
    input bits.

    This is the documented "swap at one point" path for 100 TB runs where
    driver-checkability isn't needed: every downstream contract
    (permutation math, banding, Hamming buckets) is hash-agnostic, and
    tests/test_dedup_similarity.py pins that both impls produce the SAME
    candidate-pair sets on the near-dup fixture.  (xxhash would be the
    usual pick; this container has no python xxhash, and crc32 via zlib is
    the same C-speed class.)  NOT SQL-reproducible — the md5 default stays
    the oracle-parity impl."""
    import zlib

    b = s.encode("utf-8")
    return (zlib.crc32(b) << 32) | zlib.crc32(b[::-1], 0x5EED5EED)


def fast_hash60(s: str) -> int:
    # no own cache: fast_hash64 is already lru_cached and the shift is
    # free — a second cache would store every shingle string twice
    return fast_hash64(s) >> 4


_HASH60 = {"md5": stable_hash60, "crc32": fast_hash60}


def char_shingles(text: str, k: int = 5) -> List[str]:
    """Overlapping character k-grams (code-point based)."""
    if len(text) < k:
        return [text] if text else []
    return [text[i : i + k] for i in range(len(text) - k + 1)]


def _perm_params(num_perm: int, seed: int = 42) -> List[tuple]:
    """Deterministic (a, b) pairs for the universal-hash permutations."""
    params = []
    for i in range(num_perm):
        d = hashlib.blake2b(f"minhash-{seed}-{i}".encode(), digest_size=16).digest()
        a = (int.from_bytes(d[:8], "big") % (MERSENNE_31 - 1)) + 1
        b = int.from_bytes(d[8:], "big") % MERSENNE_31
        params.append((a, b))
    return params


@lru_cache(maxsize=None)
def _perm_vectors() -> tuple:
    params = _perm_params(32, 42)
    return (
        np.array([a for a, _ in params], dtype=np.uint64),
        np.array([b for _, b in params], dtype=np.uint64),
    )


def minhash_signature(text: str, hash_impl: str = "md5") -> List[int]:
    """32-permutation MinHash signature (seed 42) over character 5-shingles.

    ``sig[i] = min over shingles of (a_i·h(shingle) + b_i) mod (2^31-1)``.
    Empty text → all-_MAX_HASH sentinel signature.

    Fully numpy-vectorized: with the permutation field at p = 2^31-1,
    every product ``a·h + b`` stays below 2^63, so the whole
    (32 × n_shingles) sweep runs as native uint64 ops — ~50× the
    scalar loop.  The shingle base hash is md5-top-60-bits (cached,
    SQL-reproducible — see module docstring) by default;
    ``hash_impl='crc32'`` is the flagged fast path (:func:`fast_hash60`).
    """
    a_vec, b_vec = _perm_vectors()
    base_hash = _HASH60[hash_impl]

    shingles = set(char_shingles(text, 5))
    if not shingles:
        return [_MAX_HASH] * 32
    h = np.fromiter(
        (base_hash(s) % MERSENNE_31 for s in shingles),
        dtype=np.uint64,
        count=len(shingles),
    )
    prod = a_vec[:, None] * h[None, :] + b_vec[:, None]
    sig = (prod % np.uint64(MERSENNE_31)).min(axis=1)
    return [int(v) for v in sig]


def lsh_band_keys(signature: Sequence[int]) -> List[str]:
    """Split a signature into 8 equal bands; key = band idx + band hash.

    Two documents sharing ANY band key are LSH candidates (the classic
    banding construction: P(candidate) = 1 - (1 - J^r)^b for r rows/band).
    """
    if len(signature) % 8 != 0:
        raise ValueError("signature length must be divisible by 8 bands")
    rows = len(signature) // 8
    keys = []
    for b in range(8):
        band = ",".join(str(v) for v in signature[b * rows : (b + 1) * rows])
        # raw band string (no hash compression) — the key is shuffle-local
        # and this keeps the banding SQL-reproducible
        keys.append(f"{b}:{band}")
    return keys


def simhash64(text: str) -> int:
    """64-bit SimHash over character 3-shingles (unweighted, md5 base
    hash).

    Vectorized: shingle hashes → (n, 64) bit matrix via numpy shifts; the
    fingerprint bit is set where the column-sum of bits exceeds n/2."""
    shingles = set(char_shingles(text, 3))
    if not shingles:
        return 0
    h = np.fromiter(
        (stable_hash64(s) for s in shingles), dtype=np.uint64, count=len(shingles)
    )
    bits = (h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    ones = bits.sum(axis=0, dtype=np.int64)
    votes = 2 * ones - len(shingles)  # (+1/-1 sum)
    out = 0
    for bit in np.nonzero(votes > 0)[0]:
        out |= 1 << int(bit)
    return out


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


ROLLING_BASE = 31
ROLLING_MOD = 140_737_488_355_213  # ≈2^47: intermediates stay < 2^53


def rolling_fingerprint(text: str) -> int:
    """Polynomial rolling hash over code points:
    ``h = (h*ROLLING_BASE + cp) % ROLLING_MOD``.

    ``ROLLING_MOD`` ≈ 2^47 keeps every intermediate < 2^53, so the identical
    fold is expressible in Spark (``F.aggregate``) and DuckDB
    (``list_reduce``) without bigint overflow — used as a cross-engine
    oracle check.
    """
    h = 0
    for ch in text:
        h = (h * ROLLING_BASE + ord(ch)) % ROLLING_MOD
    return h


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)
