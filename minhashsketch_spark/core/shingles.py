"""Webtext shingle hashing + k-independent MinHash — the scale path.

Generalizes the reference's DNA k-mers to byte-level character shingles of
arbitrary text (BASELINE.json north_star: "character-shingle sets and
k-independent-hash (a*x+b mod p) MinHash signatures in batched NumPy inner
loops"). The hash family is the reference's alternative family
``h(x) = (a*x + b) mod p`` with 64-bit wraparound on ``a*x``
(``/root/reference/src/Hash.h:35-40``, ``src/Hash.cu:35-37``) and the same
hardcoded prime p = 3*2**62 + 17; parameters come from
``generate_hashes_ab`` (bit-parity with ``generateHashes``).

All functions are NumPy-vectorized and designed to be called from Arrow
batches inside ``mapInPandas`` — no per-row Python.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np

from . import _native
from .rng import MERSENNE_P, generate_hashes_ab

_P = np.uint64(MERSENNE_P)
# odd multiplier for the rolling polynomial base hash (splitmix64 constant)
_POLY_M = np.uint64(0x9E3779B97F4A7C15)
UINT64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def shingle_hashes(text: bytes | np.ndarray, k: int) -> np.ndarray:
    """uint64 base hash of every k-byte shingle (n-k+1 values).

    Polynomial rolling hash mod 2**64: sh[i] = sum_j b[i+j] * M**(k-1-j).
    Plays the role the packed k-mer word plays in the reference (O4): a
    near-injective uint64 id per shingle that the (a*x+b) family permutes.

    Accepts raw bytes or a uint8 ndarray view (e.g. a zero-copy slice of an
    Arrow string buffer — no per-row Python allocation).
    """
    b = text if isinstance(text, np.ndarray) else np.frombuffer(text, dtype=np.uint8)
    n = b.shape[0]
    if n < k:
        return np.empty(0, dtype=np.uint64)
    out = np.zeros(n - k + 1, dtype=np.uint64)
    mpow = 1
    for j in range(k - 1, -1, -1):
        out += b[j:j + n - k + 1].astype(np.uint64) * np.uint64(mpow)
        mpow = (mpow * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    return out


def utf8_views(texts) -> Iterator[np.ndarray]:
    """Per-row uint8 views of an Arrow string array's UTF-8 bytes, in row
    order; a null row is an empty view. The views slice the array's
    (offsets, data) buffers directly — no per-row Python str/bytes object
    is ever materialized (texts are already UTF-8 in Arrow)."""
    import pyarrow as pa

    tarr = texts.combine_chunks() if isinstance(texts, pa.ChunkedArray) else texts
    n = len(tarr)
    if n == 0:
        return
    bufs = tarr.buffers()
    odt = np.int64 if pa.types.is_large_string(tarr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=odt)[tarr.offset:tarr.offset + n + 1]
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if len(bufs) > 2 and bufs[2] is not None else np.empty(0, np.uint8))
    valid = ~np.asarray(tarr.is_null()) if tarr.null_count else None
    empty = data[:0]
    for i in range(n):
        yield empty if valid is not None and not valid[i] else data[offs[i]:offs[i + 1]]


def distinct_shingles(text: bytes | np.ndarray, k: int) -> np.ndarray:
    """Sorted distinct shingle hash set of one document."""
    return np.unique(shingle_hashes(text, k))


_POLY_MINV = np.uint64(pow(0x9E3779B97F4A7C15, -1, 2**64))  # M is odd


def gram_hashes(text: bytes | np.ndarray, L: int) -> np.ndarray:
    """Identical values to ``shingle_hashes(text, L)`` but O(n) for ANY
    window length: prefix sums of b[j]*Minv^j (M is odd, hence invertible
    mod 2**64) turn every length-L window hash into one subtraction and
    one multiply. Used by the LCS verifier, whose binary search probes
    window lengths in the hundreds where the per-length loop of
    ``shingle_hashes`` would cost O(n*L) Python-side."""
    b = text if isinstance(text, np.ndarray) else np.frombuffer(text, dtype=np.uint8)
    n = b.shape[0]
    if n < L:
        return np.empty(0, dtype=np.uint64)
    minv_pows = np.empty(n, dtype=np.uint64)
    minv_pows[0] = 1
    if n > 1:
        np.cumprod(np.full(n - 1, _POLY_MINV, dtype=np.uint64), out=minv_pows[1:])
    s = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(b.astype(np.uint64) * minv_pows, out=s[1:])
    diff = s[L:] - s[:-L]              # wraps mod 2**64
    m_pows = np.empty(n - L + 1, dtype=np.uint64)
    m_pows[0] = np.uint64(pow(0x9E3779B97F4A7C15, L - 1, 2**64))
    if m_pows.shape[0] > 1:
        np.cumprod(np.full(n - L, _POLY_M, dtype=np.uint64), out=m_pows[1:])
        m_pows[1:] *= m_pows[0]
    return diff * m_pows


def minhash_matrix(xs: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """min over the shingle set of (a_j * x + b_j) mod p, per function j.

    ``xs``: (n,) distinct shingle hashes; ``a``, ``b``: (t,) family params.
    Returns (t,) uint64. Empty set -> UINT64_MAX (reference padding
    semantics, src/MinhashSketch.cu:309).
    """
    if xs.shape[0] == 0:
        return np.full(a.shape[0], UINT64_MAX, dtype=np.uint64)
    native = _native.native_minhash(xs, a, b, MERSENNE_P)
    if native is not None:
        return native
    # (t, n) = (a[:,None] * xs[None,:] + b[:,None]) % p, wrapping mod 2**64
    # exactly like the C++ uint64 arithmetic before the % p. Since
    # 2**64 < 2p, the mod is a single conditional subtract — ~4x faster
    # than np.uint64 division in the hottest loop of the pipeline.
    hv = a[:, None] * xs[None, :] + b[:, None]
    np.subtract(hv, _P, out=hv, where=hv >= _P)
    return hv.min(axis=1)


def bottom_m_matrix(xs: np.ndarray, a: np.ndarray, b: np.ndarray, m: int) -> np.ndarray:
    """(t, m) bottom-m distinct sketch per function (general m > 1 path)."""
    t = a.shape[0]
    out = np.full((t, m), UINT64_MAX, dtype=np.uint64)
    if xs.shape[0] == 0:
        return out
    hv = a[:, None] * xs[None, :] + b[:, None]
    np.subtract(hv, _P, out=hv, where=hv >= _P)
    for j in range(t):
        u = np.unique(hv[j])
        take = min(m, u.shape[0])
        out[j, :take] = u[:take]
    return out


def band_keys(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """(bands,) int64 LSH bucket keys for one (t,) signature.

    Each band's r values are mixed with the band index via a splitmix64-ish
    avalanche so buckets from different bands never collide.
    """
    v = sig.reshape(bands, rows).astype(np.uint64)
    acc = np.full(bands, 0x9E3779B97F4A7C15, dtype=np.uint64)
    acc += np.arange(bands, dtype=np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
    for r in range(rows):
        x = v[:, r] + acc
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        acc = x
    return acc.view(np.int64)


def band_keys_batch(sigs: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """(n_docs, bands) int64 band keys for a (n_docs, t) signature matrix."""
    n = sigs.shape[0]
    v = sigs.reshape(n, bands, rows).astype(np.uint64)
    acc = np.full((n, bands), 0x9E3779B97F4A7C15, dtype=np.uint64)
    acc += np.arange(bands, dtype=np.uint64)[None, :] * np.uint64(0xBF58476D1CE4E5B9)
    for r in range(rows):
        x = v[:, :, r] + acc
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        acc = x
    return acc.view(np.int64)


@functools.cache
def get_family(t: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) parameter arrays as np.uint64 — broadcast-friendly tiny table.

    Memoized (``generate_hashes_ab`` is pure Python, ~0.1 s at t=128) and
    read-only, so no caller can corrupt the shared copy."""
    ab = generate_hashes_ab(t, seed)
    a = np.array([x[0] for x in ab], dtype=np.uint64)
    b = np.array([x[1] for x in ab], dtype=np.uint64)
    a.flags.writeable = b.flags.writeable = False
    return a, b


def intersect_count(va: np.ndarray, oa: np.ndarray,
                    vb: np.ndarray, ob: np.ndarray) -> np.ndarray:
    """(n,) int64 sizes |A_i ∩ B_i| for a batch of n set pairs in offsets
    form: A_i = va[oa[i]:oa[i+1]], B_i = vb[ob[i]:ob[i+1]] (the layout of
    an Arrow list column). Every set is ascending and distinct as uint64 —
    the order ``distinct_shingles`` emits. ``va``/``vb`` must be uint64:
    an int64 view of the same sets is ordered differently once values
    reach 2**63, and a merge in that order would miscount."""
    if va.dtype != np.uint64 or vb.dtype != np.uint64:
        raise TypeError("intersect_count takes uint64 sets (view int64 as uint64)")
    va, vb = np.ascontiguousarray(va), np.ascontiguousarray(vb)
    oa = np.ascontiguousarray(oa, dtype=np.int64)
    ob = np.ascontiguousarray(ob, dtype=np.int64)
    for v, o in ((va, oa), (vb, ob)):
        if (o.ndim != 1 or o.shape[0] != oa.shape[0] or o.shape[0] == 0
                or o[0] < 0 or o[-1] > v.shape[0] or np.any(o[1:] < o[:-1])):
            raise ValueError("offsets must be n+1 non-decreasing bounds into the values")
    native = _native.native_intersect_count(va, oa, vb, ob)
    if native is not None:
        return native
    return np.array([np.intersect1d(va[oa[i]:oa[i + 1]], vb[ob[i]:ob[i + 1]],
                                    assume_unique=True).shape[0]
                     for i in range(oa.shape[0] - 1)], dtype=np.int64)


def exact_jaccard(s1: np.ndarray, s2: np.ndarray) -> float:
    """Exact Jaccard of two sorted distinct shingle-hash sets."""
    if s1.shape[0] == 0 and s2.shape[0] == 0:
        return 1.0
    inter = np.intersect1d(s1, s2, assume_unique=True).shape[0]
    union = s1.shape[0] + s2.shape[0] - inter
    return inter / union if union else 1.0
