"""Optional native inner loops for the MinHash hot path and verification.

The (t x n) NumPy formulation writes ~12 MB of temporaries per 5 KB
document; the fused C loop keeps the shingle set in L1 and computes the
per-function minimum in one pass (~8x). Compiled on first use with the
system cc into a per-user cache dir; silently falls back to NumPy when no
compiler is available. Semantics are identical (tests assert bit-equality):

* ``minhash_axb``: h = (a*x + b) wrapped mod 2**64, minus p when >= p
  (valid since 2**64 < 2p), min per function; empty set handled by the
  caller.
* ``intersect_count``: per pair of ascending, distinct uint64 sets (one
  Arrow batch of pairs per call), the size of their intersection — a
  sorted merge, where a per-pair hash set would re-hash inputs that are
  already ordered.

``minhash_axb`` is built as GCC function multi-versioning clones
(``target_clones``: x86-64-v4, AVX2, baseline) in one ``-O3`` library. The
loader's ifunc resolver picks the clone for the CPU it runs on, so the
AVX-512 clone's 64-bit ``vpmullq`` multiply and unsigned min serve the hot
loop where the host has them (~5x over the baseline build on 5 K-shingle
sets at t=128, on an AVX-512 Xeon). ``-march=native`` is not used: the
library lives in a cache keyed only by the source hash, which a shared
home directory or an image can carry to a host without that ISA, where a
native build dies with SIGILL; the clones are safe on every x86-64 host.
``MHS_CLONES`` expands to nothing where ifunc is unavailable (non-x86-64,
macOS), and a compiler that rejects the attribute is retried with
``-DMHS_CLONES=``: the plain loop still compiles there, and NumPy stays
the fallback of last resort.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SRC = r"""
#include <stdint.h>

#ifndef MHS_CLONES
#if defined(__x86_64__) && (defined(__linux__) || defined(__ELF__))
#define MHS_CLONES __attribute__((target_clones("arch=x86-64-v4", "avx2", "default")))
#else
#define MHS_CLONES
#endif
#endif

MHS_CLONES
void minhash_axb(const uint64_t *xs, long n, const uint64_t *a,
                 const uint64_t *b, long t, uint64_t p, uint64_t *out) {
    for (long j = 0; j < t; ++j) {
        uint64_t aj = a[j], bj = b[j], mn = ~(uint64_t)0;
        for (long i = 0; i < n; ++i) {
            uint64_t h = aj * xs[i] + bj;   /* wraps mod 2^64 like C++/NumPy */
            if (h >= p) h -= p;             /* 2^64 < 2p: single subtract */
            if (h < mn) mn = h;
        }
        out[j] = mn;
    }
}

/* pair i intersects va[oa[i]:oa[i+1]] with vb[ob[i]:ob[i+1]]; both ascending
   and distinct in UNSIGNED order. The merge advances on comparisons, not
   branches: the equal step moves both cursors. */
void intersect_count(const uint64_t *va, const int64_t *oa,
                     const uint64_t *vb, const int64_t *ob,
                     long n, int64_t *out) {
    for (long p = 0; p < n; ++p) {
        const uint64_t *a = va + oa[p], *b = vb + ob[p];
        long na = oa[p + 1] - oa[p], nb = ob[p + 1] - ob[p];
        long i = 0, j = 0, c = 0;
        while (i < na && j < nb) {
            uint64_t x = a[i], y = b[j];
            c += x == y;
            i += x <= y;
            j += y <= x;
        }
        out[p] = c;
    }
}
"""

_lib = None
_tried = False


def _cache_dir() -> str:
    """Genuinely per-user cache dir: tempfile.gettempdir() is shared on
    multi-user hosts, so suffix with the uid and create mode 0700 — another
    user cannot pre-plant a malicious .so at a predictable path."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    if not os.path.isdir(os.path.dirname(base) or "/"):
        base = tempfile.gettempdir()
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(base,
                        f"mhs_native_u{uid}_{hashlib.sha1(_C_SRC.encode()).hexdigest()[:12]}")


def _build() -> "ctypes.CDLL | None":
    cache = _cache_dir()
    so = os.path.join(cache, "libminhash.so")
    if not os.path.exists(so):
        os.makedirs(cache, mode=0o700, exist_ok=True)
        src = os.path.join(cache, f"minhash_{os.getpid()}.c")
        tmp_so = os.path.join(cache, f"lib_{os.getpid()}.so")
        try:
            with open(src, "w") as f:
                f.write(_C_SRC)
            if not (compile_c(src, tmp_so) or compile_c(src, tmp_so, "-DMHS_CLONES=")):
                return None
            os.replace(tmp_so, so)  # atomic: concurrent workers never dlopen
                                    # a half-written library
        finally:
            for leftover in (src, tmp_so):  # tmp_so is gone once replaced
                if os.path.exists(leftover):
                    os.remove(leftover)
    try:
        # refuse a library some other principal wrote into our cache path
        st = os.stat(so)
        if hasattr(os, "getuid") and st.st_uid != os.getuid():
            return None
        return open_lib(so)
    except Exception:
        return None


def compile_c(src: str, so: str, *flags: str) -> bool:
    """Build ``src`` into the shared library ``so`` with the first system
    C compiler that succeeds; False when none does."""
    for cc in ("cc", "gcc", "clang"):
        try:
            subprocess.run([cc, "-O3", "-shared", "-fPIC", *flags, "-o", so, src],
                           check=True, capture_output=True, timeout=120)
            return True
        except Exception:
            continue
    return False


def open_lib(so: str) -> ctypes.CDLL:
    """Load a build of ``_C_SRC`` and declare its signatures."""
    lib = ctypes.CDLL(so)
    u64p, i64p = ctypes.POINTER(ctypes.c_uint64), ctypes.POINTER(ctypes.c_int64)
    lib.minhash_axb.argtypes = [u64p, ctypes.c_long, u64p, u64p,
                                ctypes.c_long, ctypes.c_uint64, u64p]
    lib.minhash_axb.restype = None
    lib.intersect_count.argtypes = [u64p, i64p, u64p, i64p, ctypes.c_long, i64p]
    lib.intersect_count.restype = None
    return lib


def _load() -> "ctypes.CDLL | None":
    global _lib, _tried
    if not _tried:
        _tried = True
        if os.environ.get("MHS_DISABLE_NATIVE") != "1":
            _lib = _build()
    return _lib


def native_minhash(xs: np.ndarray, a: np.ndarray, b: np.ndarray, p: int,
                   lib: "ctypes.CDLL | None" = None):
    """Returns (t,) uint64 minima, or None when the native lib is absent.
    ``lib``: a library from ``open_lib`` to run instead of the loaded one."""
    if lib is None:
        lib = _load()
    if lib is None:
        return None
    xs = np.ascontiguousarray(xs, dtype=np.uint64)
    out = np.empty(a.shape[0], dtype=np.uint64)
    u64p = ctypes.POINTER(ctypes.c_uint64)
    lib.minhash_axb(xs.ctypes.data_as(u64p), xs.shape[0],
                    a.ctypes.data_as(u64p), b.ctypes.data_as(u64p),
                    a.shape[0], ctypes.c_uint64(p), out.ctypes.data_as(u64p))
    return out


def native_intersect_count(va: np.ndarray, oa: np.ndarray,
                           vb: np.ndarray, ob: np.ndarray):
    """Returns (n,) int64 intersection sizes, or None when the native lib is
    absent. Arguments as ``core.shingles.intersect_count`` (validated
    there)."""
    lib = _load()
    if lib is None:
        return None
    out = np.empty(oa.shape[0] - 1, dtype=np.int64)
    u64p, i64p = ctypes.POINTER(ctypes.c_uint64), ctypes.POINTER(ctypes.c_int64)
    lib.intersect_count(va.ctypes.data_as(u64p), oa.ctypes.data_as(i64p),
                        vb.ctypes.data_as(u64p), ob.ctypes.data_as(i64p),
                        out.shape[0], out.ctypes.data_as(i64p))
    return out
