"""Microbench of the signature kernel in the Spark driver process (no Spark
job) on a fixed seeded sample.

Times the three steps the signature UDF runs per document — shingle
hashing, set dedup, MinHash — and checks that the native and NumPy MinHash
paths agree bit for bit on the sample. The NumPy path runs in a child
interpreter with ``MHS_DISABLE_NATIVE=1``, the package's own switch; the
run fails when the native library did not load in this process, since the
comparison and the timings would then both be of the NumPy path.

Run as a script, it computes the NumPy-path signatures of a sample file:
``python3 perfbench/kernel.py SAMPLE.npz OUT.npy K T SEED``.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

import numpy as np

REPS = 5


def _signatures(texts: list[bytes], k: int, t: int, seed: int) -> np.ndarray:
    from minhashsketch_spark.core.shingles import (
        distinct_shingles, get_family, minhash_matrix)

    a, b = get_family(t, seed)
    return np.stack([minhash_matrix(distinct_shingles(x, k), a, b) for x in texts])


def microbench(texts: list[bytes], k: int, t: int, seed: int, work: str) -> dict:
    """core.* metrics of ``texts``; raises if the two MinHash paths differ."""
    from minhashsketch_spark.core import _native
    from minhashsketch_spark.core.shingles import get_family, minhash_matrix, shingle_hashes

    a, b = get_family(t, seed)
    sh, dd, mh = [], [], []
    n_set = 0
    for _ in range(REPS):
        t_sh = t_dd = t_mh = 0.0
        n_set = 0
        for x in texts:
            t0 = time.perf_counter()
            hs = shingle_hashes(x, k)
            t1 = time.perf_counter()
            xs = np.unique(hs)
            t2 = time.perf_counter()
            minhash_matrix(xs, a, b)
            t3 = time.perf_counter()
            t_sh += t1 - t0
            t_dd += t2 - t1
            t_mh += t3 - t2
            n_set += xs.shape[0]
        sh.append(t_sh)
        dd.append(t_dd)
        mh.append(t_mh)
    n = len(texts)
    native = _signatures(texts, k, t, seed)
    if _native._lib is None:
        raise RuntimeError("the native MinHash kernel did not load in the Spark driver process")
    sample = os.path.join(work, "kernel_sample.npz")
    out = os.path.join(work, "kernel_numpy.npy")
    np.savez(sample, *[np.frombuffer(x, dtype=np.uint8) for x in texts])
    env = dict(os.environ, MHS_DISABLE_NATIVE="1")
    subprocess.run([sys.executable, os.path.abspath(__file__), sample, out,
                    str(k), str(t), str(seed)], check=True, env=env, timeout=170)
    if not np.array_equal(native, np.load(out)):
        raise RuntimeError("native and NumPy MinHash signatures differ")
    mh_s = statistics.median(mh)
    return {
        "core.shingle_us_per_doc": statistics.median(sh) / n * 1e6,
        "core.dedup_us_per_doc": statistics.median(dd) / n * 1e6,
        "core.minhash_us_per_doc": mh_s / n * 1e6,
        "core.ns_per_shingle_fn": mh_s / (n_set * t) * 1e9,
    }


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sample_path, out_path, k_, t_, seed_ = sys.argv[1:6]
    with np.load(sample_path) as z:
        sample_texts = [z[f"arr_{i}"].tobytes() for i in range(len(z.files))]
    np.save(out_path, _signatures(sample_texts, int(k_), int(t_), int(seed_)))
