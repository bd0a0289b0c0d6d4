"""Exact-substring duplicate pass (north_star "optional suffix-array pass
for exact substring duplicates").

Spark-first formulation instead of a literal distributed suffix array:

1. candidates: winnowing fingerprints (Schleimer et al. 2003 — any shared
   substring of length >= w+k-1 shares at least one fingerprint) exploded
   and self-joined, counting shared fingerprint values;
2. verification: exact longest-common-substring length per candidate pair
   via binary search over rolling-hash n-gram sets (O((n+m) log n) per
   pair) in a vectorized Arrow UDF — only the <<1% candidate pairs pay it.

Output: (url_a, url_b, shared_fingerprints, lcs_len, is_substring_dup).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.shingles import gram_hashes
from .text import winnowing_fingerprint

# candidate pairs at or under this row count are broadcast into the text
# attaches (1M pair rows ~ 60 MB framed); above it the joins shuffle
BROADCAST_PAIR_LIMIT = 1_000_000


def _lcs_len(b1: bytes, b2: bytes, lo: int = 1) -> int:
    """Longest common substring length via binary search + rolling-hash
    n-gram set intersection (hash collisions make this an upper bound with
    probability ~n*m/2^64 — negligible)."""
    hi = min(len(b1), len(b2))
    if hi < lo:
        return 0

    def shares(L: int) -> bool:
        # gram_hashes == shingle_hashes values, but O(n) for any L —
        # the binary search probes L in the hundreds
        h1 = gram_hashes(b1, L)
        h2 = gram_hashes(b2, L)
        if h1.shape[0] == 0 or h2.shape[0] == 0:
            return False
        return np.intersect1d(h1, h2).shape[0] > 0

    if not shares(lo):
        return 0
    best = lo
    lo += 1
    while lo <= hi:
        mid = (lo + hi) // 2
        if shares(mid):
            best = mid
            lo = mid + 1
        else:
            hi = mid - 1
    return best


def substring_dup_pairs(docs: DataFrame, k: int = 8, w: int = 16,
                        min_shared: int = 2, min_lcs: int = 64,
                        max_df: int = 64,
                        id_col: str = "url", text_col: str = "text") -> DataFrame:
    """Pairs of docs sharing a long exact substring.

    Scale notes: the fingerprint join is the same shuffle shape as LSH.
    Hot fingerprints (boilerplate snippets present in > ``max_df`` docs)
    are excluded from the join — their pair expansion is O(df^2) and a
    snippet shared by thousands of docs is template, not duplication.
    Verification (rolling-hash LCS) only runs on surviving candidates.
    The counted candidates are broadcast into the text attaches under
    ``BROADCAST_PAIR_LIMIT``: at 50k docs (k=32) this gate ran 178.5 s
    against 190.2 s for AQE alone.
    """
    fp = winnowing_fingerprint(docs, k=k, w=w, id_col=id_col, text_col=text_col)
    # eager localCheckpoint: df-count + both join sides consume this — a
    # lazy persist lets them race to compute the winnowing UDF partitions
    exploded = fp.select(F.col("doc_id").alias(id_col),
                         F.explode("fingerprint").alias("fp")).localCheckpoint()
    doc_freq = exploded.groupBy("fp").agg(F.count("*").alias("df"))
    # df = 1 fingerprints (the vast majority on real text) can only produce
    # self-pairs, which url_a < url_b drops anyway — pruning them before the
    # join removes most of the join input for free
    rare = exploded.join(
        doc_freq.filter((F.col("df") >= 2) & (F.col("df") <= max_df)).select("fp"),
        "fp")
    a = rare.select(F.col(id_col).alias("url_a"), "fp")
    b = rare.select(F.col(id_col).alias("url_b"), "fp")
    cands = (
        a.join(b, "fp")
        .filter(F.col("url_a") < F.col("url_b"))
        .groupBy("url_a", "url_b")
        .agg(F.count("*").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )
    ta = docs.select(F.col(id_col).alias("url_a"), F.col(text_col).alias("text_a"))
    tb = docs.select(F.col(id_col).alias("url_b"), F.col(text_col).alias("text_b"))
    # candidate pairs are <<1% of the corpus by construction (min_shared +
    # max_df pruning): materialize + count them, and when small broadcast
    # the pair spine into the text attaches so the corpus text is never
    # shuffled for the a-side; the planner picks the b-side join. Large
    # candidate sets keep the r5 shuffle-join plan (guide §3.1).
    # Kept: at 50k docs (k=32) AQE alone ran 190.2 s against the gate's 178.5 s.
    cands = cands.localCheckpoint()
    if cands.count() <= BROADCAST_PAIR_LIMIT:
        cands = F.broadcast(cands)
    joined = cands.join(ta, "url_a").join(tb, "url_b")

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lcs = [
                _lcs_len((x or "").encode("utf-8", "surrogatepass"),
                         (y or "").encode("utf-8", "surrogatepass"), lo=k)
                for x, y in zip(pdf["text_a"].values, pdf["text_b"].values)
            ]
            yield pd.DataFrame({
                "url_a": pdf["url_a"].values,
                "url_b": pdf["url_b"].values,
                "shared_fingerprints": pdf["shared_fingerprints"].values,
                "lcs_len": np.array(lcs, dtype=np.int64),
            })

    out_schema = ("url_a string, url_b string, shared_fingerprints bigint, "
                  "lcs_len bigint")
    verified = joined.mapInPandas(verify, schema=out_schema)
    return verified.withColumn("is_substring_dup", F.col("lcs_len") >= min_lcs)
