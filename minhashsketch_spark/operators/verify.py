"""Candidate verification: MinHash estimate (reference semantics) + exact
Jaccard.

* The **MinHash estimate** is the reference's estimator ``computeSim``
  (``/root/reference/src/Hash.cu:65-86``): per hash function, the match
  count between the two m-lists over t*m. With m == 1 this reduces to the
  fraction of equal signature components — computed entirely JVM-side with
  ``zip_with`` (equality only, so two's-complement storage is safe;
  SURVEY.md H1), keeping the hot path inside whole-stage codegen. Quirk Q2
  (UINT64_MAX padding matches itself) is preserved: two empty docs have
  all-UINT64_MAX signatures, which compare equal.
* **Exact Jaccard** (north_star: "exact Jaccard verification filters
  pairs") attaches both texts to the (gated) estimate spine and runs ONE
  ``mapInArrow`` over (url_a, url_b, est_sim, text_a, text_b): per Arrow
  batch it shingles both sides (``core.shingles.distinct_shingles``, once
  per distinct text in the batch) and counts every pair's intersection with
  one native sorted merge (``core.shingles.intersect_count``). Shingle
  sets never become a Spark column. The map emits the three set sizes, so
  jaccard and containment are plain arithmetic on materialized columns — a
  filter pushed below them can never copy the intersection into a join
  condition.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..core.shingles import distinct_shingles, intersect_count, utf8_views


# candidate-pair frames at or under this row count are broadcast into the
# attach joins (pairs are <<1% of the corpus by LSH design — the broadcast
# keeps the heavy signature/text frames UNSHUFFLED, guide §3.1/§8); above
# it the joins fall back to the shuffle plans (scale-safe default).  1M pair
# rows ~ 60 MB framed — comfortably within executor broadcast budgets.
BROADCAST_PAIR_LIMIT = 1_000_000


def est_prefilter_gate(cfg: PipelineConfig) -> float:
    """Safe est_sim pre-gate for exact verification: ``threshold - 6
    sigma`` where sigma is the t-sample binomial std of the estimator at
    p = threshold. A pair whose exact jaccard is >= threshold has
    P(est < gate) <= ~3e-7 (Hoeffding; ~1e-9 by the normal
    approximation). Filtering candidates below the gate BEFORE the
    shingle recompute + intersect is therefore exact for ``is_dup`` (it
    thresholds est_sim itself, and the gate is strictly below threshold)
    but probabilistic for consumers that threshold on ``jaccard``: each
    pair with jaccard >= threshold is dropped with probability <= ~3e-7 —
    the same recall class as LSH banding itself. At the flagship
    t=128/thr=0.7 the gate is ~0.457 and kills the ~98% of LSH band
    collisions that are random shingle matches from a small vocabulary; at
    small t the margin widens automatically (t=16 -> gate ~0.01, i.e. no
    risky pruning)."""
    import math

    sigma = math.sqrt(cfg.threshold * (1.0 - cfg.threshold) / cfg.t)
    return max(0.0, cfg.threshold - 6.0 * sigma)


def minhash_estimate(pairs: DataFrame, signatures: DataFrame,
                     cfg: PipelineConfig) -> DataFrame:
    """(url_a, url_b) + signatures -> + est_sim (reference estimator).

    m == 1 only: positional zip_with equality IS the two-pointer match
    count when each list has one element. For m > 1 use
    ``minhash_estimate_m`` (positional equality would undercount — see
    src/Hash.cu:65-78, the pointers advance independently)."""
    if cfg.m != 1:
        raise ValueError("minhash_estimate is the m==1 fast path; "
                         "use minhash_estimate_m for m > 1")
    sig_a = signatures.select(F.col("url").alias("url_a"), F.col("sig").alias("sig_a"))
    sig_b = signatures.select(F.col("url").alias("url_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sig_a, "url_a").join(sig_b, "url_b")
        .withColumn(
            "matches",
            F.aggregate(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            ),
        )
        # divide by the actual signature length, not cfg.t*cfg.m — immune to
        # a config/signature mismatch (they are asserted equal for m==1)
        .withColumn("est_sim", F.col("matches") / F.size("sig_a"))
        .drop("sig_a", "sig_b")
    )


def minhash_estimate_m(pairs: DataFrame, signatures: DataFrame,
                       cfg: PipelineConfig) -> DataFrame:
    """General-m reference estimator over candidate pairs: per function a
    two-pointer intersection of the two sorted bottom-m lists
    (``src/Hash.cu:65-86``, quirks Q2/Q6 preserved via core.compute_sim),
    summed over t, / (t*m). Pandas UDF over the (tiny) candidate pair set —
    candidates are <<1% of the corpus at scale, so Python here is off the
    hot path."""
    from ..core.sketch import compute_sim

    t, m = cfg.t, cfg.m
    sig_a = signatures.select(F.col("url").alias("url_a"), F.col("sig").alias("sig_a"))
    sig_b = signatures.select(F.col("url").alias("url_b"), F.col("sig").alias("sig_b"))
    joined = pairs.join(sig_a, "url_a").join(sig_b, "url_b")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            est = [
                compute_sim(
                    np.asarray(sa, dtype=np.int64).view(np.uint64).reshape(t, m),
                    np.asarray(sb, dtype=np.int64).view(np.uint64).reshape(t, m))
                for sa, sb in zip(pdf["sig_a"].values, pdf["sig_b"].values)
            ]
            yield pd.DataFrame({"url_a": pdf["url_a"].values,
                                "url_b": pdf["url_b"].values,
                                "est_sim": np.asarray(est, dtype=np.float64)})

    return joined.select("url_a", "url_b", "sig_a", "sig_b").mapInPandas(
        gen, schema="url_a string, url_b string, est_sim double")


def verified_pairs(pairs: DataFrame, signatures: DataFrame, docs: DataFrame,
                   cfg: PipelineConfig, url_col: str = "url",
                   text_col: str = "text",
                   checkpoint_sigs: bool = True,
                   with_containment: bool = False,
                   checkpoint_pairs: bool | None = True,
                   est_gate: float | None = None) -> DataFrame:
    """Full verification: est_sim (reference estimator) + exact jaccard.

    Output: (url_a, url_b, est_sim, jaccard, is_dup) where is_dup applies
    ``cfg.threshold`` to the *reference estimator* — the semantics the
    recall metric is defined against (BASELINE.md).

    ``with_containment`` adds (containment_a, containment_b) =
    |A∩B|/|A|, |A∩B|/|B| — the ASYMMETRIC overlap: a short quote embedded
    in a long page has low jaccard but containment_a ~ 1. Costs nothing
    extra (the per-pair intersection count is computed either way); note
    LSH candidate generation targets RESEMBLANCE, so low-jaccard/
    high-containment pairs outside the candidate set are the substring
    operator's job (operators.substring), not this one's.

    ``checkpoint_sigs=False`` when the signature frame is already
    materialized (parquet/bucketed-table-backed, or checkpointed by the
    caller): localCheckpoint'ing e.g. a full index's signatures here would
    copy the whole index into executor storage. ``checkpoint_pairs``:
    True materializes the pairs here, False says they already are
    (a parquet-backed candidate table, or checkpointed by the caller);
    either way their count is ~free and sizes the joins below. None says
    the pairs are a lazy plan over inputs that are already
    candidate-slice-sized (the streaming micro-batch): nothing is
    materialized or counted, and AQE sizes the joins.

    Join strategy (guide §3.1/§8): the pair set is <<1% of the corpus by
    LSH design. When the counted pairs are within ``BROADCAST_PAIR_LIMIT``
    rows, the pair spine is BROADCAST into the signature attach and the
    (gated) estimate spine into the text attach, so neither signatures nor
    texts are shuffled for the a-side attaches; the planner picks the
    b-side joins. The gated spine is a subset of the counted pairs, so the
    same bound holds for it. Above the limit every join falls back to the
    shuffle plans. The estimate spine has one consumer (the text attach),
    so it is never materialized.

    ``est_gate``: optional est_sim pre-filter applied BEFORE the exact
    verification (text attach, shingling, intersection) — pairs below the
    gate are dropped from the OUTPUT entirely, so only pass a gate when
    every downstream consumer filters on ``jaccard >= threshold`` or
    ``is_dup`` and the gate is a safe margin below threshold (use
    ``est_prefilter_gate(cfg)``). With that gate ``is_dup`` is unchanged
    exactly; a consumer thresholding ``jaccard`` loses each qualifying
    pair with probability <= ~3e-7 (the tail bound in
    ``est_prefilter_gate``). The gate is the single biggest verification
    win on small-vocabulary corpora: ~98% of LSH candidates are random
    band collisions whose exact jaccard is nowhere near threshold, and
    gating them skips their text attach and shingling (measured
    8.5 -> 3.4 s same-session at 50k docs / 127k candidates). Callers that
    need sub-threshold rows (containment mining, estimator calibration)
    must leave it None.
    """
    if checkpoint_sigs:
        signatures = signatures.localCheckpoint()  # read by both attach sides
    if checkpoint_pairs:
        pairs = pairs.localCheckpoint()  # computed once for the count and the estimate
    # materialized pairs count from executor storage or parquet footers
    small = checkpoint_pairs is not None and pairs.count() <= BROADCAST_PAIR_LIMIT
    est = minhash_estimate(F.broadcast(pairs) if small else pairs,
                           signatures, cfg)
    # a clamped/zero gate filters nothing
    if est_gate is not None and est_gate > 0.0:
        est = est.filter(F.col("est_sim") >= F.lit(est_gate))
    if small:
        # pair-sized and light (urls + est_sim): keeps the a-side texts unshuffled
        est = F.broadcast(est)
    text_a = docs.select(F.col(url_col).alias("url_a"), F.col(text_col).alias("text_a"))
    text_b = docs.select(F.col(url_col).alias("url_b"), F.col(text_col).alias("text_b"))
    k = cfg.k

    # a closure, not a module-level function: cloudpickle ships a closure
    # by value, so a Python worker imports only core.shingles (~10 ms), not
    # this Spark-side module (~0.4 s to import in a fresh worker)
    def count(batches) -> "Iterator[pa.RecordBatch]":
        """(url_a, url_b, est_sim, text_a, text_b) -> (url_a, url_b,
        est_sim, n_a, n_b, inter): both distinct-shingle set sizes and the
        intersection size of every pair; the texts are dropped."""
        import pyarrow as pa

        def shingled(texts, memo: dict) -> tuple[np.ndarray, np.ndarray]:
            """One side's sets, ascending uint64, concatenated in row order
            with their offsets. A text repeated in the batch (a doc with
            many partners) is shingled once."""
            sets = []
            for text in utf8_views(texts):
                key = text.tobytes()
                if key not in memo:
                    memo[key] = distinct_shingles(text, k)
                sets.append(memo[key])
            offs = np.zeros(len(sets) + 1, dtype=np.int64)
            offs[1:] = np.cumsum([xs.shape[0] for xs in sets], dtype=np.int64)
            return (np.concatenate(sets) if sets else np.empty(0, np.uint64)), offs

        for batch in batches:
            memo: dict = {}
            va, oa = shingled(batch.column(3), memo)
            vb, ob = shingled(batch.column(4), memo)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), batch.column(2),
                 pa.array(np.diff(oa)), pa.array(np.diff(ob)),
                 pa.array(intersect_count(va, oa, vb, ob))],
                names=["url_a", "url_b", "est_sim", "n_a", "n_b", "inter"])

    counted = (
        est.join(text_a, "url_a").join(text_b, "url_b")
        .select("url_a", "url_b", "est_sim", "text_a", "text_b")
        .mapInArrow(count,
                    schema="url_a string, url_b string, est_sim double, "
                           "n_a bigint, n_b bigint, inter bigint")
    )
    inter = F.col("inter").cast("double")
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    out = (
        counted
        .withColumn("jaccard",
                    F.when(union > 0, inter / union.cast("double"))
                    .otherwise(F.lit(1.0)))
        .withColumn("is_dup", F.col("est_sim") >= F.lit(cfg.threshold))
    )
    cols = ["url_a", "url_b", "est_sim", "jaccard", "is_dup"]
    if with_containment:
        for side in ("a", "b"):
            n = F.col(f"n_{side}")
            out = out.withColumn(
                f"containment_{side}",
                F.when(n > 0, inter / n.cast("double")).otherwise(F.lit(1.0)))
        cols += ["containment_a", "containment_b"]
    return out.select(*cols)
