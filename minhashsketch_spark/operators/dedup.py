"""Deduplication family for training-data pipelines:

* exact dedup        — md5 hash-groupBy (one shuffle on a 128-bit key)
* n-gram Jaccard     — token-trigram explode + self-equi-join (SQL-expressible)
* SimHash            — 64-bit sign-aggregated token hashes, Hamming buckets
* embedding near-dup — cosine >= threshold via the similarity operator

MinHash+LSH lives in signatures.py/lsh.py (the flagship path).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups: (fingerprint, n_docs, keeper_id).

    keeper = min id; scale: single hash-agg shuffle, map-side partial agg.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def trigrams(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, trigram) — distinct whitespace-token trigrams per doc.

    The token array is materialized in its own projection BEFORE the
    transform(): referencing the raw split() expression inside the lambda
    re-evaluates the split once per element (O(n^2) splits per doc —
    measured 13x on the bigram analogue at sf0.1)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    from ..partitioning import ensure_parallelism

    base = (
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .filter(F.size(toks) >= 3)
        .select(F.col(id_col), toks.alias("_t"))
    )
    tcol = F.col("_t")
    tg = F.transform(
        F.sequence(F.lit(0), F.size(tcol) - 3),
        lambda i: F.concat_ws(" ", F.element_at(tcol, i + 1),
                              F.element_at(tcol, i + 2), F.element_at(tcol, i + 3)),
    )
    return base.select(F.col(id_col), F.explode(F.array_distinct(tg)).alias("trigram"))


def ngram_jaccard_pairs(docs: DataFrame, min_jaccard: float = 0.5,
                        max_df: int = 50,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Trigram-set Jaccard for all doc pairs sharing >= 1 *rare* trigram.

    Pure relational plan (explode -> self-join -> agg), fully
    SQL-expressible for the DuckDB oracle. At scale the equi-join on
    ``trigram`` replaces the quadratic all-pairs scan; trigrams appearing in
    more than ``max_df`` docs are excluded from the *join* (boilerplate
    carries no signal and its pair expansion is O(df^2) — same skew story
    as LSH hot buckets) while still counting toward each doc's set size, so
    the Jaccard denominator is exact and only pairs sharing nothing but
    ultra-common trigrams are missed. No size gate or count() probe picks
    the join plans: AQE sizes them at runtime.
    """
    # shuffle 8-byte hashed keys instead of raw trigram strings (the join on
    # trigrams is the widest shuffle of the dedup family; xxhash64 collisions
    # across distinct trigrams are ~df^2/2^65 — vanishing, and only ever
    # *merge* two trigrams' postings); keys are internal, output rows only
    # carry ids/counts so the DuckDB oracle (which joins on strings) agrees.
    # consumed 4x below (sizes, doc_freq, both join sides): an EAGER
    # localCheckpoint materializes the exploded table exactly once — a lazy
    # persist lets the consumers race to compute the same partitions, which
    # measurably destabilizes the self-join under many-threaded schedulers
    tg = (trigrams(docs, id_col, text_col)
          .select(F.col(id_col), F.xxhash64("trigram").alias("tgh"))
          .localCheckpoint())
    sizes = tg.groupBy(id_col).agg(F.count("*").alias("n_tg"))
    doc_freq = tg.groupBy("tgh").agg(F.count("*").alias("df"))
    rare = tg.join(doc_freq.filter(F.col("df") <= max_df).select("tgh"), "tgh")
    a = rare.select(F.col(id_col).alias("id_a"), "tgh")
    b = rare.select(F.col(id_col).alias("id_b"), "tgh")
    inter = (
        a.join(b, "tgh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_tg").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_tg").alias("n_b"))
    raw = (F.col("n_common").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    # filter on the unrounded ratio, round only in the final select — the
    # oracle's WHERE-on-raw / SELECT-rounded structure
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .filter(raw >= min_jaccard)
        .withColumn("jaccard", F.round(raw, 6))
        .select("id_a", "id_b", "n_common", "jaccard")
    )


SIMHASH_BITS = 60


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over whitespace tokens (Charikar 2002): sum token-hash
    sign vectors, take the sign per bit. Default implementation: a
    ZERO-SHUFFLE vectorized Arrow map.

    SimHash is a per-document function, so the right 100 TB plan is a
    narrow map — no (doc, token) shuffle, no 60-column hash-agg (whose
    janino compile alone costs seconds cold; r3 bench). Per Arrow batch:
    tokenize (exact Java-regex \\s+ semantics, split keeping leading AND
    trailing empty fields — Spark's split limit=-1), count distinct tokens
    (web text repeats heavily), md5 each distinct token once through a
    batch-level vocab cache, then one (n_distinct x 60) sign-matrix
    matvec with the counts. Bit-identical to ``simhash_jvm`` (the
    SQL-portable spelling the DuckDB oracle mirrors) — pinned by pytest
    on adversarial whitespace fixtures and the test corpus.
    """
    import hashlib
    import re

    from ..partitioning import ensure_parallelism

    # Java \s exactly: [ \t\n\x0B\f\r] — Python's \s would also match
    # Unicode whitespace (\xa0 etc.) and silently diverge from the JVM path
    splitter = re.compile(r"[ \t\n\x0B\f\r]+")
    bit_w = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            ids, out = [], []
            for doc_id, text in zip(pdf[id_col].values, pdf[text_col].values):
                t = (text or "").strip(" ")  # Spark trim(): spaces only
                if not t:
                    continue  # no row, as in the agg path
                counts = Counter(splitter.split(t))
                uniq = list(counts)
                hs = np.empty(len(uniq), dtype=np.uint64)
                for i, tok in enumerate(uniq):
                    h = cache.get(tok)
                    if h is None:
                        h = int(hashlib.md5(
                            tok.encode("utf-8", "surrogatepass")).hexdigest()[:15], 16)
                        cache[tok] = h
                    hs[i] = h
                signs = ((hs[:, None] >> bit_w[None, :]) & 1).astype(np.int64) * 2 - 1
                votes = np.fromiter(counts.values(), dtype=np.int64,
                                    count=len(uniq)) @ signs
                sh = int(((votes > 0).astype(np.uint64) << bit_w).sum())
                ids.append(doc_id)
                out.append(sh)  # < 2**60, fits the signed bigint
            yield pd.DataFrame({"doc_id": ids,
                                "simhash": np.asarray(out, dtype=np.int64)})

    id_type = dict(zip(docs.columns,
                       [f.dataType.simpleString() for f in docs.schema.fields]))[id_col]
    return ensure_parallelism(
        docs.select(F.col(id_col), F.col(text_col))).mapInPandas(
        gen, schema=f"doc_id {id_type}, simhash bigint")


def simhash_jvm(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The SQL-portable spelling of ``simhash`` — entirely JVM-side
    built-ins, mirrored expression-for-expression by the DuckDB oracle
    (__spark_entry__._simhash_oracle): explode tokens, pre-aggregate
    ``(doc, token) -> count`` (map-side partial agg collapses repeats
    before the shuffle), hash each *distinct* token per doc once with the
    first 15 hex chars of md5 (60 bits), then one hash-agg per doc with 60
    count-weighted conditional sums. A token with count n votes ±n per bit
    — identical by construction to the one-row-per-occurrence vote
    (Charikar's count-weighted form). Docs with no tokens produce no row.

    Kept as the parity anchor: the Arrow implementation must equal this
    bit-for-bit (pytest), and this must equal the oracle SQL. Costs two
    shuffles + a 60-aggregate codegen compile, which is why it is no
    longer the default.
    """
    from ..partitioning import ensure_parallelism

    t = F.trim(F.col(text_col))
    toks = (
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
        .filter(F.length(t) > 0)
        .select(F.col(id_col), F.explode(F.split(t, r"\s+")).alias("token"))
        .groupBy(id_col, "token").agg(F.count("*").alias("n"))
        .withColumn("h", F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("bigint"))
    )
    votes = [
        F.sum((F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1) * F.col("n")).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    terms = [
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    ]
    # balanced addition tree, not a 60-deep left-nested chain: janino
    # compiles the deep chain ~2.3x slower (measured 6.3 s -> 2.8 s cold at
    # sf0.1); integer addition is associative so the bits are identical
    while len(terms) > 1:
        terms = [terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
                 for i in range(0, len(terms), 2)]
    return agg.select(F.col(id_col).alias("doc_id"),
                      terms[0].cast("bigint").alias("simhash"))


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale path: block on 4 x 15-bit sub-keys (pigeonhole: any pair within
    Hamming 3 differs in at most 3 blocks, so it shares at least one exact
    15-bit block) -> equi-join per block, then exact popcount filter. No
    quadratic scan. Recall is exactly 1 for max_hamming <= 3; larger radii
    need more blocks (pigeonhole: blocks > max_hamming).
    """
    sim = sim.localCheckpoint()  # self-join: materialize the input once
    # ONE narrow explode builds all 4 block keys per row — a 4-way
    # union-of-selects multiplies the scan's partitions by 4 per join side
    # (measured 128 near-empty tasks at sf0.1, pure scheduling overhead)
    keyed = sim.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(blk).alias("blk"),
                F.shiftrightunsigned(F.col("simhash"), blk * 15)
                .bitwiseAND(F.lit(0x7FFF)).alias("key"))
            for blk in range(4)])).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.blk").alias("blk"),
             F.col("bk.key").alias("key"))
    a = keyed.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "key")
    b = keyed.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "key")
    # the exact popcount filter runs BEFORE the pair dedup: it's a cheap
    # JVM expression on the join output, and it shrinks the dedup shuffle
    # to the true near-pairs only
    pairs = (
        a.join(b, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs
