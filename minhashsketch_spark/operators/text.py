"""Text-analysis operators for a large-scale training-data pipeline:
token counting, quality scoring, language ID, document fingerprinting.

All hot paths are JVM-side built-ins (whole-stage codegen); the winnowing
fingerprint (rolling-hash minima — the direct generalization of the
reference's bottom-m over rolling k-mer hashes, src/MinhashSketch.cu:48-125)
is a vectorized Arrow UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.shingles import shingle_hashes

# whitespace-token count; empty/blank text counts 0
def _token_count(col):
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


# BPE-ish pre-tokenizer (GPT-2-style shape, restricted to the Java/RE2-
# shared subset — no lookahead, so the trailing-space merge is simplified
# to one-\s-per-token): contraction suffix | optional-space word |
# optional-space number | optional-space punct run | single whitespace.
# Counting its matches approximates an LLM tokenizer's token count far
# better than whitespace splits (punct and contractions split off).
BPE_RE = r"'[A-Za-z]{1,2}| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s"


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_chars, n_tokens, n_bpe_tokens, avg_token_len) — whitespace
    tokenization plus the BPE-ish regex count (``BPE_RE``), the pair of
    numbers a training-data dashboard actually wants."""
    t = F.trim(F.col(text_col))
    n_tokens = _token_count(F.col(text_col))
    # chars in tokens = length minus whitespace
    token_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    return docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.regexp_count(t, F.lit(BPE_RE)).cast("bigint").alias("n_bpe_tokens"),
        F.when(n_tokens > 0, F.round(token_chars.cast("double") / n_tokens, 4))
        .otherwise(F.lit(0.0)).alias("avg_token_len"),
    )


# digit / punctuation character counts via translate() (delete the class,
# diff the lengths): count-identical to the r5 regexp_replace("[^...]","")
# spelling but a straight char-map instead of a regex engine pass — the
# quality score runs over every byte of the corpus (guide §1.2 step 2)
def _n_digits(text):
    return F.length(text) - F.length(F.translate(text, "0123456789", ""))


def _n_punct(text):
    return F.length(text) - F.length(F.translate(text, "!.,;:?", ""))


def quality_score_expr(text_col: str = "text"):
    """The composite 0-100 quality score as a pure Column expression — so a
    filter can apply it inline on a wide row (one scan, no join-back; the
    operator below is the standalone projection form)."""
    text = F.col(text_col)
    n = F.length(text)
    digits = _n_digits(text)
    punct = _n_punct(text)
    n_tokens = _token_count(text)
    return (
        F.when(n == 0, F.lit(0.0))
        .otherwise(
            F.round(
                100.0
                * (1.0 - digits.cast("double") / n)
                * (1.0 - punct.cast("double") / n)
                * F.least(F.lit(1.0), n_tokens.cast("double") / 100.0),
                4,
            )
        )
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: length, digit ratio, punct ratio, stopword
    hits, plus a composite 0-100 score. All JVM-side string built-ins."""
    text = F.col(text_col)
    n = F.length(text)
    digits = _n_digits(text)
    punct = _n_punct(text)
    the_hits = F.size(F.split(F.concat(F.lit(" "), text, F.lit(" ")), r"\sthe\s")) - 1
    score = quality_score_expr(text_col)
    return docs.select(
        F.col(id_col),
        n.alias("n_chars"),
        digits.alias("n_digits"),
        punct.alias("n_punct"),
        the_hits.alias("stopword_hits"),
        score.alias("quality_score"),
    )


def _lang_hit_exprs(text_col: str = "text"):
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))

    def hits(marker: str):
        return F.size(F.split(padded, marker)) - 1

    en = hits(r" the ") + hits(r" and ") + hits(r" of ")
    de = hits(r" der ") + hits(r" und ") + hits(r" die ")
    zh = F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", ""))
    return en, de, zh


def detected_lang_expr(text_col: str = "text"):
    """The language decision as a pure Column expression (inline-filter
    form of language_id; ties broken en > de > zh)."""
    en, de, zh = _lang_hit_exprs(text_col)
    return (
        F.when((en >= de) & (en >= zh) & (en > 0), "en")
        .when((de >= zh) & (de > 0), "de")
        .when(zh > 0, "zh")
        .otherwise("unknown")
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic n-gram/stopword language heuristic (en/de/zh/unknown).

    Counts language-marker substrings; ties broken en > de > zh. A real
    deployment would swap in fastText — the *operator shape* (narrow map,
    no shuffle) is what matters at 100 TB.
    """
    en, de, zh = _lang_hit_exprs(text_col)
    return docs.select(
        F.col(id_col),
        en.alias("en_hits"), de.alias("de_hits"), zh.alias("zh_hits"),
        detected_lang_expr(text_col).alias("detected_lang"),
    )


def compression_ratio(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", level: int = 6,
                      id_type: str = "bigint") -> DataFrame:
    """DEFLATE compression ratio per document — the quality heuristic the
    public crawl pipelines (Gopher's repetition family, Dolma/RedPajama
    buckets) use to catch machine-generated/looping text: highly
    compressible pages are boilerplate or repetition, incompressible ones
    are often binary junk; natural prose sits in a mid band.

    (id, n_raw, n_compressed, ratio_x1000) with the ratio as an INTEGER
    (floor(1000 * compressed / raw); 1000 for empty docs) — zlib at a
    fixed level is bit-deterministic, so the driver oracle recomputes the
    identical numbers with the same stdlib. Arrow-batched mapInPandas:
    compression is the textbook can't-express-in-SQL step, batched so no
    per-row Python pickling."""
    import pandas as pd
    import zlib as _zlib

    from ..partitioning import ensure_parallelism

    def gen(batches):
        for pdf in batches:
            raw, comp = [], []
            for t in pdf[text_col].values:
                b = (t or "").encode("utf-8")
                raw.append(len(b))
                comp.append(len(_zlib.compress(b, level)))
            out = pd.DataFrame({
                "_id": pdf[id_col].values,
                "n_raw": raw,
                "n_compressed": comp,
            })
            out["ratio_x1000"] = [
                (c * 1000) // r if r else 1000 for r, c in zip(raw, comp)]
            yield out

    return (ensure_parallelism(docs.select(id_col, text_col))
            .mapInPandas(gen, schema=(f"_id {id_type}, n_raw bigint, "
                                      "n_compressed bigint, ratio_x1000 bigint"))
            .withColumnRenamed("_id", id_col))


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (the Gopher-style quality filters
    for crawl text): duplicate-token fraction and duplicate-bigram fraction
    (1 - distinct/total). Entirely narrow — split/array_distinct on the
    token array, no explode, no shuffle: the cheapest possible plan shape
    for a per-row filter at 100 TB."""
    t = F.trim(F.col(text_col))
    toks = F.split(t, r"\s+")

    def frac(total, distinct):
        return F.round(1.0 - distinct.cast("double") / total, 6)

    # materialize the token array in its OWN projection before the bigram
    # transform: a lambda referencing the raw split() expression re-runs
    # the split once per element — O(n^2) splits per doc, measured 13x
    # slower at sf0.1 (6 s -> 0.4 s for the bigram build)
    base = docs.filter(F.length(t) > 0).select(F.col(id_col), toks.alias("_t"))
    tcol = F.col("_t")
    # guard single-token docs: sequence(0, -1) would infer step -1 and emit
    # a bogus index 0 (ANSI element_at(0) throws)
    bigrams = F.when(
        F.size(tcol) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tcol) - 2),
            lambda i: F.concat_ws(" ", F.element_at(tcol, i + 1),
                                  F.element_at(tcol, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = base.select(F.col(id_col), tcol, bigrams.alias("_b"))
    n_tok = F.size(F.col("_t"))
    n_distinct = F.size(F.array_distinct(F.col("_t")))
    n_bg = F.size(F.col("_b"))
    n_bg_distinct = F.size(F.array_distinct(F.col("_b")))
    return base.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        frac(n_tok, n_distinct).alias("dup_token_frac"),
        F.when(n_bg > 0, frac(n_bg, n_bg_distinct))
        .otherwise(F.lit(0.0)).alias("dup_bigram_frac"),
    )


# corpora under BOTH limits get their aggregated (doc, term, tf) frame
# eagerly materialized inside tfidf_top_terms so the corpus is scanned
# once for tf + df; anything larger (or of unknowable width) keeps the
# lazy two-scan plan. The doc limit alone would mis-scale on wide
# documents (tf rows grow with docs x distinct-terms-per-doc), so the
# file-backed byte size bounds the token volume too: 256 MB of input
# (compressed) ~ <=1 GB of text ~ <=200M tokens, a few GB of (doc, term,
# tf) rows at worst — bounded executor storage either way.
TFIDF_EAGER_DOC_LIMIT = 2_000_000
TFIDF_EAGER_INPUT_BYTES = 256 * 1024 * 1024


def _input_within(df: DataFrame, limit: int) -> bool:
    """True when ``df`` is file-backed and its files total at most ``limit``
    bytes on disk — same Hadoop-FS probe as pipeline.input_fingerprint.
    The probe is one serial driver round trip per file, so it stops at the
    first file that takes the total past ``limit``; a frame that is not
    file-backed, or whose size cannot be read, is not within any limit."""
    try:
        files = df.inputFiles()
    except Exception:
        return False
    if not files:
        return False
    sc = df.sparkSession.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    jpath = sc._jvm.org.apache.hadoop.fs.Path
    total = 0
    for f in files:
        try:
            p = jpath(f)
            total += p.getFileSystem(hconf).getFileStatus(p).getLen()
        except Exception:
            return False
        if total > limit:
            return False
    return True


def tfidf_top_terms(docs: DataFrame, k: int = 3, id_col: str = "doc_id",
                    text_col: str = "text", n_docs: int | None = None) -> DataFrame:
    """Top-k tf-idf terms per document: tf = in-doc occurrences, idf = the
    raw inverse document frequency N/df (the ratio form, not its log — one
    integer-exact multiply + one correctly-rounded IEEE division, so the
    ordering is bit-identical across engines; libm ln() is NOT correctly
    rounded and would let a last-ulp difference flip a rank between Spark
    and the oracle). Output carries only integers (doc_id, rank, term, tf,
    df) — the score orders the rank but never crosses the engine boundary;
    mathematically equal scores order by term.

    Plan: explode -> (doc, token) count -> token df join -> per-doc top-k
    window. At scale: two hash-agg shuffles over (doc, token) / token plus
    one window shuffle on doc — df is a corpus-wide dimension that stays
    columnar (no driver collect).

    ``n_docs`` is the idf scalar N. Pass it explicitly (from a stage
    manifest, parquet footer metadata, or the catalog) — at 100 TB a
    ``count()`` here is a second full pass over the corpus for one number.
    The ``None`` fallback counts, for ad-hoc use on small tables only."""
    from ..partitioning import ensure_parallelism

    if n_docs is None:
        n_docs = docs.count()
    t = F.trim(F.col(text_col))
    toks = (
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
        .filter(F.length(t) > 0)
        .select(F.col(id_col), F.explode(F.split(t, r"\s+")).alias("term"))
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # tf has two consumers (the df aggregation and the join back) and the
    # identical-subtree exchange is NOT reused by the planner (the plans
    # show two full corpus scans). Under the doc-count AND input-bytes
    # gates, eagerly materialize the aggregated tf so the corpus is
    # scanned/exploded once; otherwise stay lazy — executor storage must
    # never hold a corpus-scale (doc, term) frame (same gate pattern as
    # the broadcast limit in substring.py). Values are unchanged either way.
    # the doc-count test first: the byte probe stats every input file.
    # Kept: at sf0.1 eager beat lazy in 4 of 5 alternating best-of-3 rounds (~0.15 s).
    if (n_docs <= TFIDF_EAGER_DOC_LIMIT
            and _input_within(docs, TFIDF_EAGER_INPUT_BYTES)):
        tf = tf.localCheckpoint()
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    score = (F.col("tf").cast("double") * F.lit(float(n_docs))) / F.col("df")
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(F.desc(score), F.asc("term"))
    return (
        tf.join(df, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(id_col), "rank", "term", "tf", "df")
    )


def md5_fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-content fingerprint (md5) — shared by Spark & DuckDB for oracle
    parity; the scale path for exact dedup."""
    return docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))


def winnowing_fingerprint(docs: DataFrame, k: int = 8, w: int = 16,
                          id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Winnowing (Schleimer et al. 2003): per sliding window of w shingle
    hashes keep the minimum — a locality-preserving fingerprint set.
    Vectorized NumPy over Arrow batches; generalizes the reference's
    rolling-hash + block-minimum structure (O4+O11)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = []
            for text in pdf[text_col].values:
                hs = shingle_hashes((text or "").encode("utf-8", "surrogatepass"), k)
                if hs.shape[0] == 0:
                    fps.append(np.empty(0, dtype=np.int64))
                    continue
                if hs.shape[0] <= w:
                    fps.append(np.unique(hs.min(keepdims=True)).view(np.int64))
                    continue
                win = np.lib.stride_tricks.sliding_window_view(hs, w)
                fps.append(np.unique(win.min(axis=1)).view(np.int64))
            yield pd.DataFrame({"doc_id": pdf[id_col].values, "fingerprint": fps})

    from ..partitioning import ensure_parallelism

    id_type = dict(zip(docs.columns, [f.dataType.simpleString() for f in docs.schema.fields]))[id_col]
    schema = f"doc_id {id_type}, fingerprint array<bigint>"
    return ensure_parallelism(
        docs.select(F.col(id_col), F.col(text_col))).mapInPandas(gen, schema=schema)
