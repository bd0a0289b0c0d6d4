"""Signature stage: documents -> MinHash signatures + LSH band keys.

The Spark re-expression of the reference's ``genSig`` driver (O15,
``/root/reference/src/MinhashSketch.cu:302-379``): one ``mapInPandas`` pass
computes, per Arrow batch, every document's distinct shingle set, its t
MinHash values (k-independent a*x+b mod p family) and its LSH band keys in
vectorized NumPy. Spark partitions play the role of the reference's CUDA
chunks; the (a, b) parameter table is tiny and shipped in the closure
(equivalent of the broadcast of ``hashes_b``).

Scale notes (100 TB / 10^12 docs):
* no shuffle here — narrow map over the scan; Catalyst prunes the scan to
  (url, text) only;
* signatures are emitted as ``array<bigint>`` (uint64 stored as
  two's-complement — SURVEY.md H1: only *equality* is ever evaluated
  JVM-side, so signedness is safe);
* shingle sets are transient and never a Spark column: candidate
  verification (operators.verify) re-shingles the texts attached to its
  pair spine inside its own Arrow map.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..core.shingles import (
    band_keys_batch,
    distinct_shingles,
    get_family,
    minhash_matrix,
    utf8_views,
)

SIG_SCHEMA = ("url string, n_shingles bigint, sig array<bigint>, "
              "bands array<bigint>, sig_key bigint")


def compute_signatures(docs: DataFrame, cfg: PipelineConfig,
                       url_col: str = "url", text_col: str = "text",
                       keep_text: bool = False) -> DataFrame:
    """documents(url, text, ...) -> (url, n_shingles, sig[t], bands[b], sig_key).

    ``mapInArrow``: texts are read zero-copy out of the Arrow string
    buffers (no per-doc Python str), and the output list columns are
    assembled directly from the flat (n, t) NumPy block with one
    ``ListArray.from_arrays`` — measurably faster than the pandas round
    trip for wide array columns.

    ``keep_text=True`` appends the input text as a trailing ``text``
    column — a zero-copy Arrow passthrough. Index builds that persist
    (signature, text) rows per url previously re-joined the signatures
    against the corpus on url: a full SMJ shuffle of the text bytes for
    data that was already in the UDF's input batch (guide §2.4).
    """
    import pyarrow as pa

    if cfg.m != 1:
        raise ValueError("compute_signatures is the m==1 fast path; "
                         "use compute_signatures_m for general m")
    k, t, bands, rows = cfg.k, cfg.t, cfg.bands, cfg.rows
    a_par, b_par = get_family(t, cfg.seed)

    def gen(batches) -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            urls = batch.column(0)
            texts = batch.column(1)
            n = batch.num_rows
            sigs = np.empty((n, t), dtype=np.uint64)
            counts = np.empty(n, dtype=np.int64)
            for i, text in enumerate(utf8_views(texts)):
                xs = distinct_shingles(text, k)
                counts[i] = xs.shape[0]
                sigs[i] = minhash_matrix(xs, a_par, b_par)
            if n:
                bk = band_keys_batch(sigs, bands, rows)
                sk = band_keys_batch(sigs, 1, t)[:, 0]
            else:
                bk = np.empty((0, bands), np.int64)
                sk = np.empty(0, np.int64)
            sig_col = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * t, t, dtype=np.int32)),
                pa.array(sigs.reshape(-1).view(np.int64)))
            band_col = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * bands, bands, dtype=np.int32)),
                pa.array(bk.reshape(-1)))
            arrays = [urls.combine_chunks() if isinstance(urls, pa.ChunkedArray) else urls,
                      pa.array(counts), sig_col, band_col, pa.array(sk)]
            names = ["url", "n_shingles", "sig", "bands", "sig_key"]
            if keep_text:
                # zero-copy: the input batch's own string buffer (downcast
                # the rare large_string batch to match the declared schema)
                tarr = texts.combine_chunks() if isinstance(texts, pa.ChunkedArray) else texts
                arrays.append(tarr.cast(pa.string())
                              if pa.types.is_large_string(tarr.type) else tarr)
                names.append("text")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    from ..partitioning import ensure_parallelism

    schema = SIG_SCHEMA + (", text string" if keep_text else "")
    return (
        ensure_parallelism(
            docs.select(F.col(url_col).alias("url"), F.col(text_col).alias(text_col)))
        .mapInArrow(gen, schema=schema)
    )


def shingle_counts(docs: DataFrame, cfg: PipelineConfig,
                   url_col: str = "url", text_col: str = "text") -> DataFrame:
    """(url, n_shingles) only — Catalyst cannot prune columns *inside* a
    UDF, so a consumer that needs just the distinct-shingle count must not
    pay for the t minhash columns (t=128 of them in the default config)."""
    import pyarrow as pa

    k = cfg.k

    def gen(batches) -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            urls = batch.column(0)
            texts = batch.column(1)
            n = batch.num_rows
            counts = np.empty(n, dtype=np.int64)
            for i, text in enumerate(utf8_views(texts)):
                counts[i] = distinct_shingles(text, k).shape[0]
            yield pa.RecordBatch.from_arrays(
                [urls.combine_chunks() if isinstance(urls, pa.ChunkedArray) else urls,
                 pa.array(counts)],
                names=["url", "n_shingles"])

    from ..partitioning import ensure_parallelism

    return (
        ensure_parallelism(
            docs.select(F.col(url_col).alias("url"), F.col(text_col).alias(text_col)))
        .mapInArrow(gen, schema="url string, n_shingles bigint")
    )


def compute_signatures_m(docs: DataFrame, cfg: PipelineConfig,
                         url_col: str = "url", text_col: str = "text") -> DataFrame:
    """General m >= 1 signature stage: ``sig`` is the flattened t*m
    bottom-m-distinct sketch (reference ``src/MinhashSketch.cu:108-125``
    semantics: per function the m smallest distinct values, ascending,
    UINT64_MAX-padded). LSH bands cover ``rows`` functions x m values each —
    a band matches only when every bottom-m list in it is identical, the
    natural generalization of the m=1 row-equality band.

    The published reference run is m=9/t=5 (git_picture/running_example1.png);
    this is the distributed path for that shape.
    """
    from ..core.shingles import bottom_m_matrix

    k, t, m, bands, rows = cfg.k, cfg.t, cfg.m, cfg.bands, cfg.rows
    a_par, b_par = get_family(t, cfg.seed)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            sigs = np.empty((n, t * m), dtype=np.uint64)
            counts = np.empty(n, dtype=np.int64)
            for i, text in enumerate(pdf[text_col].values):
                xs = distinct_shingles((text or "").encode("utf-8", "surrogatepass"), k)
                counts[i] = xs.shape[0]
                sigs[i] = bottom_m_matrix(xs, a_par, b_par, m).reshape(-1)
            if n:
                bk = band_keys_batch(sigs, bands, rows * m)
                sk = band_keys_batch(sigs, 1, t * m)[:, 0]
            else:
                bk = np.empty((0, bands), np.int64)
                sk = np.empty(0, np.int64)
            yield pd.DataFrame({
                "url": pdf[url_col].values,
                "n_shingles": counts,
                "sig": list(sigs.view(np.int64)),
                "bands": list(bk),
                "sig_key": sk,
            })

    from ..partitioning import ensure_parallelism

    return (
        ensure_parallelism(
            docs.select(F.col(url_col).alias("url"), F.col(text_col).alias(text_col)))
        .mapInPandas(gen, schema=SIG_SCHEMA)
    )
