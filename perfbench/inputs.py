"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same pair always
writes byte-identical parquet. Outputs are cached under the checkout's
``.perfbench/cache/<name>-s<seed>-n<size>/`` (git-ignored), so a seed is
generated once per checkout. Generation runs in this single process with
NumPy; it starts no threads or workers of its own.

* ``longdoc``  — ``sources.corpus.generate_corpus``: ~5.6 KB docs, 30% of
  them in planted clusters of 2-8 near-copies, two boilerplate-template
  groups that make hot LSH buckets.
* ``shortdoc`` — the small-vocabulary recipe the repo's notes describe
  for the sf-scale document table: a 31-word vocabulary, U[10,100] words
  per doc, a language mix, and ~4.7% near-copies of a random earlier doc
  with 0-3 words replaced.
* ``index_split`` — the ``longdoc`` corpus split by a stable url hash
  into an index half and four daily batches of the other half.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd

# the vocabulary of the repo's sf-scale document tables (30 common words
# plus the "dup" marker token)
SHORT_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
SHORT_LANGS = ("en", "de", "fr", "es", "zh")
SHORT_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_BATCHES = 4
LONGDOC_SHAPE_SEED = 42
SHORTDOC_SHAPE_SEED = 43


def _write(df: pd.DataFrame, path: str) -> None:
    df.to_parquet(path, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)


def _cached(cache_root: str, name: str, seed: int, size: int, build) -> str:
    """Directory holding ``build(dir)``'s files for (name, seed, size);
    built into a temp dir and renamed, so a killed run never leaves a
    half-written entry behind."""
    final = os.path.join(cache_root, f"{name}-s{seed}-n{size}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, final)
    return final


def longdoc(cache_root: str, seed: int, n_docs: int) -> str:
    """docs.parquet (url, warc_ts, html, text, lang) + truth.parquet
    (url, cluster_id) of the planted clusters.

    The corpus shape (doc lengths, clusters, edits) comes from a fixed
    generator seed; ``seed`` re-letters every text with a seeded
    permutation of a-z. A byte bijection maps shingles one to one, so
    every seed has the same shingle-set sizes and Jaccards — the same work
    — but different hash values, signatures and band collisions. At the
    few hundred docs a pass can afford, reshaping the corpus per seed
    moved the pass time by +-15%."""
    def build(out: str) -> None:
        from minhashsketch_spark.sources.corpus import generate_corpus

        docs, truth = generate_corpus(n_docs=n_docs, seed=LONGDOC_SHAPE_SEED)
        table = _reletter(seed, "abcdefghijklmnopqrstuvwxyz")
        rows = []
        for url, ts, html, text, lang in docs:
            new = text.translate(table)
            rows.append((url, ts, html.replace(text.encode(), new.encode()), new, lang))
        _write(pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]),
               f"{out}/docs.parquet")
        _write(pd.DataFrame(truth, columns=["url", "cluster_id"]),
               f"{out}/truth.parquet")
    return _cached(cache_root, "longdoc", seed, n_docs, build)


def shortdoc(cache_root: str, seed: int, n_docs: int) -> str:
    """docs.parquet (url, text, lang, source) + truth.parquet
    (url_copy, url_orig, n_replaced) of the planted near-copies.

    As for ``longdoc``, the corpus shape comes from a fixed generator seed
    and ``seed`` re-letters the texts — here only the letters that spell
    no language marker the curation filter counts (``text.py``), so every
    seed keeps the same language decisions and quality scores too."""
    def build(out: str) -> None:
        rng = np.random.RandomState(SHORTDOC_SHAPE_SEED)
        vocab = np.array(SHORT_VOCAB)
        lens = rng.randint(10, 101, size=n_docs)
        texts: list[list[str]] = []
        truth = []
        for i in range(n_docs):
            if i and rng.rand() < 0.047:
                j = int(rng.randint(0, i))
                words = list(texts[j])
                n_rep = int(rng.randint(0, 4))
                for p in rng.randint(0, len(words), size=n_rep):
                    words[p] = vocab[rng.randint(0, len(vocab))]
                truth.append((_short_url(i), _short_url(j), n_rep))
            else:
                words = list(vocab[rng.randint(0, len(vocab), size=lens[i])])
            texts.append(words)
        langs = rng.choice(SHORT_LANGS, size=n_docs, p=SHORT_LANG_P)
        table = _reletter(seed, "bcgjklmpqsvwxyz")
        _write(pd.DataFrame({
            "url": [_short_url(i) for i in range(n_docs)],
            "text": [" ".join(w).translate(table) for w in texts],
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }), f"{out}/docs.parquet")
        _write(pd.DataFrame(truth, columns=["url_copy", "url_orig", "n_replaced"]),
               f"{out}/truth.parquet")
    return _cached(cache_root, "shortdoc", seed, n_docs, build)


def _reletter(seed: int, letters: str) -> dict:
    """str.translate table permuting ``letters`` among themselves."""
    perm = "".join(np.random.RandomState(seed).permutation(list(letters)))
    return str.maketrans(letters, perm)


def _short_url(i: int) -> str:
    return f"https://src{i % 20}.example/doc/{i}"


def _url_bucket(url: str, n: int) -> int:
    """Stable (md5-based) bucket of a url in [0, n)."""
    return int.from_bytes(hashlib.md5(url.encode()).digest()[:8], "little") % n


def index_split(cache_root: str, seed: int, n_docs: int) -> str:
    """index.parquet (the hash half of the longdoc corpus), batch0..3.parquet
    (the other half, four daily drops) and truth.parquet."""
    src = longdoc(cache_root, seed, n_docs)

    def build(out: str) -> None:
        docs = pd.read_parquet(f"{src}/docs.parquet")
        side = np.array([_url_bucket(u, 2 * N_BATCHES) for u in docs.url])
        _write(docs[side % 2 == 0], f"{out}/index.parquet")
        for b in range(N_BATCHES):
            _write(docs[side == 2 * b + 1], f"{out}/batch{b}.parquet")
        shutil.copy(f"{src}/truth.parquet", f"{out}/truth.parquet")
    return _cached(cache_root, "index", seed, n_docs, build)
