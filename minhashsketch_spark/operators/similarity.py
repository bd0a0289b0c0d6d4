"""Similarity search over an embedding column (array<float>).

* ``cosine_topk``      — brute-force top-k: broadcast the (small) query set,
  JVM-side zip_with/aggregate dot products, per-query window top-k. The
  exact baseline.
* ``lsh_cosine_topk``  — random-hyperplane LSH bucketing (sign sketch) +
  per-bucket brute force: the 100 TB scale path (each probe touches only
  matching buckets; multi-probe via Hamming-1 neighbors for recall).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """For each query vector: top-k nearest corpus vectors by cosine.

    queries(query_id, embedding). Plan: broadcast-nested-loop join of the
    tiny query set against the corpus scan — one pass over the corpus, no
    shuffle except the final per-query top-k (a k-row agg per query).
    """
    q = queries.select(F.col("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    c = embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).cast("array<double>").alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def hyperplane_signs(embeddings: DataFrame, n_planes: int = 16, seed: int = 7,
                     dim: int = 64, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """(id, bucket) — sign sketch under n_planes random hyperplanes."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim)).astype(np.float64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = np.stack(pdf[vec_col].values).astype(np.float64)
            proj = vecs @ planes.T  # (n, n_planes)
            bits = (proj > 0).astype(np.int64)
            bucket = (bits << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
            yield pd.DataFrame({"vec_id": pdf[id_col].values, "bucket": bucket})

    from ..partitioning import ensure_parallelism

    return ensure_parallelism(
        embeddings.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        gen, schema="vec_id bigint, bucket bigint")


def lsh_cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                    n_planes: int = 12, seed: int = 7, dim: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's bucket or a
    Hamming-1 neighbor bucket are scored (multi-probe LSH). At 10^12
    vectors this turns a full scan into ~(1+n_planes)/2^n_planes of it."""
    corpus_b = hyperplane_signs(embeddings, n_planes, seed, dim, id_col, vec_col)
    q_b = hyperplane_signs(
        queries.select(F.col("query_id").alias(id_col), F.col(vec_col)),
        n_planes, seed, dim, id_col, vec_col,
    ).select(F.col(id_col).alias("query_id"), F.col("bucket"))
    # multi-probe: query bucket + all Hamming-1 buckets
    probes = q_b.select(
        "query_id",
        F.explode(
            F.array(*([F.col("bucket")] +
                      [F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]))
        ).alias("bucket"),
    )
    c = embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).cast("array<double>").alias("cv"))
    corpus = corpus_b.select(F.col(id_col).alias("neighbor_id"), "bucket").join(c, "neighbor_id")
    q = queries.select("query_id", F.col(vec_col).cast("array<double>").alias("qv"))
    scored = (
        corpus.join(F.broadcast(probes), "bucket")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("cv")), 6))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def hyperplane_bands(embeddings: DataFrame, n_tables: int = 16, n_planes: int = 4,
                     seed: int = 7, dim: int = 64, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """(id, table, bucket) — multi-table sign sketch: ``n_tables``
    independent tables of ``n_planes`` hyperplanes each (the cosine
    analogue of MinHash LSH bands: more tables -> higher recall, more
    planes per table -> higher precision). One vectorized NumPy pass."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_tables * n_planes, dim)).astype(np.float64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = np.stack(pdf[vec_col].values).astype(np.float64)
            bits = (vecs @ planes.T > 0).astype(np.int64)  # (n, T*r)
            buckets = (bits.reshape(n, n_tables, n_planes) * weights).sum(axis=2)
            ids = np.repeat(pdf[id_col].values.astype(np.int64), n_tables)
            tables = np.tile(np.arange(n_tables, dtype=np.int64), n)
            yield pd.DataFrame({"vec_id": ids, "tbl": tables,
                                "bucket": buckets.reshape(-1)})

    from ..partitioning import ensure_parallelism

    return ensure_parallelism(
        embeddings.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        gen, schema="vec_id bigint, tbl bigint, bucket bigint")


def kmeans_fit(x: np.ndarray, n_centroids: int, n_iters: int = 10,
               seed: int = 7) -> np.ndarray:
    """Deterministic seeded spherical k-means on a sample matrix — pure
    NumPy, shared by the Spark fit (fit_ivf_centroids) and the DuckDB
    oracle builder (__spark_entry__), so both sides work from bit-identical
    centroids given the same sample rows."""
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    c = x[rng.choice(x.shape[0], size=n_centroids, replace=False)]
    for _ in range(n_iters):
        assign = (x @ c.T).argmax(axis=1)
        for j in range(n_centroids):
            m = assign == j
            if m.any():
                v = x[m].sum(axis=0)
                c[j] = v / max(np.linalg.norm(v), 1e-12)
    return c


def fit_ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                      n_iters: int = 10, sample_n: int = 4096, seed: int = 7,
                      sample_mod: int = 8,
                      id_col: str = "vec_id", vec_col: str = "embedding") -> np.ndarray:
    """Spherical k-means coarse quantizer fitted on a deterministic sample
    (standard IVF practice: the codebook is tiny and trained off a sample,
    then broadcast; at 10^12 vectors the sample is still a driver-sized
    collect).

    Sampling is a deterministic hash filter (``xxhash64(id) % mod == 0``)
    with a small sort *of the filtered set only* for run-order stability —
    not a TakeOrdered over the full corpus (that plans a per-partition
    top-k heap over every row; the filter is a narrow scan and the sort
    touches ~n/mod rows). At scale pick ``sample_mod ~ n / (4 * sample_n)``
    so the sorted set stays driver-sized."""
    rows = (embeddings
            .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
            .orderBy(id_col).limit(sample_n)
            .select(vec_col).collect())
    if len(rows) < n_centroids:  # tiny corpus: fall back to the full scan
        rows = embeddings.orderBy(id_col).limit(sample_n).select(vec_col).collect()
    x = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    return kmeans_fit(x, n_centroids, n_iters, seed)


def _ivf_cells(df: DataFrame, centroids: np.ndarray, nprobe: int,
               id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """(id, cell) rows: the nprobe highest-dot-product centroids per vector
    (nprobe=1 for the corpus side, >1 for multi-probe queries)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            v = np.stack(pdf[vec_col].values).astype(np.float64)
            v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
            sims = v @ centroids.T
            top = np.argsort(-sims, axis=1)[:, :nprobe]
            ids = np.repeat(pdf[id_col].values.astype(np.int64), nprobe)
            yield pd.DataFrame({out_id: ids, "cell": top.reshape(-1)})

    from ..partitioning import ensure_parallelism

    return ensure_parallelism(df.select(F.col(id_col), F.col(vec_col))) \
        .mapInPandas(gen, schema=f"{out_id} bigint, cell bigint")


def ivf_cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                    n_centroids: int = 16, nprobe: int = 4, seed: int = 7,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (the inverted file); each query scans only its nprobe nearest
    cells — the k-means analogue of the hyperplane-LSH path, scanning
    ~nprobe/n_centroids of the corpus per query at scale."""
    cents = fit_ivf_centroids(embeddings, n_centroids, seed=seed,
                              id_col=id_col, vec_col=vec_col)
    corpus_cells = _ivf_cells(embeddings, cents, 1, id_col, vec_col, "neighbor_id")
    probe_src = queries.select(F.col("query_id").alias(id_col), F.col(vec_col))
    probes = _ivf_cells(probe_src, cents, nprobe, id_col, vec_col, "query_id")
    c = embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).cast("array<double>").alias("cv"))
    q = queries.select("query_id", F.col(vec_col).cast("array<double>").alias("qv"))
    scored = (
        corpus_cells.join(c, "neighbor_id")
        .join(F.broadcast(probes), "cell")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("cv")), 6))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def embedding_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.9,
                             n_tables: int = 16, n_planes: int = 4,
                             seed: int = 7, dim: int = 64, bucket_cap: int = 512,
                             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table hyperplane LSH.

    Scale design (mirrors operators/lsh.py, incl. its round-5 two-level
    form): self-join per (table, bucket); hot buckets are *salted* into
    ceil(size/cap) sub-buckets (nothing dropped) with per-sub-bucket
    representatives chained across salts as extra candidates, then exact
    cosine filters — sizes come from a hash-agg and the chain window holds
    <= n_salt rows, so no task materializes a whole mega-bucket. Chain
    pairs are threshold-filtered individually (there
    is no CC closure downstream here, unlike lsh.py), so cross-sub-bucket
    connectivity is guaranteed for identical/near-identical embeddings —
    every chain hop passes the filter (pinned by the forced-hot-bucket
    pytest) — while merely-similar pairs split across a hot bucket rely on
    the other n_tables-1 independent tables for recall.
    A single-table 12-plane join has ~0.16 recall at cosine 0.9 — multiple
    independent tables are what make recall approach 1 (1-(1-p^r)^T).

    No size gate picks the attach plan: the vector table's file statistics
    (parquet input) or AQE size the exact-cosine joins."""
    from ..partitioning import eager_if_python

    # hyperplane UDF output feeds the two-consumer sizing fan-out below —
    # materialize once (plan-detected; always a UDF here)
    b = eager_if_python(
        hyperplane_bands(embeddings, n_tables, n_planes, seed, dim, id_col, vec_col))
    # sizes via hash-agg + join, not count-over-window (round 5, same
    # two-level shape as lsh.salt_hot_buckets: the window buffered a whole
    # mega-bucket in one task; the agg partially combines and AQE can
    # skew-split the size join)
    sizes = (b.groupBy("tbl", "bucket")
             .agg(F.count("*").alias("bucket_size"))
             .filter(F.col("bucket_size") >= 2))
    salted = (
        b.join(sizes, ["tbl", "bucket"])
        .withColumn("n_salt",
                    F.ceil(F.col("bucket_size") / F.lit(bucket_cap)).cast("int"))
        .withColumn("salt",
                    F.when(F.col("n_salt") <= 1, F.lit(0))
                    .otherwise(F.pmod(F.xxhash64("vec_id"), F.col("n_salt")).cast("int")))
    )
    # the hyperplane UDF output ``b`` is already eagerly materialized above;
    # the salted frame derives from it with a cheap join that the three
    # consumers re-plan (identical exchanges are de-duplicated) — only a
    # Python-computed frame would need its own checkpoint here (r6: the
    # unconditional localCheckpoint pinned an n x tables frame to executor
    # storage for no recompute saving)
    salted = eager_if_python(salted)
    a = salted.select(F.col("vec_id").alias("id_a"), "tbl", "bucket", "salt")
    bb = salted.select(F.col("vec_id").alias("id_b"), "tbl", "bucket", "salt")
    within = (
        a.join(bb, ["tbl", "bucket", "salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # two-level chain links: one representative (min vec_id) per
    # (tbl, bucket, salt) sub-group via hash-agg, chained across salts —
    # the window partition holds <= n_salt rows instead of the whole
    # mega-bucket. Identical embeddings: rep<->member hops come from the
    # within-salt join and rep<->rep hops all pass the cosine filter, so
    # the planted-group connectivity pin (test_skew.py) is unchanged.
    reps = (
        salted.filter(F.col("n_salt") > 1)
        .groupBy("tbl", "bucket", "salt")
        .agg(F.min("vec_id").alias("vec_id"))
    )
    wchain = Window.partitionBy("tbl", "bucket").orderBy("vec_id")
    chains = (
        reps.withColumn("prev", F.lag("vec_id").over(wchain))
        .filter(F.col("prev").isNotNull())
        .select(F.least("prev", "vec_id").alias("id_a"),
                F.greatest("prev", "vec_id").alias("id_b"))
    )
    cand = within.union(chains)
    # exact-cosine attach (guide §3.1/§8): the candidate set scales with
    # sum(bucket_size^2) — at n vectors it dwarfs the vector table itself
    # (50M pre-dedup pair rows from 20k vectors at sf1.0), and the r5 SMJ
    # plan shuffled AND sorted the (pair x 64-double-array) intermediate
    # for the second attach. Instead: (a) per-vector norms are computed
    # ONCE per embedding row (identical fold expression, so the floats are
    # bit-equal to the per-pair evaluation they replace); (b) no hint sizes
    # the attaches: a parquet-backed vector table under
    # spark.sql.autoBroadcastJoinThreshold is broadcast into both (equi-only
    # — nothing shuffled or sorted before the dedup), anything else is
    # sized by AQE at runtime; (c) the
    # cosine is computed in ONE projection and the pair dedup sits between
    # that projection and the threshold filter: an Aggregate is a predicate
    # -pushdown barrier, so the filter cannot be folded into the second
    # join's condition, where Catalyst otherwise re-evaluates the whole
    # dot-product fold per matched row on top of the projection's copy
    # (measured 2-4x on the attach stage). Cosine per pair is
    # deterministic, so dedup-then-filter equals filter-then-dedup.
    norm = F.sqrt(F.aggregate(F.transform(F.col("v"), lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))
    c = (embeddings.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
         .withColumn("nv", norm))
    va = c.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                  F.col("nv").alias("na"))
    vb = c.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                  F.col("nv").alias("nb"))
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b",
                (dot / (F.col("na") * F.col("nb"))).alias("_raw"))
        .withColumn("cosine", F.round("_raw", 6))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("_raw") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
