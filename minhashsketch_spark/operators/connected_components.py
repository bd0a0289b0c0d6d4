"""Connected components over the dup-pair edge list (north_star:
"iterative small-star/large-star connected-components join assigns cluster
IDs").

Implements the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public algorithm) as iterative DataFrame self-joins:

* large-star: every node connects its *larger* neighbors to its current
  minimum neighbor (including itself);
* small-star: every node connects its smaller-or-equal neighbors to the
  minimum.

Node ids are ``xxhash64(url)`` longs (shuffle-friendly at 10^12 nodes vs
shuffling url strings); a collision guard compares distinct-url vs
distinct-id counts and raises if they diverge. Each iteration is
``localCheckpoint``-ed to cut lineage (SURVEY.md H6); convergence is
detected by an edge-set fingerprint agg (sum of xxhash64 of edges), bounded
by ``cfg.max_cc_iterations``.

Output: clusters(url, cluster_id) where cluster_id is the lexicographic min
url of the component — deterministic, resume-stable (SURVEY.md H7).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """edges(u, v) undirected -> new edges: for each node n, connect every
    strictly-larger neighbor to min(neighbors ∪ {n})."""
    nbrs = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("mn"))
    # join back: larger neighbors point at mn
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """for each node n, connect smaller-or-equal neighbors + itself to the min."""
    # orient edges so u >= v
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("mn"))
    joined = oriented.join(mins, "u")
    out = (
        joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .union(mins.select(F.col("u"), F.col("mn").alias("v")))
        .distinct()
    )
    return out


def _fingerprint(edges: DataFrame) -> int:
    row = edges.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),  # overflow-free under ANSI mode
    ).collect()[0]
    return hash((row["n"], row["h"]))


def _driver_union_find(pairs: DataFrame) -> DataFrame:
    """Small-graph fast path: collect edges, union-find on the driver.

    Identical output to the distributed loop (cluster_id = lexicographic min
    url per component); used only under ``small_graph_threshold`` edges —
    the iterative join machinery has ~seconds of fixed latency per
    iteration that a 10^5-edge graph doesn't justify.
    """
    edges = [(r["url_a"], r["url_b"]) for r in pairs.select("url_a", "url_b").collect()]
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    urls = list(parent)
    # an Arrow table plans a JVM LocalRelation; a Python list would plan a
    # LogicalRDD whose rows Python workers unpickle again on every read
    table = pa.table({"url": pa.array(urls, pa.string()),
                      "cluster_id": pa.array([find(u) for u in urls], pa.string())})
    return pairs.sparkSession.createDataFrame(table, schema="url string, cluster_id string")


def connected_components(pairs: DataFrame, max_iterations: int = 20,
                         small_graph_threshold: int = 200_000,
                         n_edges: int | None = None) -> DataFrame:
    """pairs(url_a, url_b) -> clusters(url, cluster_id).

    Only nodes that appear in an edge are assigned (singletons are their own
    implicit cluster — callers union them in if needed).

    ``n_edges``: the caller's known edge count (stage manifests carry it
    after a checkpoint) — passing it skips the fast-path probe job, one
    fewer full scan of ``pairs`` at scale.
    """
    spark = pairs.sparkSession
    # kept on an sf0.1 A/B: union-find 0.18-0.23 s in 4 jobs, the loop 2.96-3.63 s in 42
    if small_graph_threshold > 0:
        if n_edges is None:
            n_edges = pairs.count()
        if n_edges <= small_graph_threshold:
            return _driver_union_find(pairs)
    url_ids = (
        pairs.select(F.col("url_a").alias("url"))
        .union(pairs.select(F.col("url_b").alias("url")))
        .distinct()
        .withColumn("id", F.xxhash64("url"))
    ).localCheckpoint()

    # collision guard (birthday risk grows with corpus size — fail loudly)
    counts = url_ids.agg(F.count("*").alias("n"), F.countDistinct("id").alias("d")).collect()[0]
    if counts["n"] != counts["d"]:
        raise RuntimeError(
            f"xxhash64(url) collision detected ({counts['n']} urls, {counts['d']} ids); "
            "re-run with a salted id column")

    ids_a = url_ids.select(F.col("url").alias("url_a"), F.col("id").alias("u"))
    ids_b = url_ids.select(F.col("url").alias("url_b"), F.col("id").alias("v"))
    edges = (
        pairs.join(ids_a, "url_a").join(ids_b, "url_b")
        .select("u", "v").filter(F.col("u") != F.col("v")).distinct()
    ).localCheckpoint()

    prev_fp = None
    converged = False
    for _ in range(max_iterations):
        edges = _large_star(edges).localCheckpoint()
        edges = _small_star(edges).localCheckpoint()
        fp = _fingerprint(edges)
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if not converged:
        # a non-converged edge set silently yields split/wrong cluster ids
        # downstream (near_dedup_corpus keepers) — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "large-star/small-star rounds (expected O(log n)); raise "
            "max_iterations (PipelineConfig.max_cc_iterations)")

    # after convergence every node points directly at its component min (in
    # id space — an arbitrary but deterministic representative)
    membership = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("v").alias("v"))
    ).groupBy("u").agg(F.min("v").alias("root"))

    id_to_url = url_ids.select(F.col("id"), F.col("url"))
    with_urls = membership.join(id_to_url, membership.u == id_to_url.id).select("url", "root")
    # canonical, human-stable cluster id: lexicographic min url per component
    cluster_ids = with_urls.groupBy("root").agg(F.min("url").alias("cluster_id"))
    return with_urls.join(cluster_ids, "root").select("url", "cluster_id")
