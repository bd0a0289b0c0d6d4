"""End-to-end near-duplicate pipeline with checkpointed, resumable stages.

config -> read documents -> [signatures] -> [verified] -> [clusters],
each [stage] written as a table keyed by config hash (SURVEY.md §3.4).
The verified write runs the LSH band self-join itself, so the candidate
pairs are never written on their own. Per-stage manifests record rows
in/out + stage metrics (north_rule: "resumable from checkpoint with
per-partition lineage + metrics"); the verified manifest holds the whole
candidate funnel: ``rows`` (the candidate count), the bucket metrics and
``n_dup_pairs``.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .operators.connected_components import connected_components
from .operators.lsh import candidate_pairs
from .operators.signatures import compute_signatures
from .operators.verify import minhash_estimate
from .sources.io import StageStore

# auto-created checkpoint roots (no caller-provided checkpoint_root): each
# call gets a FRESH root — reuse would let a later call resume from another
# run's stages — but every root is removed at interpreter exit instead of
# leaking a parquet copy of the corpus per invocation
_AUTO_ROOTS: list[str] = []


def _cleanup_auto_roots() -> None:
    for root in _AUTO_ROOTS:
        shutil.rmtree(root, ignore_errors=True)


def _auto_checkpoint_root(prefix: str) -> str:
    """A fresh temp checkpoint root, removed at interpreter exit — for
    callers given no checkpoint_root (None or "")."""
    root = tempfile.mkdtemp(prefix=prefix)
    if not _AUTO_ROOTS:
        atexit.register(_cleanup_auto_roots)
    _AUTO_ROOTS.append(root)
    return root


def input_fingerprint(docs: DataFrame) -> str:
    """Short fingerprint of a DataFrame's INPUT identity, for folding into
    persistent checkpoint stage keys: same config + different corpus must
    not resume from the old corpus's stages. File-based sources fingerprint
    as the sorted (path, length, mtime) list — name-only fingerprints let
    an in-place rewrite (same file names, new bytes) silently resume stale
    stages. Stats come from the Hadoop FileSystem of each path (works for
    file:/hdfs:/s3a:; one driver metadata call per file); a path whose
    stats are unreadable contributes its name alone. In-memory/derived
    frames fall back to the analyzed plan's semantic hash."""
    try:
        files = sorted(docs.inputFiles())
    except Exception:
        files = []
    if files:
        sc = docs.sparkSession.sparkContext
        hconf = sc._jsc.hadoopConfiguration()
        jpath = sc._jvm.org.apache.hadoop.fs.Path
        entries = []
        for f in files:
            try:
                p = jpath(f)
                st = p.getFileSystem(hconf).getFileStatus(p)
                entries.append([f, st.getLen(), st.getModificationTime()])
            except Exception:
                entries.append([f, None, None])
        payload = json.dumps(entries)
    else:
        payload = f"plan:{docs._jdf.queryExecution().analyzed().semanticHash()}"
    return hashlib.sha256(payload.encode()).hexdigest()[:12]


def run_pipeline(spark: SparkSession, docs: DataFrame, cfg: PipelineConfig,
                 checkpoint_root: str | None = None,
                 url_col: str = "url", text_col: str = "text",
                 stage_key: str | None = None) -> dict:
    """Returns {"signatures", "candidates", "verified", "clusters"}
    DataFrames, plus "timings": {stage: seconds} for the stages this call
    wrote (a resumed stage has no entry). "candidates" is the verified
    stage's (url_a, url_b) projection, not a stage of its own.

    With ``checkpoint_root`` set, each stage is persisted and a re-run skips
    completed stages (kill/resume-safe: manifests are written atomically
    after the data). Without it, stages checkpoint into a fresh temp root
    per call, removed at interpreter exit: downstream stages consume every
    UDF output from parquet, never from a Spark cache — large array
    columns in an InMemoryRelation measurably anti-scale under
    many-threaded readers, and the checkpoint also cuts the signature UDF
    out of the self-join lineage.

    ``stage_key`` keys the checkpoints; it defaults to the config hash, but
    a persistent ``checkpoint_root`` shared across inputs must fold an input
    fingerprint into it (see ``input_fingerprint``) or a re-run on a
    different corpus would silently resume from the old corpus's stages.

    The verified stage is the reference estimator's verdict:
    (url_a, url_b, est_sim, is_dup) with is_dup = est_sim >= threshold,
    which is all the clusters stage reads. Exact Jaccard is left to
    ``verified_pairs``, for callers that read it.
    """
    checkpoint_root = checkpoint_root or _auto_checkpoint_root("mhs_stages_")
    key = stage_key or cfg.config_hash()
    store = StageStore(spark, checkpoint_root, key)
    timings: dict[str, float] = {}
    # Arrow batch sizing for the signature UDF — the analogue of the
    # reference's CHUNKS sizing (src/MinhashSketch.cu:304-330)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(cfg.arrow_batch_rows))

    def stage(name: str, build, extra_aggs=None, observed=()) -> DataFrame:
        if store.exists(name):
            return store.read(name)
        t0 = time.time()
        df = store.write(name, build(), extra_aggs=extra_aggs, observed=observed)
        timings[name] = time.time() - t0
        return df

    signatures = stage("signatures", lambda: compute_signatures(docs, cfg, url_col, text_col))
    # the band self-join runs inside the verified write, its only consumer:
    # every candidate pair joins exactly one signature on each side, so the
    # write's row count is the candidate count. Bucket metrics are observed
    # on the sizes aggregate it computes
    buckets = Observation()
    verified = stage(
        "verified",
        lambda: minhash_estimate(candidate_pairs(signatures, cfg, buckets),
                                 signatures, cfg)
        .select("url_a", "url_b", "est_sim",
                (F.col("est_sim") >= F.lit(cfg.threshold)).alias("is_dup")),
        # the clusters stage reads the dup-pair count from the manifest
        # instead of re-counting
        extra_aggs={"n_dup_pairs": F.sum(F.col("is_dup").cast("long"))},
        observed=(buckets,))
    n_edges = store.manifest("verified").get("metrics", {}).get("n_dup_pairs")
    clusters = stage("clusters",
                     lambda: connected_components(
                         verified.filter("is_dup").select("url_a", "url_b"),
                         cfg.max_cc_iterations, n_edges=n_edges))
    return {
        "signatures": signatures,
        "candidates": verified.select("url_a", "url_b"),
        "verified": verified,
        "clusters": clusters,
        "timings": timings,
    }


def dup_pair_recall(found_pairs: DataFrame, truth_pairs: DataFrame) -> float:
    """Fraction of truth pairs present in found pairs (both url_a < url_b)."""
    total = truth_pairs.count()
    if total == 0:
        return 1.0
    hit = truth_pairs.join(found_pairs, ["url_a", "url_b"], "left_semi").count()
    return hit / total


def clusters_to_pairs(clusters: DataFrame) -> DataFrame:
    """clusters(url, cluster_id) -> all within-cluster pairs url_a < url_b."""
    a = clusters.select(F.col("cluster_id"), F.col("url").alias("url_a"))
    b = clusters.select(F.col("cluster_id"), F.col("url").alias("url_b"))
    return (a.join(b, "cluster_id")
            .filter(F.col("url_a") < F.col("url_b"))
            .select("url_a", "url_b"))
