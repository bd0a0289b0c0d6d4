"""Workload passes, untraced and traced, and their output checks.

An untraced pass calls the package's public entry points the way its CLI
does (``run_pipeline`` / ``curate`` + ``write_table``; ``build_band_index``
+ ``cross_corpus_dup_pairs_indexed``). The index scenario is not a
benchmark workload of its own: on a 4-core host each run pays ~35 s of
session set-ups and a warm pass, and a third workload did not fit the
benchmark's time budget. The traced run of ``pipeline_longdoc`` runs it once after its own
passes, on the same corpus, to measure the ``cross_dedup`` layers. A
traced pass recomposes
``run_pipeline`` and ``curate`` from the public functions they call, with
a span around each call into a layer, and must write the same outputs.
Keep the recompositions in step with ``pipeline.run_pipeline`` and
``curate.curate``: the digest check fails the traced run when they drift.
"""

from __future__ import annotations

import hashlib
import os
import time
from contextlib import contextmanager, nullcontext

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from minhashsketch_spark.config import PipelineConfig
from minhashsketch_spark.curate import curate
from minhashsketch_spark.operators.connected_components import connected_components
from minhashsketch_spark.operators.cross_dedup import (
    build_band_index, cross_corpus_dup_pairs_indexed)
from minhashsketch_spark.operators.dedup_corpus import (
    exact_dedup_corpus, near_dedup_corpus)
from minhashsketch_spark.operators.lsh import bucket_stats, candidate_pairs, explode_bands
from minhashsketch_spark.operators.signatures import compute_signatures
from minhashsketch_spark.operators.text import detected_lang_expr, quality_score_expr
from minhashsketch_spark.operators.verify import est_prefilter_gate, verified_pairs
from minhashsketch_spark.pipeline import input_fingerprint, run_pipeline
from minhashsketch_spark.sources import io as io_mod
from minhashsketch_spark.sources.io import StageStore, read_table, write_table

from . import inputs
from .trace import table_shuffle_mb

# the CLI defaults (python -m minhashsketch_spark pipeline|curate)
CFG = PipelineConfig.from_threshold(k=9, m=1, t=128, threshold=0.7, seed=42)
MIN_QUALITY = 20.0
LANGS = ("en",)


def _span(tr, name: str):
    return tr.span(name) if tr is not None else nullcontext({})


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _read(path: str, cols: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=cols).to_pandas()


@contextmanager
def io_spans(tr):
    """While active, the part of ``StageStore.write`` after its data write
    (re-read, per-partition lineage job, manifest) runs in an ``io`` span,
    a child of the calling layer's span."""
    orig_store_write, orig_write_table = StageStore.write, io_mod.write_table
    opened: list[int | None] = []

    def write_table_then_io(df, path, mode="overwrite"):
        orig_write_table(df, path, mode)
        if opened and opened[-1] is None:
            opened[-1] = tr.open("io")

    def store_write(self, stage, df, metrics=None, extra_aggs=None):
        opened.append(None)
        try:
            out = orig_store_write(self, stage, df, metrics=metrics,
                                   extra_aggs=extra_aggs)
        finally:
            sid = opened.pop()
            if sid is not None:
                tr.close(sid)
        if sid is not None:
            tr.spans[sid]["rows_out"] = self.manifest(stage)["rows"]
        return out

    io_mod.write_table, StageStore.write = write_table_then_io, store_write
    try:
        yield
    finally:
        io_mod.write_table, StageStore.write = orig_write_table, orig_store_write


def traced_run_pipeline(tr, spark, docs, cfg, root, stage_key, est_gate, facts):
    """``run_pipeline`` recomposed with a span per layer; returns clusters."""
    with tr.span("pipeline") as sp_pipe:
        store = StageStore(spark, root, stage_key)
        gate_sfx = (f"-g{est_gate:.6f}"
                    if est_gate is not None and est_gate > 0.0 else "")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       str(cfg.arrow_batch_rows))
        with tr.span("signatures") as sp:
            sigs = store.write("signatures", compute_signatures(docs, cfg))
            sp["rows_out"] = store.manifest("signatures")["rows"]
        with tr.span("lsh") as sp:
            row = bucket_stats(explode_bands(sigs)).agg(
                F.count("*").alias("buckets"),
                F.max("bucket_size").alias("max_bucket"),
                F.sum((F.col("bucket_size") > cfg.bucket_cap).cast("long"))
                .alias("buckets_over_cap")).collect()[0]
            cand = store.write("candidates", candidate_pairs(sigs, cfg),
                               metrics=row.asDict())
            sp["rows_out"] = store.manifest("candidates")["rows"]
        with tr.span("verify") as sp:
            ver = store.write(
                f"verified{gate_sfx}",
                verified_pairs(cand, sigs, docs, cfg, checkpoint_sigs=False,
                               checkpoint_pairs=False, est_gate=est_gate),
                extra_aggs={"n_dup_pairs": F.sum(F.col("is_dup").cast("long"))})
            man = store.manifest(f"verified{gate_sfx}")
            sp["rows_out"] = man["rows"]
        with tr.span("connected_components") as sp:
            cc = connected_components(ver.filter("is_dup").select("url_a", "url_b"),
                                      cfg.max_cc_iterations,
                                      n_edges=man["metrics"]["n_dup_pairs"])
            # the driver union-find returns a local relation, the
            # distributed large-star/small-star loop a join plan
            facts["cc_distributed"] = int(
                "Join" in cc._jdf.queryExecution().logical().toString())
            clusters = store.write("clusters", cc)
            sp["rows_out"] = store.manifest("clusters")["rows"]
        sp_pipe["rows_out"] = sp["rows_out"]
    facts.update(
        band_rows=store.manifest("signatures")["rows"] * cfg.bands,
        max_bucket=store.manifest("candidates")["metrics"]["max_bucket"],
        candidates=store.manifest("candidates")["rows"],
        pairs_after_gate=man["rows"],
        dup_pairs=man["metrics"]["n_dup_pairs"],
        verified=ver)
    return clusters


def traced_curate(tr, spark, docs, cfg, root, out, facts):
    """``curate`` (keeper "min", no robots/benchmark) recomposed with spans;
    ends with the curated corpus written to ``out``."""
    with tr.span("curate") as sp_cur:
        stage_key = f"{cfg.config_hash()}-{input_fingerprint(docs)}"
        store = StageStore(spark, root, stage_key)
        with tr.span("curate.accounting"):
            docs.count()
        with tr.span("dedup_corpus"):
            exact = store.write("exact_dedup", exact_dedup_corpus(
                docs, id_col="url", text_col="text"))
        clusters = traced_run_pipeline(tr, spark, exact, cfg, root, stage_key,
                                       est_prefilter_gate(cfg), facts)
        with tr.span("dedup_corpus") as sp_near:
            near = near_dedup_corpus(exact, clusters, url_col="url")
        curated = near.filter((quality_score_expr("text") >= MIN_QUALITY)
                              & detected_lang_expr("text").isin(*LANGS))
        with tr.span("curate.accounting"):
            sp_near["rows_out"] = near.count()
            sp_cur["rows_out"] = curated.count()
        write_table(curated, out)
    return clusters


# --------------------------------------------------------------- workloads


class Workload:
    """One workload: the constructor generates (or finds cached) inputs,
    ``run_pass`` runs one timed pass into ``pass_dir``, ``check`` validates
    its outputs and returns (digest, truth_recall, problems)."""

    name = ""
    gen = ""
    # traced runs also run one traced pass of this workload on the same seed
    companion = None
    # per-layer metric prefixes of layers the traced run never reaches
    absent_layers: tuple[str, ...] = ()

    def __init__(self, spark, cache_root: str, seed: int, n_docs: int,
                 nproc: int) -> None:
        self.spark, self.seed, self.nproc = spark, seed, nproc
        self.inp = getattr(inputs, self.gen)(cache_root, seed, n_docs)

    def input_docs(self) -> int:
        return pq.read_metadata(f"{self.inp}/docs.parquet").num_rows

    def sample_texts(self, n: int) -> list[bytes]:
        texts = _read(f"{self.inp}/docs.parquet", ["text"])["text"]
        rng = np.random.RandomState(self.seed)
        pick = rng.choice(len(texts), size=min(n, len(texts)), replace=False)
        return [texts.iloc[i].encode() for i in sorted(pick)]


class IndexIncremental(Workload):
    name, gen = "index_incremental", "index_split"

    def run_pass(self, pass_dir: str, tr=None) -> dict:
        spark = self.spark
        table = "pbidx_" + os.path.basename(pass_dir).replace("-", "_")
        root = f"{pass_dir}/index"
        facts: dict = {}
        t0 = time.perf_counter()
        with _span(tr, "cross_dedup.build") as sp:
            build_band_index(spark, read_table(spark, f"{self.inp}/index.parquet"),
                             CFG, table, n_buckets=2 * self.nproc, path_root=root)
        t_build = time.perf_counter()
        batch_s, outs, probe_spans = [], [], []
        for b in range(inputs.N_BATCHES):
            tb = time.perf_counter()
            out = f"{pass_dir}/pairs{b}"
            with _span(tr, "cross_dedup.probe") as sp_probe:
                new = read_table(spark, f"{self.inp}/batch{b}.parquet")
                ver = cross_corpus_dup_pairs_indexed(spark, new, table, CFG)
                write_table(ver.filter("is_dup").select("url_new", "url_idx"), out)
            batch_s.append(time.perf_counter() - tb)
            outs.append(out)
            probe_spans.append(sp_probe)
        wall = time.perf_counter() - t0
        if tr is not None:
            sp["rows_out"] = _rows(f"{root}/sigs")
            text_bytes = _read(f"{self.inp}/index.parquet", ["text"]).text.str.len().sum()
            facts["write_amp"] = _dir_bytes(root) / float(text_bytes)
            facts["probe_spans"] = probe_spans
            facts["index_tables"] = (f"{table}_bands", f"{table}_dim", f"{table}_sigs")
            for s, o in zip(probe_spans, outs):
                s["rows_out"] = _rows(o)
        return {"wall_s": wall, "build_s": t_build - t0, "batch_s": batch_s,
                "outs": outs, "facts": facts}

    def index_shuffle_mb(self, tr, facts) -> float:
        jobs = {j for s in facts["probe_spans"] for d in tr.subtree(s["id"])
                for j in d["jobs"]}
        return table_shuffle_mb(self.spark, jobs, facts["index_tables"])

    def check(self, res: dict):
        got = pd.concat([_read(o, ["url_new", "url_idx"]) for o in res["outs"]])
        truth = _read(f"{self.inp}/truth.parquet", ["url", "cluster_id"])
        index_urls = set(_read(f"{self.inp}/index.parquet", ["url"]).url)
        problems = []
        if not set(got.url_idx) <= index_urls or set(got.url_new) & index_urls:
            problems.append("a dup pair does not join a batch doc to an index doc")
        # as in _cluster_truth: unplanted pairs are estimator false positives
        cid = dict(zip(truth.url, truth.cluster_id))
        if any(cid.get(a) != cid.get(b) for a, b in zip(got.url_new, got.url_idx)):
            problems.append("a dup pair mixes planted clusters or unplanted docs")
        found = set(zip(got.url_new, got.url_idx))
        planted = [(a, b) for members in truth.groupby("cluster_id").url
                   for a in members[1] for b in members[1]
                   if a not in index_urls and b in index_urls]
        recall = (sum(p in found for p in planted) / len(planted)) if planted else 1.0
        return _digest(got.url_new + "\t" + got.url_idx), recall, problems


class PipelineLongdoc(Workload):
    name, gen = "pipeline_longdoc", "longdoc"
    companion = IndexIncremental
    absent_layers = ("curate.", "dedup_corpus.")

    def run_pass(self, pass_dir: str, tr=None) -> dict:
        spark, out = self.spark, f"{pass_dir}/clusters"
        facts: dict = {}
        t0 = time.perf_counter()
        docs = read_table(spark, f"{self.inp}/docs.parquet")
        key = f"{CFG.config_hash()}-{input_fingerprint(docs)}"
        if tr is None:
            res = run_pipeline(spark, docs, CFG, checkpoint_root=f"{pass_dir}/ckpt",
                               stage_key=key)
            write_table(res["clusters"], out)
        else:
            with io_spans(tr):
                clusters = traced_run_pipeline(tr, spark, docs, CFG, f"{pass_dir}/ckpt",
                                               key, None, facts)
            with tr.span("output"):
                write_table(clusters, out)
        wall = time.perf_counter() - t0
        _count_shingle_docs(facts)
        return {"wall_s": wall, "out": out, "facts": facts}

    def check(self, res: dict):
        got = _read(res["out"], ["url", "cluster_id"])
        truth = _read(f"{self.inp}/truth.parquet", ["url", "cluster_id"])
        recall, problems = _cluster_truth(got, truth)
        return (_digest(got.url + "\t" + got.cluster_id), recall, problems)


class CurateShortdoc(Workload):
    name, gen = "curate_shortdoc", "shortdoc"
    absent_layers = ("cross_dedup.",)

    def run_pass(self, pass_dir: str, tr=None) -> dict:
        spark, out = self.spark, f"{pass_dir}/curated"
        facts: dict = {}
        t0 = time.perf_counter()
        docs = read_table(spark, f"{self.inp}/docs.parquet")
        if tr is None:
            res = curate(spark, docs, CFG, min_quality=MIN_QUALITY, langs=LANGS,
                         checkpoint_root=f"{pass_dir}/ckpt", keeper="min")
            write_table(res["curated"], out)
            clusters = res["clusters"]
        else:
            with io_spans(tr):
                clusters = traced_curate(tr, spark, docs, CFG, f"{pass_dir}/ckpt",
                                         out, facts)
        wall = time.perf_counter() - t0
        _count_shingle_docs(facts)
        return {"wall_s": wall, "out": out, "facts": facts,
                "clusters": clusters.toPandas()}

    def check(self, res: dict):
        got = _read(res["out"], ["url", "text"])
        docs = _read(f"{self.inp}/docs.parquet", ["url", "text"])
        truth = _read(f"{self.inp}/truth.parquet", ["url_copy", "url_orig", "n_replaced"])
        problems = []
        if not set(got.url) <= set(docs.url):
            problems.append("curated urls outside the input")
        if got.text.duplicated().any():
            problems.append("curated corpus keeps exact duplicates")
        # removed by dedup: exact losers (non-min url of a text group) and
        # near losers (cluster members that are not their cluster's id)
        keep = docs.groupby("text").url.transform("min")
        removed = set(docs.url[docs.url != keep])
        cl = res["clusters"]
        removed |= set(cl.url[cl.url != cl.cluster_id])
        caught = [a in removed or b in removed
                  for a, b in zip(truth.url_copy, truth.url_orig)]
        text = dict(zip(docs.url, docs.text))
        exact = [text[a] == text[b] for a, b in zip(truth.url_copy, truth.url_orig)]
        if not all(c for c, e in zip(caught, exact) if e):
            problems.append("a planted exact copy survived dedup")
        recall = sum(caught) / len(caught) if caught else 1.0
        return _digest(got.url), recall, problems


def _count_shingle_docs(facts: dict) -> None:
    """Docs whose shingle sets verification recomputed: the distinct urls
    of the (gated) pairs it verified. Counted after the pass is timed."""
    ver = facts.pop("verified", None)
    if ver is not None:
        facts["shingle_docs"] = (ver.select(F.col("url_a").alias("url"))
                                 .union(ver.select("url_b")).distinct().count())


def _rows(path: str) -> int:
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _cluster_truth(got: pd.DataFrame, truth: pd.DataFrame):
    """Recall of the planted within-cluster pairs in the output clusters,
    and whether every output cluster lies inside one planted cluster."""
    out_cid = dict(zip(got.url, got.cluster_id))
    planted = 0
    found = 0
    for _, members in truth.groupby("cluster_id").url:
        m = list(members)
        for i in range(len(m)):
            for j in range(i + 1, len(m)):
                planted += 1
                found += (m[i] in out_cid and out_cid[m[i]] == out_cid.get(m[j]))
    # is_dup applies the threshold to the MinHash estimate, so pages sharing
    # the boilerplate template (Jaccard ~0.5) can cluster on some seeds; a
    # cluster mixing planted clusters, or planted and unplanted docs, is wrong
    tcid = got.url.map(dict(zip(truth.url, truth.cluster_id))).fillna("")
    per_cluster = got.assign(t=tcid).groupby("cluster_id").t.nunique()
    problems = []
    if (per_cluster > 1).any():
        problems.append("an output cluster mixes planted clusters or unplanted docs")
    return (found / planted if planted else 1.0), problems


WORKLOADS = {w.name: w for w in (PipelineLongdoc, CurateShortdoc)}
