"""Spark pipeline tests: Spark == NumPy parity, CC vs union-find oracle,
end-to-end recall >= 0.99 vs reference-semantics clusters, resume."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from minhashsketch_spark.config import PipelineConfig
from minhashsketch_spark.core.shingles import (
    band_keys,
    distinct_shingles,
    exact_jaccard,
    get_family,
    minhash_matrix,
)
from minhashsketch_spark.operators.connected_components import connected_components
from minhashsketch_spark.operators.lsh import (
    bucket_stats,
    candidate_pairs,
    explode_bands,
    salt_hot_buckets,
)
from minhashsketch_spark.operators.signatures import compute_signatures
from minhashsketch_spark.operators.verify import verified_pairs
from minhashsketch_spark.pipeline import clusters_to_pairs, dup_pair_recall, run_pipeline
from minhashsketch_spark.sources.corpus import corpus_dataframe, generate_corpus

from conftest import jobs_in_group

CFG = PipelineConfig(k=9, m=1, t=32, bands=8, rows=4, seed=7, threshold=0.7)


def test_spark_signatures_equal_numpy(spark):
    docs_df, _ = corpus_dataframe(spark, n_docs=60, seed=11)
    sigs = compute_signatures(docs_df, CFG).orderBy("url").collect()
    a_par, b_par = get_family(CFG.t, CFG.seed)
    rows = docs_df.select("url", "text").orderBy("url").collect()
    assert len(sigs) == len(rows)
    for srow, drow in zip(sigs, rows):
        assert srow["url"] == drow["url"]
        xs = distinct_shingles(drow["text"].encode(), CFG.k)
        sig_np = minhash_matrix(xs, a_par, b_par)
        assert np.array_equal(np.array(srow["sig"], dtype=np.int64).view(np.uint64), sig_np)
        assert srow["n_shingles"] == xs.shape[0]
        bk = band_keys(sig_np, CFG.bands, CFG.rows)
        assert np.array_equal(np.array(srow["bands"], dtype=np.int64), bk)


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


@pytest.mark.parametrize("graph", [
    # chain (worst case for naive propagation)
    [(f"u{i:03d}", f"u{i+1:03d}") for i in range(40)],
    # two cliques + bridge + singleton edge
    list(itertools.combinations([f"a{i}" for i in range(6)], 2))
    + list(itertools.combinations([f"b{i}" for i in range(5)], 2))
    + [("a0", "b0"), ("x1", "x2")],
    # star
    [("c0", f"c{i}") for i in range(1, 30)],
])
@pytest.mark.parametrize("threshold", [200_000, 0])  # driver fast path + distributed
def test_connected_components_vs_union_find(spark, graph, threshold):
    pairs = spark.createDataFrame(graph, schema="url_a string, url_b string")
    got = {r["url"]: r["cluster_id"]
           for r in connected_components(pairs, small_graph_threshold=threshold).collect()}
    uf = _UF()
    for a, b in graph:
        uf.union(a, b)
    nodes = {n for e in graph for n in e}
    want_groups = {}
    for n in nodes:
        want_groups.setdefault(uf.find(n), []).append(n)
    assert set(got) == nodes
    for root, members in want_groups.items():
        ids = {got[m] for m in members}
        assert len(ids) == 1, f"component {members} split: {ids}"
        assert ids.pop() == min(members)  # cluster_id = lexicographic min url


@pytest.mark.parametrize("graph", [[("a", "b"), ("b", "c"), ("x", "y")], []])
def test_small_graph_clusters_are_a_local_relation(spark, graph):
    """The driver union-find hands its clusters to the JVM as a
    LocalRelation: a Python-list frame plans a LogicalRDD, whose rows
    Python workers unpickle again on every read. Empty edge sets too."""
    pairs = spark.createDataFrame(graph, schema="url_a string, url_b string")
    small = connected_components(pairs)
    plan = small._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert small.schema.simpleString() == "struct<url:string,cluster_id:string>"
    distributed = connected_components(pairs, small_graph_threshold=0)
    assert sorted(small.collect()) == sorted(distributed.collect())


def test_cc_randomized_vs_union_find(spark):
    rng = np.random.RandomState(5)
    edges = [(f"n{rng.randint(0, 120):03d}", f"n{rng.randint(0, 120):03d}") for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, schema="url_a string, url_b string")
    got = {r["url"]: r["cluster_id"]
           for r in connected_components(pairs, small_graph_threshold=0).collect()}
    uf = _UF()
    for a, b in edges:
        uf.union(a, b)
    for n in got:
        comp_min = min(m for m in got if uf.find(m) == uf.find(n))
        assert got[n] == comp_min


def test_hot_bucket_salting(spark):
    rows = [(f"u{i:02d}", 7, 1) for i in range(50)] + [("v1", 7, 2), ("v2", 7, 2), ("w1", 8, 3)]
    bands = spark.createDataFrame(rows, schema="url string, sig_key long, band_key long")
    salted = salt_hot_buckets(bands, cap=10).collect()
    by_bucket = {}
    for r in salted:
        by_bucket.setdefault(r["band_key"], []).append(r)
    # singleton bucket dropped
    assert 3 not in by_bucket
    # hot bucket split into ceil(50/10)=5 salts, every doc kept
    assert len(by_bucket[1]) == 50
    assert {r["n_salt"] for r in by_bucket[1]} == {5}
    assert {r["salt"] for r in by_bucket[1]} <= set(range(5))
    # small bucket: single salt 0
    assert [r["salt"] for r in by_bucket[2]] == [0, 0]


def test_end_to_end_recall_vs_reference_semantics(spark):
    """Recall >= 0.99 against clusters computed with *reference semantics*
    (estimator src/Hash.cu:80-86 over all pairs, then connected components
    — the BASELINE.md metric). The band layout is the PLANNED one
    (PipelineConfig.from_threshold), so this also certifies that the
    S-curve planner's 32x4 meets the recall bar on a planted corpus."""
    cfg = PipelineConfig.from_threshold(k=9, m=1, t=128, threshold=0.7, seed=42)
    assert (cfg.bands, cfg.rows) == (32, 4)
    docs, _ = generate_corpus(n_docs=300, seed=42)
    docs_df, _ = corpus_dataframe(spark, n_docs=300, seed=42)

    # oracle: brute-force all-pairs with the NumPy kernel (reference semantics)
    a_par, b_par = get_family(cfg.t, cfg.seed)
    sigs = {}
    for url, _ts, _html, text, _lang in docs:
        xs = distinct_shingles(text.encode(), cfg.k)
        sigs[url] = minhash_matrix(xs, a_par, b_par)
    urls = sorted(sigs)
    ref_edges = []
    mat = np.stack([sigs[u] for u in urls])
    eq = None
    for i in range(len(urls)):
        matches = (mat[i + 1:] == mat[i]).sum(axis=1)
        for off in np.nonzero(matches / cfg.t >= cfg.threshold)[0]:
            ref_edges.append((urls[i], urls[i + 1 + off]))
    uf = _UF()
    for a, b in ref_edges:
        uf.union(a, b)
    truth_pairs = set()
    by_root = {}
    for u in {n for e in ref_edges for n in e}:
        by_root.setdefault(uf.find(u), []).append(u)
    for members in by_root.values():
        for a, b in itertools.combinations(sorted(members), 2):
            truth_pairs.add((a, b))
    assert len(truth_pairs) > 20, "corpus must plant real dup clusters"

    # pipeline
    result = run_pipeline(spark, docs_df, cfg)
    found = clusters_to_pairs(result["clusters"])
    found_set = {(r["url_a"], r["url_b"]) for r in found.collect()}
    hit = len(truth_pairs & found_set)
    recall = hit / len(truth_pairs)
    assert recall >= 0.99, f"recall {recall} ({hit}/{len(truth_pairs)})"


def test_exact_jaccard_column(spark):
    cfg = CFG
    docs_df, _ = corpus_dataframe(spark, n_docs=80, seed=13)
    sigs = compute_signatures(docs_df, cfg)
    pairs = candidate_pairs(sigs, cfg)
    ver = verified_pairs(pairs, sigs, docs_df, cfg)
    rows = ver.collect()
    assert len(rows) > 0
    texts = {r["url"]: r["text"] for r in docs_df.select("url", "text").collect()}
    for r in rows[:20]:
        s1 = distinct_shingles(texts[r["url_a"]].encode(), cfg.k)
        s2 = distinct_shingles(texts[r["url_b"]].encode(), cfg.k)
        assert r["jaccard"] == pytest.approx(exact_jaccard(s1, s2), abs=1e-12)


def test_exact_jaccard_many_pairs_per_doc(spark):
    """40 near-identical docs: every doc sits in 39 pairs, so one Arrow
    batch repeats each text many times. Every pair's jaccard and both
    containments equal the NumPy set computation."""
    rng = np.random.default_rng(40)
    words = [f"w{i}" for i in range(60)]
    base = [words[i] for i in rng.integers(0, 60, size=300)]
    rows = []
    for d in range(40):
        toks = list(base)
        for pos in rng.integers(0, 300, size=6):  # a few per-doc edits
            toks[pos] = f"edit{d}x{pos}"
        rows.append((f"d{d:02d}", " ".join(toks)))
    docs = spark.createDataFrame(rows, "url string, text string")
    sigs = compute_signatures(docs, CFG)
    urls = docs.select("url")
    pairs = (urls.withColumnRenamed("url", "url_a")
             .crossJoin(urls.withColumnRenamed("url", "url_b"))
             .filter(F.col("url_a") < F.col("url_b")))
    got = verified_pairs(pairs, sigs, docs, CFG, with_containment=True).collect()
    assert len(got) == 40 * 39 // 2
    sets = {u: distinct_shingles(t.encode(), CFG.k) for u, t in rows}
    for r in got:
        a, b = sets[r["url_a"]], sets[r["url_b"]]
        inter = np.intersect1d(a, b).shape[0]
        union = np.union1d(a, b).shape[0]
        assert r["jaccard"] == inter / union
        assert (r["containment_a"], r["containment_b"]) == \
            (inter / a.shape[0], inter / b.shape[0])


def test_est_gate_preserves_thresholded_outputs(spark):
    """r6 est pre-gate: gating verified_pairs at est_prefilter_gate(cfg)
    must keep every jaccard>=threshold row AND every is_dup row bit-equal
    to the ungated run — the gate only drops pairs that neither filter can
    keep. Also pins the gate formula's safety properties."""
    from minhashsketch_spark.operators.verify import est_prefilter_gate

    cfg = CFG
    gate = est_prefilter_gate(cfg)
    assert 0.0 <= gate < cfg.threshold
    # t=128 flagship: 0.7 - 6*sqrt(0.7*0.3/128)
    flag = PipelineConfig(k=9, m=1, t=128, bands=32, rows=4, seed=42,
                          threshold=0.7)
    assert est_prefilter_gate(flag) == pytest.approx(0.45697222, abs=1e-6)
    docs_df, _ = corpus_dataframe(spark, n_docs=120, seed=13)
    sigs = compute_signatures(docs_df, cfg).localCheckpoint()
    # LSH candidates PLUS an all-pairs slice of the first docs: the slice
    # guarantees low-est pairs exist, so the pruning assertion below is
    # non-vacuous (the fixture's own candidates are nearly all real dups)
    urls = docs_df.select("url").orderBy("url").limit(25)
    brute = (urls.withColumnRenamed("url", "url_a")
             .crossJoin(urls.withColumnRenamed("url", "url_b"))
             .filter(F.col("url_a") < F.col("url_b")))
    pairs = (candidate_pairs(sigs, cfg).unionByName(brute)
             .dropDuplicates(["url_a", "url_b"]).localCheckpoint())
    key = lambda r: (r["url_a"], r["url_b"], round(r["est_sim"], 12),
                     round(r["jaccard"], 12), r["is_dup"])
    full = verified_pairs(pairs, sigs, docs_df, cfg,
                          checkpoint_sigs=False, checkpoint_pairs=False)
    gated = verified_pairs(pairs, sigs, docs_df, cfg,
                           checkpoint_sigs=False, checkpoint_pairs=False,
                           est_gate=gate)
    fj = sorted(key(r) for r in
                full.filter(F.col("jaccard") >= cfg.threshold).collect())
    gj = sorted(key(r) for r in
                gated.filter(F.col("jaccard") >= cfg.threshold).collect())
    assert len(fj) > 0 and fj == gj
    fd = sorted(key(r) for r in full.filter("is_dup").collect())
    gd = sorted(key(r) for r in gated.filter("is_dup").collect())
    assert len(fd) > 0 and fd == gd
    # and the gate really prunes something on this corpus (non-vacuous)
    assert gated.count() < full.count()


def _small_vocab_docs(spark, prefix, n, seed, suffix=""):
    """Docs of 30-60 words drawn from an 8-word vocabulary: unrelated docs
    share many shingles, so LSH emits pairs on both sides of the gate.
    The same seed gives the same texts, before ``suffix``."""
    rng = np.random.RandomState(seed)
    vocab = ["alpha", "bravo", "delta", "echo", "golf", "hotel", "kilo", "lima"]
    rows = [(f"{prefix}-{i:04d}",
             " ".join(rng.choice(vocab, size=rng.randint(30, 61))) + suffix)
            for i in range(n)]
    return spark.createDataFrame(rows, "url string, text string")


def _xrows(df):
    return sorted((r["url_new"], r["url_idx"], r["est_sim"], r["jaccard"],
                   r["is_dup"]) for r in df.collect())


def test_est_gate_is_a_no_op_at_small_t(spark):
    """At t=16 / threshold 0.7 the gate is ~0.013, below the smallest
    non-zero estimate (1/16): the gated cross-corpus surface drops only
    the est_sim == 0 rows of the ungated one, sub-threshold rows included."""
    from minhashsketch_spark.operators.cross_dedup import cross_corpus_dup_pairs
    from minhashsketch_spark.operators.verify import est_prefilter_gate

    cfg = PipelineConfig(k=9, m=1, t=16, bands=16, rows=1, seed=7, threshold=0.7)
    assert 0.0 < est_prefilter_gate(cfg) < 1 / cfg.t
    new = _small_vocab_docs(spark, "new", 20, seed=1)
    idx = _small_vocab_docs(spark, "idx", 60, seed=2)
    gated = _xrows(cross_corpus_dup_pairs(new, idx, cfg, est_gate="auto"))
    full = _xrows(cross_corpus_dup_pairs(new, idx, cfg, est_gate=None))
    assert gated == [r for r in full if r[2] != 0.0]
    assert any(r[2] < cfg.threshold for r in gated)  # nothing risky pruned


def test_est_gate_envelope_at_flagship_t(spark):
    """At t=128 the gate (~0.457) prunes: no emitted row falls below it,
    and the jaccard >= threshold rows are those of the ungated run."""
    from minhashsketch_spark.operators.cross_dedup import cross_corpus_dup_pairs
    from minhashsketch_spark.operators.verify import est_prefilter_gate

    cfg = PipelineConfig.from_threshold(k=9, m=1, t=128, threshold=0.7, seed=42)
    gate = est_prefilter_gate(cfg)
    # near-copies of the first index docs, and unrelated docs
    new = (_small_vocab_docs(spark, "copy", 10, seed=4, suffix=" zulu")
           .unionByName(_small_vocab_docs(spark, "new", 20, seed=3)))
    idx = _small_vocab_docs(spark, "idx", 60, seed=4)
    gated = _xrows(cross_corpus_dup_pairs(new, idx, cfg, est_gate="auto"))
    full = _xrows(cross_corpus_dup_pairs(new, idx, cfg, est_gate=None))
    assert all(r[2] >= gate for r in gated)
    assert len(gated) < len(full)  # the gate prunes on this corpus
    keep = [r for r in full if r[3] >= cfg.threshold]
    assert keep and keep == [r for r in gated if r[3] >= cfg.threshold]


def test_resume_byte_identical(spark, tmp_path):
    cfg = CFG
    docs_df, _ = corpus_dataframe(spark, n_docs=80, seed=13)
    root = str(tmp_path / "ckpt")
    r1 = run_pipeline(spark, docs_df, cfg, checkpoint_root=root)
    c1 = sorted((r["url"], r["cluster_id"]) for r in r1["clusters"].collect())
    # second run resumes from manifests — no recompute, identical output
    r2 = run_pipeline(spark, docs_df, cfg, checkpoint_root=root)
    assert r2["timings"] == {}  # every stage skipped
    c2 = sorted((r["url"], r["cluster_id"]) for r in r2["clusters"].collect())
    assert c1 == c2


def test_verified_stage_is_the_estimate_spine(spark):
    """run_pipeline's verified stage is verified_pairs over the same
    candidates and signatures without the exact columns: same rows, and
    its is_dup rows are those of a run gated at est_prefilter_gate."""
    from minhashsketch_spark.operators.verify import est_prefilter_gate

    docs_df, _ = corpus_dataframe(spark, n_docs=80, seed=13)
    r = run_pipeline(spark, docs_df, CFG)
    cols = ["url_a", "url_b", "est_sim", "is_dup"]
    assert r["verified"].columns == cols
    got = sorted(tuple(x) for x in r["verified"].collect())
    full = verified_pairs(r["candidates"], r["signatures"], docs_df, CFG,
                          checkpoint_sigs=False, checkpoint_pairs=False)
    assert got == sorted(tuple(x) for x in full.select(*cols).collect())
    gated = verified_pairs(r["candidates"], r["signatures"], docs_df, CFG,
                           checkpoint_sigs=False, checkpoint_pairs=False,
                           est_gate=est_prefilter_gate(CFG))
    dups = [x for x in got if x[3]]
    assert dups and dups == sorted(
        tuple(x) for x in gated.filter("is_dup").select(*cols).collect())


def test_verified_stage_runs_no_python_map(spark, tmp_path, monkeypatch):
    """The frame written as the verified stage is JVM-only: no shingle
    recompute or intersection map runs to build it."""
    from minhashsketch_spark.partitioning import _PYTHON_EVAL_NODES, _plan_node_names
    from minhashsketch_spark.sources.io import StageStore

    written = {}
    orig = StageStore.write

    def write(self, stage, df, **kw):
        written[stage] = df
        return orig(self, stage, df, **kw)

    monkeypatch.setattr(StageStore, "write", write)
    docs_df, _ = corpus_dataframe(spark, n_docs=40, seed=13)
    run_pipeline(spark, docs_df, CFG, checkpoint_root=str(tmp_path / "ckpt"))
    names = _plan_node_names(
        written["verified"]._jdf.queryExecution().optimizedPlan())
    assert not [n for n in names for k in _PYTHON_EVAL_NODES if n.startswith(k)], names


def test_byte_identical_text_invariant(spark):
    """input_hint: byte-identical extracted text per url end-to-end —
    the pipeline never rewrites the documents table; assert the text survives
    a signatures round-trip join unchanged."""
    docs_df, _ = corpus_dataframe(spark, n_docs=50, seed=17)
    sigs = compute_signatures(docs_df, CFG)
    joined = docs_df.join(sigs, "url").select("url", "text")
    a = {r["url"]: r["text"] for r in docs_df.select("url", "text").collect()}
    b = {r["url"]: r["text"] for r in joined.collect()}
    assert a == b


def test_kill_mid_stage_resume(spark, tmp_path):
    """Simulate a kill during a stage write: data present but no manifest.
    The resume must recompute that stage (manifest is written atomically
    AFTER the data) and the final clusters must equal a clean run."""
    import os
    import shutil

    cfg = CFG
    docs_df, _ = corpus_dataframe(spark, n_docs=80, seed=13)
    clean_root = str(tmp_path / "clean")
    r_clean = run_pipeline(spark, docs_df, cfg, checkpoint_root=clean_root)
    want = sorted((r["url"], r["cluster_id"]) for r in r_clean["clusters"].collect())

    killed_root = str(tmp_path / "killed")
    # run once fully, then simulate the kill: drop manifests for verified
    # and later stages, and corrupt the verified data dir
    run_pipeline(spark, docs_df, cfg, checkpoint_root=killed_root)
    chash = cfg.config_hash()
    base = os.path.join(killed_root, chash)
    for stage in ("verified", "clusters"):
        os.remove(os.path.join(base, f"{stage}.manifest.json"))
    shutil.rmtree(os.path.join(base, "clusters"))
    # half-written stage: truncate one parquet part file
    parts = [f for f in os.listdir(os.path.join(base, "verified")) if f.endswith(".parquet")]
    with open(os.path.join(base, "verified", parts[0]), "wb") as f:
        f.write(b"corrupt")

    r2 = run_pipeline(spark, docs_df, cfg, checkpoint_root=killed_root)
    assert "signatures" not in r2["timings"]          # completed stage reused
    assert "verified" in r2["timings"]                # killed stage recomputed
    got = sorted((r["url"], r["cluster_id"]) for r in r2["clusters"].collect())
    assert got == want


def test_input_fingerprint_detects_in_place_rewrite(spark, tmp_path):
    """ADVICE r4: a name-only fingerprint let an in-place rewrite (same
    file names, new bytes) resume stale stages; (path, len, mtime) must
    change the key."""
    import time as _time

    from minhashsketch_spark.pipeline import input_fingerprint

    p = str(tmp_path / "docs")
    docs_df, _ = corpus_dataframe(spark, n_docs=20, seed=5)
    docs_df.coalesce(1).write.mode("overwrite").parquet(p)
    fp1 = input_fingerprint(spark.read.parquet(p))
    _time.sleep(1.1)  # mtime granularity
    docs2, _ = corpus_dataframe(spark, n_docs=21, seed=6)
    docs2.coalesce(1).write.mode("overwrite").parquet(p)
    fp2 = input_fingerprint(spark.read.parquet(p))
    assert fp1 != fp2


def test_verified_manifest_carries_dup_pair_count(spark, tmp_path):
    """The clusters stage reads n_dup_pairs from the verified manifest
    (observed on the stage write) instead of re-counting the edges."""
    from minhashsketch_spark.sources.io import StageStore

    docs_df, _ = corpus_dataframe(spark, n_docs=80, seed=13)
    root = str(tmp_path / "ckpt")
    r = run_pipeline(spark, docs_df, CFG, checkpoint_root=root)
    store = StageStore(spark, root, CFG.config_hash())
    m = store.manifest("verified")["metrics"]
    assert m["n_dup_pairs"] == r["verified"].filter("is_dup").count()


def test_stage_write_is_one_job(spark, tmp_path):
    """A stage write of a frame with no shuffle submits exactly ONE Spark
    job — the write. Rows and extra_aggs totals are observed on it, the
    per-partition lineage comes from the part-file footers and the table
    is read back with the written schema (no inference job)."""
    import os

    import pyarrow.parquet as pq

    from minhashsketch_spark.sources.io import StageStore

    df = spark.range(0, 1000, 1, 4).selectExpr("id", "id % 3 = 0 AS is_dup")
    store = StageStore(spark, str(tmp_path / "ckpt"), "k")
    out, jobs = jobs_in_group(spark, "stage_write", lambda: store.write(
        "s", df, extra_aggs={"n_dup": F.sum(F.col("is_dup").cast("long"))}))
    assert len(jobs) == 1, jobs
    m = store.manifest("s")
    assert m["rows"] == df.count() == 1000
    assert m["metrics"]["n_dup"] == df.agg(
        F.sum(F.col("is_dup").cast("long"))).first()[0]
    path = str(tmp_path / "ckpt" / "k" / "s")
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    assert m["partition_rows"] == [
        pq.read_metadata(os.path.join(path, f)).num_rows for f in parts]
    assert m["partitions"] == len(parts)
    assert out.schema == spark.read.parquet(path).schema


def test_stage_read_uses_the_manifest_schema(spark, tmp_path):
    """A resumed stage is read with the schema its manifest recorded, so
    the read submits no inference job; a manifest without a schema still
    reads, by inference."""
    import json

    from minhashsketch_spark.sources.io import StageStore

    store = StageStore(spark, str(tmp_path / "ckpt"), "k")
    store.write("s", spark.range(0, 100, 1, 2).selectExpr("id", "CAST(id AS STRING) AS s"))
    out, jobs = jobs_in_group(spark, "stage_read", lambda: store.read("s"))
    assert jobs == []
    path = store._manifest_path("s")
    with open(path) as f:
        m = json.load(f)
    del m["schema"]
    with open(path, "w") as f:
        json.dump(m, f)
    inferred = store.read("s")
    assert inferred.schema == out.schema
    assert sorted(inferred.collect()) == sorted(out.collect())


@pytest.fixture(scope="module")
def bench_inputs(tmp_path_factory):
    """The benchmark workloads' seed-1 inputs (perfbench/inputs.py)."""
    from perfbench import inputs

    cache = str(tmp_path_factory.mktemp("bench_inputs"))
    return {"shortdoc": inputs.shortdoc(cache, 1, 2000),
            "longdoc": inputs.longdoc(cache, 1, 600)}


def _direct_bucket_metrics(signatures, cap):
    s = F.col("bucket_size")
    return bucket_stats(explode_bands(signatures)).agg(
        F.count("*").alias("buckets"),
        F.max(s).alias("max_bucket"),
        F.sum((s > cap).cast("long")).alias("buckets_over_cap"),
        F.sum(s).alias("band_rows"),
        F.sum(s * (s - 1) / 2).alias("band_pairs")).first().asDict()


@pytest.mark.parametrize("cap", [512, 4])
@pytest.mark.parametrize("workload", ["shortdoc", "longdoc"])
def test_candidates_manifest_carries_bucket_metrics(spark, tmp_path, bench_inputs,
                                                    workload, cap):
    """The bucket metrics observed on the verified write (which runs the
    band self-join) equal a direct aggregate over bucket_stats. At cap 4
    salting and chain reps engage, so the salted frame (and the
    observation in it) has three consumers."""
    from minhashsketch_spark.sources.io import StageStore

    cfg = PipelineConfig.from_threshold(k=9, m=1, t=128, threshold=0.7,
                                        seed=42, bucket_cap=cap)
    docs = spark.read.parquet(f"{bench_inputs[workload]}/docs.parquet")
    root = str(tmp_path / "ckpt")
    r = run_pipeline(spark, docs, cfg, checkpoint_root=root)
    m = StageStore(spark, root, cfg.config_hash()).manifest("verified")
    direct = _direct_bucket_metrics(r["signatures"], cap)
    assert m["metrics"] == {**direct,
                            "n_dup_pairs": r["verified"].filter("is_dup").count()}
    assert direct["band_rows"] == docs.count() * cfg.bands
    assert m["rows"] == r["candidates"].count()
    assert (direct["buckets_over_cap"] > 0) == (cap == 4)


def test_candidates_metrics_without_any_collision(spark, tmp_path):
    """No two docs share a band key: every candidates branch is empty, and
    the bucket metrics must still reach the verified manifest."""
    from minhashsketch_spark.sources.io import StageStore

    docs = spark.createDataFrame(
        [(f"u{i}", " ".join(f"w{i}x{j}" for j in range(40))) for i in range(5)],
        "url string, text string")
    root = str(tmp_path / "ckpt")
    r = run_pipeline(spark, docs, CFG, checkpoint_root=root)
    m = StageStore(spark, root, CFG.config_hash()).manifest("verified")
    assert m["rows"] == 0
    direct = _direct_bucket_metrics(r["signatures"], CFG.bucket_cap)
    assert m["metrics"] == {**direct, "n_dup_pairs": 0}
    assert direct == {
        "buckets": 5 * CFG.bands, "max_bucket": 1, "buckets_over_cap": 0,
        "band_rows": 5 * CFG.bands, "band_pairs": 0.0}


# jobs one run_pipeline pass submits over the longdoc bench input: 14 with
# the band self-join inside the verified write (16 when it wrote a
# candidates stage of its own)
PIPELINE_LONGDOC_JOBS = 14


def test_pipeline_pass_job_count(spark, tmp_path, bench_inputs):
    """One pass writes three stages in a pinned number of jobs, and a
    resumed pass submits none."""
    import os

    docs = spark.read.parquet(f"{bench_inputs['longdoc']}/docs.parquet")
    root = str(tmp_path / "ckpt")
    cfg = PipelineConfig.from_threshold(k=9, m=1, t=128, threshold=0.7, seed=42)
    _, jobs = jobs_in_group(spark, "pipeline_pass",
                            lambda: run_pipeline(spark, docs, cfg, checkpoint_root=root))
    assert len(jobs) <= PIPELINE_LONGDOC_JOBS
    assert sorted(f for f in os.listdir(os.path.join(root, cfg.config_hash()))
                  if f.endswith(".manifest.json")) == [
        "clusters.manifest.json", "signatures.manifest.json", "verified.manifest.json"]
    again, jobs = jobs_in_group(spark, "pipeline_resume",
                                lambda: run_pipeline(spark, docs, cfg, checkpoint_root=root))
    assert again["timings"] == {} and jobs == []

def test_containment_asymmetric_overlap(spark):
    """containment_a ~ 1 when A's shingles all appear in B (A embedded in
    B) while jaccard stays low — the asymmetric signal verified_pairs
    exposes with with_containment=True."""
    a_text = "the quick brown fox jumps over the lazy dog tail"
    b_text = a_text + " " + " ".join(f"filler{i} pad words here" for i in range(30))
    docs = spark.createDataFrame([("a", a_text), ("b", b_text)],
                                 "url string, text string")
    sigs = compute_signatures(docs, CFG)
    pairs = spark.createDataFrame([("a", "b")], "url_a string, url_b string")
    r = verified_pairs(pairs, sigs, docs, CFG, with_containment=True).collect()[0]
    assert r["containment_a"] == 1.0          # every A-shingle is in B
    assert r["containment_b"] < 0.3
    assert r["jaccard"] == r["containment_b"]  # A subset of B => jacc = |A|/|B|
