"""Physical-plan audits: the properties that matter at 100 TB must be
visible in .explain — column pruning into the scan, predicate pushdown,
broadcast of small dims, and no Python in JVM-expressible stages."""

import pytest

from pyspark.sql import functions as F

from minhashsketch_spark.config import PipelineConfig

from conftest import jobs_in_group

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_signature_scan_prunes_to_url_text(spark):
    """The documents scan under the signature UDF must read only
    (url, text) — html/warc_ts/lang bytes never leave parquet."""
    from minhashsketch_spark.operators.signatures import compute_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.format_string("doc-%08d", F.col("doc_id")).alias("url"), "text",
        "lang", "source")
    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    plan = _plan(compute_signatures(docs, cfg))
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "text" in scan[0]
    assert "lang" not in scan[0] and "source" not in scan[0]


def test_filter_pushdown_reaches_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02")) \
        .select("l_returnflag", "l_quantity")
    plan = _plan(li)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_small_dim_join_broadcasts(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    j = (o.join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .groupBy("n_name").count())
    assert "BroadcastHashJoin" in _plan(j)


def test_minhash_estimate_is_jvm_side(spark):
    """m=1 verification must stay in whole-stage codegen — no Python eval
    (ArrowEvalPython/BatchEvalPython) anywhere in the pair-scoring plan."""
    from minhashsketch_spark.operators.verify import minhash_estimate

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    sigs = spark.createDataFrame(
        [("a", [1, 2], ), ("b", [1, 3])], schema="url string, sig array<bigint>")
    pairs = spark.createDataFrame([("a", "b")], schema="url_a string, url_b string")
    plan = _plan(minhash_estimate(pairs, sigs, cfg))
    assert "EvalPython" not in plan  # zip_with equality is a JVM expression


def test_text_operators_are_jvm_side(spark):
    from minhashsketch_spark.operators import text as TX
    from minhashsketch_spark.operators.dedup import simhash_jvm

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (TX.token_stats(docs), TX.quality_score(docs),
               TX.language_id(docs), TX.md5_fingerprint(docs),
               simhash_jvm(docs)):
        assert "EvalPython" not in _plan(df)


def test_simhash_default_is_zero_shuffle(spark):
    """The default simhash is a per-document narrow map: its plan must
    carry NO key shuffle (the JVM spelling pays two hash-partitioned
    shuffles + a 60-aggregate codegen compile; the Arrow map pays neither).
    The only Exchange allowed is ensure_parallelism's ROUND-ROBIN
    repartition — the single-row-group testdata guard, absent on a real
    multi-file table."""
    from minhashsketch_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simhash(docs))
    assert "hashpartitioning" not in plan, plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "text" in scan[0] and "lang" not in scan[0]


def test_lsh_candidates_no_cartesian(spark):
    """The candidate join must be an equi-join on (band_key, salt) — never
    a cartesian/broadcast-nested-loop pair scan."""
    from minhashsketch_spark.operators.lsh import candidate_pairs
    from minhashsketch_spark.operators.signatures import compute_signatures
    from minhashsketch_spark.sources.corpus import corpus_dataframe

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    docs, _ = corpus_dataframe(spark, n_docs=50, seed=2)
    plan = _plan(candidate_pairs(compute_signatures(docs, cfg), cfg))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_stats_no_shuffle(spark):
    """repetition_stats is a per-row filter signal: the plan must be a pure
    narrow map — no Exchange, no Python eval, scan pruned to (doc_id, text)."""
    from minhashsketch_spark.operators.text import repetition_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(repetition_stats(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "text" in scan[0] and "lang" not in scan[0]


def test_tfidf_scan_prunes_and_stays_jvm(spark, monkeypatch):
    from minhashsketch_spark.operators import text as TX

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # lazy (above-the-gate) path: the corpus scan is in the final plan —
    # assert it prunes to (doc_id, text) and nothing crosses to Python
    monkeypatch.setattr(TX, "TFIDF_EAGER_DOC_LIMIT", 0)
    # over the doc-count gate the per-file byte probe must not run at all
    monkeypatch.setattr(TX, "_input_within", lambda *a: pytest.fail("probed"))
    plan = _plan(TX.tfidf_top_terms(docs, k=3))
    assert "EvalPython" not in plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "lang" not in scan[0] and "source" not in scan[0]
    # eager (r6 gated) path: tf is materialized once, so the final plan
    # hangs off the checkpointed RDD — exactly one tf subtree, no second
    # corpus scan, still no Python eval
    monkeypatch.undo()
    monkeypatch.setattr(TX, "TFIDF_EAGER_DOC_LIMIT", 2_000_000)
    plan = _plan(TX.tfidf_top_terms(docs, k=3))
    assert "EvalPython" not in plan
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan


def test_cross_corpus_join_no_cartesian(spark):
    """The incremental new-x-index join must be an equi-join on
    (band_key, salt) — never a cartesian, and new-side replication must be
    a lateral explode, not a join multiplication."""
    from minhashsketch_spark.operators.cross_dedup import cross_candidate_pairs
    from minhashsketch_spark.operators.signatures import compute_signatures
    from minhashsketch_spark.sources.corpus import corpus_dataframe

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    docs, _ = corpus_dataframe(spark, n_docs=60, seed=3)
    new = docs.limit(10)
    plan = _plan(cross_candidate_pairs(
        compute_signatures(new, cfg), compute_signatures(docs, cfg), cfg))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Bucketed signature-index pattern: two tables bucketed by the join
    key into the same bucket count must sort-merge-join with ZERO Exchange
    (the shuffle was paid once at write time — the brief's 'bucketing for
    co-located joins')."""
    from minhashsketch_spark.sources.io import write_bucketed

    a = spark.range(0, 2000).selectExpr("id AS url_id", "id * 2 AS sig_key")
    b = spark.range(0, 2000).selectExpr("id AS url_id", "id % 7 AS batch")
    write_bucketed(a, "t_sig_index", "url_id", 8, path=str(tmp_path / "a"))
    write_bucketed(b, "t_new_batch", "url_id", 8, path=str(tmp_path / "b"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("t_sig_index").join(spark.table("t_new_batch"), "url_id")
            plan = _plan(j)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            assert "Exchange" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sig_index")
        spark.sql("DROP TABLE IF EXISTS t_new_batch")


def test_band_index_candidate_join_never_shuffles_index_side(spark, tmp_path):
    """End-to-end plan of the production incremental path
    (build_band_index -> cross_candidate_pairs_indexed): both index-side
    scans (_bands on jk, _dim on band_key) must read Bucketed with no
    Exchange above them — the only shuffles in the daily run move the
    SMALL batch (by band_key, then jk) plus the final pair dedup. At
    10^12 index rows this is the difference between a daily index shuffle
    and none."""
    from minhashsketch_spark.operators.cross_dedup import (
        build_band_index, cross_candidate_pairs_indexed)
    from minhashsketch_spark.operators.signatures import compute_signatures
    from minhashsketch_spark.sources.corpus import corpus_dataframe

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1,
                         threshold=0.7, bucket_cap=16)
    docs, _ = corpus_dataframe(spark, n_docs=80, seed=3)
    par = F.pmod(F.xxhash64("url"), F.lit(2))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        build_band_index(spark, docs.filter(par == 0), cfg, "t_bidx",
                         n_buckets=8, path_root=str(tmp_path / "bidx"))
        sig_n = compute_signatures(docs.filter(par == 1), cfg).localCheckpoint()
        plan = _plan(cross_candidate_pairs_indexed(spark, sig_n, "t_bidx"))
        # both catalog scans stay bucketed (join key == bucket key exactly;
        # a wider join key set makes the planner fall back to a shuffle)
        assert plan.count("Bucketed: true") == 2, plan
        assert "disabled by query planner" not in plan, plan
        # index side contributes ZERO exchanges: the whole plan carries at
        # most 3 (new side by band_key, new side by jk, final pair dedup) —
        # formatted plans print each node twice (tree + detail), so count
        # the "(n) Exchange" detail headers
        import re

        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchanges <= 3, plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for s in ("sigs", "bands", "dim"):
            spark.sql(f"DROP TABLE IF EXISTS t_bidx_{s}")


def test_exact_dedup_corpus_never_shuffles_text(spark):
    """Round-5 rewrite (VERDICT r4 #2): the corpus-output exact dedup must
    shuffle only (md5 fingerprint, id) — NO Exchange in the plan may carry
    the text column. At 100 TB the old row_number-over-md5(text) window
    exchanged the raw corpus bytes as the FIRST stage of curate()."""
    import re

    from minhashsketch_spark.operators.dedup_corpus import exact_dedup_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup_corpus(docs))
    assert "Window" not in plan, plan
    # every "(n) Exchange" detail block lists its input attributes; none may
    # include the text column (the fingerprint stands in for it)
    blocks = re.split(r"^\(\d+\) ", plan, flags=re.M)
    for blk in blocks:
        if blk.startswith("Exchange"):
            inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", blk)
            assert inp, blk
            assert not re.search(r"\btext\b", inp.group(1)), blk


def test_url_operators_plan_shapes(spark):
    """normalize is a pure narrow map (zero Exchange); the blocklist filter
    is a broadcast anti-join — the corpus side is never hash-shuffled."""
    from minhashsketch_spark.operators.urls import (
        filter_blocked_domains, normalize_url_expr)

    docs = spark.range(0, 1000).selectExpr(
        "concat('http://h', id % 7, '.com/p/', id) AS url", "id")
    norm = docs.select(normalize_url_expr().alias("n"))
    assert "Exchange" not in _plan(norm)

    blocked = spark.createDataFrame([("h1.com",), ("h2.com",)], "domain string")
    plan = _plan(filter_blocked_domains(docs, blocked))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the only shuffle allowed is the blocklist's own dedup (a dimension of
    # thousands of rows) — the corpus side is never hash-partitioned
    import re

    for m in re.findall(r"hashpartitioning\((\w+)", plan):
        assert m.startswith("_bhost"), plan


def test_eager_if_python_materializes_only_udf_frames(spark):
    """The sizing fan-out guard: parquet/scan-backed frames must pass
    through untouched (copying a 10^12-row table into executor storage is
    the anti-pattern); UDF-backed frames must come back checkpointed so
    the UDF runs once across consumers."""
    from minhashsketch_spark.partitioning import eager_if_python

    scan = spark.read.parquet(f"{SF}/documents.parquet")
    assert eager_if_python(scan) is scan

    def ident(it):
        yield from it

    udf_frame = scan.select("doc_id").mapInPandas(ident, schema="doc_id bigint")
    out = eager_if_python(udf_frame)
    assert out is not udf_frame
    assert "LogicalRDD" in out._jdf.queryExecution().analyzed().toString()

    arrow_frame = scan.select("doc_id").mapInArrow(ident, schema="doc_id bigint")
    assert eager_if_python(arrow_frame) is not arrow_frame


def test_line_dedup_never_shuffles_text(spark):
    """r6 rewrite (VERDICT r5 #2): line-level dedup may shuffle only the
    (doc_id, xxhash64(line)) int pairs — NO Exchange in the plan may carry
    the text or line column. The boilerplate keys travel as a one-row
    broadcast array; cleaning is a narrow per-row split/filter."""
    import re

    from minhashsketch_spark.operators.dedup_corpus import line_dedup_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(line_dedup_stats(docs, min_df=2))
    blocks = re.split(r"^\(\d+\) ", plan, flags=re.M)
    for blk in blocks:
        if blk.startswith("Exchange"):
            inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", blk)
            assert inp, blk
            assert not re.search(r"\b(text|line)\b", inp.group(1)), blk


def test_verified_pairs_small_path_broadcasts_pair_spine(spark):
    """A small pair spine is BROADCAST into the attach joins, and no attach
    is forced into a shuffled hash join. No count() gate sizes the joins
    any more, so this is AQE's executed plan: its final plan, not the
    initial one, must show the broadcast."""
    from minhashsketch_spark.operators import verify as V
    from minhashsketch_spark.operators.lsh import candidate_pairs
    from minhashsketch_spark.operators.signatures import compute_signatures
    from minhashsketch_spark.sources.corpus import corpus_dataframe

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    docs, _ = corpus_dataframe(spark, n_docs=60, seed=4)
    sigs = compute_signatures(docs, cfg).localCheckpoint()
    pairs = candidate_pairs(sigs, cfg)
    ver = V.verified_pairs(pairs, sigs, docs, cfg, checkpoint_sigs=False)
    assert ver.collect()
    plan = _plan(ver)
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert "ShuffledHashJoin" not in final, plan


def test_candidate_pairs_plans_without_jobs(spark, tmp_path):
    """Building the band self-join over a parquet-backed signature table
    is pure planning: no count() probe or other Spark job may run before
    the caller consumes the pairs."""
    from minhashsketch_spark.operators.lsh import candidate_pairs
    from minhashsketch_spark.operators.signatures import compute_signatures
    from minhashsketch_spark.sources.corpus import corpus_dataframe

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    docs, _ = corpus_dataframe(spark, n_docs=60, seed=4)
    path = str(tmp_path / "sigs")
    compute_signatures(docs, cfg).write.parquet(path)
    sigs = spark.read.parquet(path)

    pairs, jobs = jobs_in_group(spark, "candidate_pairs_build",
                                lambda: candidate_pairs(sigs, cfg))
    assert jobs == []
    # the group is seen at all: consuming the pairs does run jobs in it
    n, jobs = jobs_in_group(spark, "candidate_pairs_consume", pairs.count)
    assert n > 0 and jobs


def test_minhash_estimate_over_parquet_candidates_broadcasts(spark, tmp_path):
    """A small parquet-backed candidates stage, passed with no hint, is
    sized by its file length: the estimate plans broadcast joins and no
    sort-merge join (run_pipeline's verified stage)."""
    from minhashsketch_spark.operators.lsh import candidate_pairs
    from minhashsketch_spark.operators.signatures import compute_signatures
    from minhashsketch_spark.operators.verify import minhash_estimate
    from minhashsketch_spark.sources.corpus import corpus_dataframe

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    docs, _ = corpus_dataframe(spark, n_docs=60, seed=4)
    paths = {n: str(tmp_path / n) for n in ("sigs", "cands")}
    compute_signatures(docs, cfg).write.parquet(paths["sigs"])
    sigs = spark.read.parquet(paths["sigs"])
    candidate_pairs(sigs, cfg).write.parquet(paths["cands"])
    plan = _plan(minhash_estimate(spark.read.parquet(paths["cands"]), sigs, cfg))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _build_jobs(spark, group, build) -> int:
    return len(jobs_in_group(spark, group, build)[1])


def test_verified_pairs_plans_without_jobs(spark):
    """No count() probe or checkpoint runs while verified_pairs is built,
    whatever checkpoint_pairs says."""
    from minhashsketch_spark.operators import verify as V
    from minhashsketch_spark.operators.lsh import candidate_pairs
    from minhashsketch_spark.operators.signatures import compute_signatures
    from minhashsketch_spark.sources.corpus import corpus_dataframe

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    docs, _ = corpus_dataframe(spark, n_docs=60, seed=4)
    sigs = compute_signatures(docs, cfg).localCheckpoint()
    for flag in (True, False):
        assert _build_jobs(spark, f"verified_pairs_build_{flag}", lambda: V.verified_pairs(
            candidate_pairs(sigs, cfg), sigs, docs, cfg, checkpoint_sigs=False,
            checkpoint_pairs=flag)) == 0


def test_pair_operators_build_runs_only_their_checkpoint(spark):
    """ngram_jaccard_pairs and embedding_near_dup_pairs each materialize one
    explode or UDF output while being built, and run no other job: no
    count() probe sizes their joins."""
    from minhashsketch_spark.operators import dedup as D
    from minhashsketch_spark.operators import similarity as S
    from minhashsketch_spark.partitioning import eager_if_python

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cases = {
        "ngram": (lambda: D.ngram_jaccard_pairs(docs, min_jaccard=0.02),
                  lambda: D.trigrams(docs).select(
                      "doc_id", F.xxhash64("trigram")).localCheckpoint()),
        "embedding": (lambda: S.embedding_near_dup_pairs(emb, threshold=0.4,
                                                         n_tables=4, n_planes=4),
                      lambda: eager_if_python(S.hyperplane_bands(emb, 4, 4, 7, 64))),
    }
    for name, (build, checkpoint) in cases.items():
        n = _build_jobs(spark, f"{name}_checkpoint", checkpoint)
        assert n >= 1 and _build_jobs(spark, f"{name}_build", build) == n, name


def test_verified_pairs_intersects_once_in_one_arrow_map(spark):
    """Both sides are shingled and intersected once per pair, in ONE
    Python map over the attach spine (url_a, url_b, est_sim, text_a,
    text_b) — never as a JVM array_intersect, and a downstream jaccard
    filter stays above the map (it cannot copy the intersection into a
    join condition)."""
    import re

    from minhashsketch_spark.operators import verify as V
    from minhashsketch_spark.operators.lsh import candidate_pairs
    from minhashsketch_spark.operators.signatures import compute_signatures
    from minhashsketch_spark.sources.corpus import corpus_dataframe

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    docs, _ = corpus_dataframe(spark, n_docs=60, seed=4)
    sigs = compute_signatures(docs, cfg).localCheckpoint()
    # materialized: candidate_pairs' own joins (its salt constraint, url_a <
    # url_b) carry conditions; this test is about the verify joins above them
    pairs = candidate_pairs(sigs, cfg).localCheckpoint()
    ver = V.verified_pairs(pairs, sigs, docs, cfg, checkpoint_sigs=False,
                           with_containment=True)
    plan = _plan(ver.filter(F.col("jaccard") >= cfg.threshold))
    assert "array_intersect" not in plan, plan
    tree = plan.split("\n\n")[0]
    maps = re.findall(r"(MapInArrow|MapInPandas|\w*EvalPython\w*) \((\d+)\)", tree)
    assert [m[0] for m in maps] == ["MapInArrow"], plan
    detail = re.search(rf"^\({maps[0][1]}\) MapInArrow\nInput \[5\]: \[([^\]]*)\]",
                       plan, re.M)
    assert detail, plan
    assert [re.sub(r"#\d+L?$", "", c) for c in detail.group(1).split(", ")] == \
        ["url_a", "url_b", "est_sim", "text_a", "text_b"], plan
    for cond in re.findall(r"Join condition: (.*)", plan):
        assert cond == "None", cond


def test_verified_pairs_over_parquet_plans_one_python_map(spark, tmp_path):
    """Over parquet-backed pairs, signatures and docs with both checkpoint
    options off, verification is one plan: exactly one Python map (the
    shingle-and-intersect map) and no LogicalRDD — no side table or spine
    is materialized into executor storage."""
    import re

    from minhashsketch_spark.operators import verify as V
    from minhashsketch_spark.operators.lsh import candidate_pairs
    from minhashsketch_spark.operators.signatures import compute_signatures
    from minhashsketch_spark.sources.corpus import corpus_dataframe

    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=1, threshold=0.7)
    docs, _ = corpus_dataframe(spark, n_docs=60, seed=4)
    paths = {n: str(tmp_path / n) for n in ("docs", "sigs", "pairs")}
    docs.select("url", "text").write.parquet(paths["docs"])
    docs = spark.read.parquet(paths["docs"])
    compute_signatures(docs, cfg).write.parquet(paths["sigs"])
    sigs = spark.read.parquet(paths["sigs"])
    candidate_pairs(sigs, cfg).write.parquet(paths["pairs"])
    pairs = spark.read.parquet(paths["pairs"])
    ver = V.verified_pairs(pairs, sigs, docs, cfg, checkpoint_sigs=False,
                           checkpoint_pairs=False,
                           est_gate=V.est_prefilter_gate(cfg))
    plan = _plan(ver)
    tree = plan.split("\n\n")[0]
    maps = re.findall(r"(MapInArrow|MapInPandas|\w*EvalPython\w*) \(\d+\)", tree)
    assert maps == ["MapInArrow"], plan
    assert "LogicalRDD" not in ver._jdf.queryExecution().optimizedPlan().toString()
    assert "Scan ExistingRDD" not in plan, plan


def test_embedding_near_dup_attach_is_broadcast(spark):
    """A small parquet vector table, sized by its file statistics (no
    hint), makes the exact-cosine attaches broadcast EQUI joins — the
    candidate set is never sort-merge-joined against the vector table,
    and the cosine fold must NOT be folded into
    a join condition (Catalyst would evaluate the whole dot product per
    matched row on top of the projection's copy; the dedup aggregate
    between projection and threshold filter is the pushdown barrier)."""
    import re

    from minhashsketch_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(embedding_near_dup_pairs(emb, threshold=0.4,
                                          n_tables=4, n_planes=4))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for cond in re.findall(r"Join condition: (.*)", plan):
        assert "zip_with" not in cond, cond
