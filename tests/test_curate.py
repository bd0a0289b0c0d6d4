"""Composed curation pipeline: monotone accounting, dedup applied,
byte-identical surviving text."""

from minhashsketch_spark.config import PipelineConfig
from minhashsketch_spark.curate import curate
from minhashsketch_spark.sources.corpus import corpus_dataframe

CFG = PipelineConfig(k=9, m=1, t=32, bands=8, rows=4, seed=7, threshold=0.7)


def test_curate_end_to_end(spark):
    docs_df, _ = corpus_dataframe(spark, n_docs=150, seed=21)
    out = curate(spark, docs_df, CFG, min_quality=10.0,
                 langs=("en", "unknown"))
    acc = out["accounting"]
    assert acc["input"] == 150
    # each step only removes rows
    assert acc["input"] >= acc["after_exact_dedup"] >= acc["after_near_dedup"] \
        >= acc["after_quality_lang"]
    # dedup really removed something (corpus plants exact + near dups)
    assert acc["after_near_dedup"] < acc["input"]
    assert acc["after_quality_lang"] > 0
    # byte-identical text per url for every survivor
    orig = {r["url"]: r["text"] for r in docs_df.select("url", "text").collect()}
    for r in out["curated"].select("url", "text").collect():
        assert orig[r["url"]] == r["text"]
    # curated schema preserves the input_hint columns
    assert set(out["curated"].columns) == {"url", "warc_ts", "html", "text", "lang"}


def test_curate_keeper_best_keeps_highest_quality(spark, tmp_path):
    """keeper='best' must keep each near-dup cluster's highest-quality
    member, where keeper='min' keeps the min url."""
    from pyspark.sql import functions as F

    from minhashsketch_spark.config import PipelineConfig
    from minhashsketch_spark.curate import curate

    base = " ".join(f"alpha{i} beta{i}" for i in range(30))
    rows = [
        # a near-dup pair: u-a has digits (lower quality), u-b is clean
        ("u-a", base + " tail one 123456789012345678901234567890"),
        ("u-b", base + " tail two"),
        # an unclustered doc
        ("u-z", " ".join(f"solo{i} token{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    cfg = PipelineConfig(k=9, m=1, t=16, bands=4, rows=4, seed=3, threshold=0.7)

    kept_min = {r["url"] for r in curate(
        spark, docs, cfg, min_quality=0.0, langs=("unknown",),
        checkpoint_root=str(tmp_path / "c1"), keeper="min")["curated"].collect()}
    kept_best = {r["url"] for r in curate(
        spark, docs, cfg, min_quality=0.0, langs=("unknown",),
        checkpoint_root=str(tmp_path / "c2"), keeper="best")["curated"].collect()}
    assert kept_min == {"u-a", "u-z"}   # lexicographic min
    assert kept_best == {"u-b", "u-z"}  # higher quality (no digit penalty)


def test_curate_empty_checkpoint_root_uses_temp_root(spark, tmp_path,
                                                   monkeypatch):
    """checkpoint_root="" means no root given, as in run_pipeline: every
    stage goes to an auto-removed temp root, nothing into the working
    directory."""
    monkeypatch.chdir(tmp_path)
    docs_df, _ = corpus_dataframe(spark, n_docs=40, seed=21)
    curate(spark, docs_df, CFG, checkpoint_root="")
    assert list(tmp_path.iterdir()) == []


def test_curate_with_benchmark_decontaminates(spark):
    """--benchmark wiring: a benchmark built from one surviving doc's text
    must remove exactly the docs sharing a 13-gram with it (itself + any
    exact/near dups of it), with accounting showing the extra step."""
    from pyspark.sql import functions as F

    docs_df, _ = corpus_dataframe(spark, n_docs=150, seed=21)
    base = curate(spark, docs_df, CFG, min_quality=10.0,
                  langs=("en", "unknown"))
    survivors = base["curated"].select("url", "text").collect()
    victim = sorted((r["url"], r["text"]) for r in survivors)[0]
    bench = spark.createDataFrame([(victim[1],)], "text string")

    out = curate(spark, docs_df, CFG, min_quality=10.0,
                 langs=("en", "unknown"), benchmark=bench)
    acc = out["accounting"]
    assert "after_decontam" in acc
    assert acc["after_decontam"] < acc["after_quality_lang"]
    kept = {r["url"] for r in out["curated"].select("url").collect()}
    assert victim[0] not in kept
    # every removed doc really shares a 13-gram with the benchmark text
    from minhashsketch_spark.operators.decontam import contamination_stats

    removed = {r["url"] for r in base["curated"].select("url").collect()} - kept
    stats = {r["url"]: r["contaminated"] for r in contamination_stats(
        base["curated"], bench, n=13, id_col="url").collect()}
    assert all(stats[u] for u in removed)
    assert not any(stats[u] for u in kept)


def test_curate_with_robots_filters_first(spark):
    """--robots wiring: disallowed urls are gone from the output, the
    accounting shows the step, and the stage key depends on the policy
    (different robots -> no stale resume)."""
    docs_df, _ = corpus_dataframe(spark, n_docs=120, seed=21)
    # corpus urls are https://site{i%n_sites}.example/page/{i}; disallow
    # one site's /page prefix entirely
    robots = spark.createDataFrame(
        [("site1.example", "User-agent: *\nDisallow: /page")],
        "domain string, robots_txt string")
    out = curate(spark, docs_df, CFG, min_quality=10.0,
                 langs=("en", "unknown"), robots=robots)
    acc = out["accounting"]
    assert acc["after_robots"] < acc["input"]
    kept = [r["url"] for r in out["curated"].select("url").collect()]
    assert kept and all("site1.example" not in u for u in kept)


def test_curate_rejects_bad_keeper_before_any_job(spark):
    """An invalid keeper raises before curate submits a single Spark job."""
    import pytest

    from conftest import jobs_in_group

    docs_df, _ = corpus_dataframe(spark, n_docs=20, seed=21)
    with pytest.raises(ValueError, match="keeper"):
        jobs_in_group(spark, "bad_keeper",
                      lambda: curate(spark, docs_df, CFG, keeper="bogus"))
    assert not spark.sparkContext.statusTracker().getJobIdsForGroup("bad_keeper")


def test_curate_rejects_general_m_before_any_job(spark, tmp_path):
    """A config with m != 1 raises before curate submits a Spark job or
    writes a stage."""
    import pytest

    from conftest import jobs_in_group

    docs_df, _ = corpus_dataframe(spark, n_docs=20, seed=21)
    cfg = PipelineConfig(k=9, m=2, t=128, bands=32, rows=4, seed=7, threshold=0.7)
    root = tmp_path / "ckpt"
    with pytest.raises(ValueError, match="m=2"):
        jobs_in_group(spark, "bad_m",
                      lambda: curate(spark, docs_df, cfg, checkpoint_root=str(root)))
    assert not spark.sparkContext.statusTracker().getJobIdsForGroup("bad_m")
    assert not list(root.rglob("*.manifest.json"))


def test_curate_accounting_equals_direct_counts(spark, tmp_path):
    """With robots and benchmark given, every accounting value (observed on
    the stage writes) equals a direct count of that step, and the steps
    are listed in pipeline order."""
    from minhashsketch_spark.operators.decontam import decontaminate
    from minhashsketch_spark.operators.dedup_corpus import (
        exact_dedup_corpus,
        near_dedup_corpus,
    )
    from minhashsketch_spark.operators.robots import filter_robots_disallowed
    from minhashsketch_spark.operators.text import detected_lang_expr, quality_score_expr

    docs_df, _ = corpus_dataframe(spark, n_docs=150, seed=21)
    robots = spark.createDataFrame(
        [("site1.example", "User-agent: *\nDisallow: /page")],
        "domain string, robots_txt string")
    victim = sorted(r["text"] for r in docs_df.select("text").collect())[0]
    bench = spark.createDataFrame([(victim,)], "text string")
    out = curate(spark, docs_df, CFG, min_quality=10.0, langs=("en", "unknown"),
                 checkpoint_root=str(tmp_path / "ckpt"), robots=robots,
                 benchmark=bench)
    acc = out["accounting"]
    assert list(acc) == ["input", "after_robots", "after_exact_dedup",
                         "after_near_dedup", "after_quality_lang",
                         "after_decontam"]

    allowed = filter_robots_disallowed(docs_df, robots, url_col="url")
    exact = exact_dedup_corpus(allowed, id_col="url", text_col="text")
    near = near_dedup_corpus(exact, out["clusters"], url_col="url")
    filtered = near.filter((quality_score_expr("text") >= 10.0)
                           & detected_lang_expr("text").isin("en", "unknown"))
    direct = [docs_df, allowed, exact, near, filtered,
              decontaminate(filtered, bench, id_col="url")]
    assert list(acc.values()) == [df.count() for df in direct]
    assert acc["after_decontam"] < acc["after_quality_lang"]
    assert out["curated"].count() == acc["after_decontam"]


def test_curate_accounting_survives_empty_stages(spark, tmp_path):
    """A robots policy that disallows every page empties every stage after
    the input; the step counts observed upstream of the empty stages must
    still reach the accounting."""
    docs_df, _ = corpus_dataframe(spark, n_docs=60, seed=21)
    robots = spark.createDataFrame(
        [(f"site{i}.example", "User-agent: *\nDisallow: /") for i in range(60)],
        "domain string, robots_txt string")
    out = curate(spark, docs_df, CFG, checkpoint_root=str(tmp_path / "ckpt"),
                 robots=robots)
    assert out["accounting"] == {"input": 60, "after_robots": 0,
                                 "after_exact_dedup": 0, "after_near_dedup": 0,
                                 "after_quality_lang": 0}


def test_curate_resume_runs_no_job(spark, tmp_path):
    """A second curate on the same checkpoint root reads every stage back
    (manifest schemas, no inference job) and submits no Spark job; with
    only min_quality changed it re-runs just the curated stage and returns
    the new filter's rows."""
    import os

    from conftest import jobs_in_group

    docs_df, _ = corpus_dataframe(spark, n_docs=80, seed=21)
    root = str(tmp_path / "ckpt")
    kw = dict(langs=("en", "unknown"), checkpoint_root=root)
    # every doc of this corpus scores 100: nothing passes 101, all pass 10
    first = curate(spark, docs_df, CFG, min_quality=101.0, **kw)
    base = os.path.join(root, os.listdir(root)[0])
    manifests = {f: os.path.getmtime(os.path.join(base, f))
                 for f in os.listdir(base) if f.endswith(".manifest.json")}

    again, jobs = jobs_in_group(spark, "curate_resume", lambda: curate(
        spark, docs_df, CFG, min_quality=101.0, **kw))
    assert jobs == []
    assert again["accounting"] == first["accounting"]

    looser = curate(spark, docs_df, CFG, min_quality=10.0, **kw)
    added = {f for f in os.listdir(base)
             if f.endswith(".manifest.json")} - set(manifests)
    assert len(added) == 1 and added.pop().startswith("curated-")
    assert all(os.path.getmtime(os.path.join(base, f)) == t
               for f, t in manifests.items())
    assert first["accounting"]["after_quality_lang"] == 0
    acc = looser["accounting"]
    assert acc["after_quality_lang"] == acc["after_near_dedup"] \
        == first["accounting"]["after_near_dedup"] == looser["curated"].count() > 0
