#!/usr/bin/env python
"""Host-sized measurements of the query surface and the near-dup engine.

    python measure.py queries --sf DIR [--reps N] [--plans TAG] [--out F] [NAME ...]
    python measure.py correctness --sf DIR [--out F] [NAME ...]  (DuckDB oracle check)
    python measure.py scaling prepare|run|full|ops [--docs N] [--cpus C] [--out F]

Sessions are ``perfbench.run``'s: ``local[nproc]``, memory from MemTotal. A failing
query or job is recorded and the run goes on (exit 1); artifacts go to ``BENCH/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

from perfbench.run import (WORK, _cpu_stat, _env, _loadavg, _mem_gb, _nproc,
                           _source_id, start_session, stop_session, warm_up)

ROOT = os.path.dirname(os.path.abspath(__file__))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
CLIP_QUERIES = ("dna_similarity", "dna_sketches")


def _norm(rows, cols):
    """Rows as the oracle check compares them: columns by name, floats to 9 places."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def val(v):
        return ("NaN" if math.isnan(v) else round(v, 9)) if isinstance(v, float) else v
    return sorted((tuple(val(r[i]) for i in order) for r in rows), key=repr)


def _facts(**extra) -> dict:
    return {"host": {"cpus": _nproc(), "mem_gb": round(_mem_gb(), 2)},
            **_source_id(), **extra, "loadavg_start": _loadavg()}


def _write(path: str, artifact: dict) -> None:
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump({**artifact, "loadavg_end": _loadavg()}, f, indent=1)
    print(f"artifact: {path}")


@contextlib.contextmanager
def session(cpus: int | None = None):
    """A warmed-up ``perfbench`` session and its run dir (removed on exit)."""
    run_dir, cpus = os.path.join(WORK, f"measure-{os.getpid()}"), cpus or _nproc()
    _env(run_dir)
    spark = start_session(run_dir, cpus, _mem_gb())
    try:
        warm_up(spark, cpus)  # and a shuffle, codegen and an Arrow UDF, off the clock
        spark.sql("SELECT id % 7 k, count(*) n FROM range(16384) GROUP BY k").mapInPandas(
            lambda it: it, "k bigint, n bigint").write.mode("overwrite").format("noop").save()
        yield spark, run_dir
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _settle(spark) -> None:
    """``bench.py``'s settle: no run's cached blocks or heap tax the next."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)


def each(spark, names, skipped, one) -> dict:
    """``one(name)`` per name, settling after each; records a raise or a skip."""
    out = {}
    for name in names:
        try:
            out[name] = {"skipped": "input absent"} if name in skipped else one(name)
        except Exception as e:  # recorded against the query; the run goes on
            traceback.print_exc()
            out[name] = {"err": f"{type(e).__name__}: {e}"[:500]}
        _settle(spark)
        print(json.dumps({name: out[name]}), file=sys.stderr, flush=True)
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _next_job(spark) -> int:
    """The id the next Spark job gets: one past the status store's newest."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # every job end recorded
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() + 1 if jobs.size() else 0


def _jobs_since(spark, lo: int) -> dict:
    """Jobs ``lo``.. by id, whatever their group (stream-thread jobs carry none), and
    the seconds in which at least one of them ran."""
    store, busy, until = spark.sparkContext._jsc.sc().statusStore(), 0, 0
    ids = range(lo, _next_job(spark))
    spans = sorted((j.submissionTime().get().getTime(), j.completionTime().get().getTime())
                   for j in map(store.job, ids))
    for start, end in spans:
        busy, until = busy + max(0, end - max(start, until)), max(until, end)
    return {"jobs": len(ids), "jobs_busy_s": round(busy / 1000, 3)}


def timed(spark, build, reps: int, plan=None, save=None) -> dict:
    """Each rep of ``build()`` through ``save`` (default: noop; a dict it returns joins
    the rep's seconds, loadavg, steal share and Spark jobs) and the best; ``plan``: plan path."""
    runs = []
    for r in range(reps):
        if r:
            _settle(spark)
        lo, load, st0, t0 = _next_job(spark), _loadavg()[0], _cpu_stat(), time.perf_counter()
        extra = (save or _noop)(build())
        dt, st1 = time.perf_counter() - t0, _cpu_stat()
        runs.append({"s": round(dt, 3), "loadavg1": load,  # steal: share of busy time
                     "steal_share": round((st1[0] - st0[0]) / max(1, st1[1] - st0[1]), 4),
                     **_jobs_since(spark, lo), **(extra or {})})
    if plan:
        os.makedirs(os.path.dirname(plan), exist_ok=True)
        with open(plan, "w") as f:
            f.write(build()._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    return {"reps": runs, "best_s": min(x["s"] for x in runs)}


def over_queries(a, kind: str, one, **facts) -> int:
    """``one(spark, name, query)`` per named query (default all); 1 if one failed."""
    import __spark_entry__ as entry_mod

    qs, art = entry_mod.queries(), _facts(sf=a.sf, **facts)
    qs = {n: qs[n] for n in a.names or qs}  # KeyError names an unknown query
    absent = set() if all(map(os.path.exists, entry_mod._CLIPS)) else set(qs) & set(CLIP_QUERIES)
    with session() as (spark, _):
        res = each(spark, qs, absent, lambda n: one(spark, n, qs[n]))
    best = [r["best_s"] for r in res.values() if "best_s" in r]
    bad = sorted(n for n, r in res.items() if r.get("err") or r.get("hash_match") is False)
    n_ok = len(res) - len(absent) - len(bad)
    _write(a.out or os.path.join(ROOT, "BENCH", f"{kind}_{os.path.basename(a.sf)}.json"),
           {**art, "ok": n_ok, **({"total_s": round(sum(best), 3)} if best else {}),
            "skipped": sorted(absent), "failed": bad, "queries": res})
    print(f"{n_ok} ok, {len(absent)} skipped, failed: {bad}")  # total_s: in the artifact
    return 1 if bad else 0


def correctness(a) -> int:
    """Each query's rows against its ``oracle_sql()`` entry in DuckDB."""
    import duckdb
    import __spark_entry__ as entry_mod

    oracles, con = entry_mod.oracle_sql(), duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{a.sf}/{t}.parquet'")

    def check(spark, name: str, q) -> dict:
        t0, sdf = time.time(), q(spark, a.sf)
        srows = [tuple(r) for r in sdf.collect()]
        rec = {"err": None, "spark_rows": len(srows), "oracle_rows": None, "schema_match": None,
               "rows_match": None, "hash_match": None}  # None: the query has no oracle
        if name in oracles:
            ores = con.execute(oracles[name]).fetchall()
            ocols = [d[0] for d in con.description]
            rec.update(oracle_rows=len(ores), schema_match=sorted(sdf.columns) == sorted(ocols),
                       rows_match=len(srows) == len(ores),
                       hash_match=_norm(srows, sdf.columns) == _norm(ores, ocols))
        return {**rec, "secs": round(time.time() - t0, 2)}
    return over_queries(a, "correctness", check)


def prepare(n_docs: int) -> str:
    """``generate_corpus(n_docs, seed=42)`` as parquet, written once."""
    import pandas as pd
    from minhashsketch_spark.sources.corpus import generate_corpus

    path = os.path.join(WORK, f"scaling-corpus-n{n_docs}.parquet")
    if not os.path.exists(path):
        os.makedirs(WORK, exist_ok=True)
        docs, _ = generate_corpus(n_docs=n_docs, seed=42)
        pd.DataFrame(docs, columns=["url", "warc_ts", "html", "text", "lang"]).to_parquet(
            f"{path}.tmp", index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
        os.replace(f"{path}.tmp", path)
    return path


def corpus_jobs(spark, docs, run_dir: str, step: str) -> dict:
    """``run``: the near-dup legs as ``run_pipeline`` stages them (signatures to parquet;
    candidates + estimate read back, pairs counted); ``ops``: five operators."""
    from pyspark.sql import Observation, functions as F

    from minhashsketch_spark.config import PipelineConfig
    from minhashsketch_spark.operators import (dedup_corpus as dc, lsh, signatures, text, urls,
                                               verify)

    if step == "run":
        cfg = PipelineConfig.from_threshold(k=9, m=1, t=128, threshold=0.7, seed=42)
        path = f"{run_dir}/signatures"

        def join_verify():
            sigs = spark.read.parquet(path)
            est = verify.minhash_estimate(lsh.candidate_pairs(sigs, cfg), sigs, cfg)
            return est.filter(est.est_sim >= cfg.threshold)

        def counted(df) -> dict:
            _noop(df.observe(obs := Observation(), F.count(F.lit(1)).alias("dup_pairs")))
            return obs.get
        return {"signatures": (lambda: signatures.compute_signatures(docs, cfg),
                               lambda df: df.write.mode("overwrite").parquet(path)),
                "join_verify": (join_verify, counted)}
    # the keeper's stand-in clusters, off the clock: exact-content groups of >= 2
    clusters = (docs.selectExpr("url", "min(url) OVER (PARTITION BY md5(text)) cluster_id",
                                "count(*) OVER (PARTITION BY md5(text)) n")
                .filter("n >= 2").drop("n").localCheckpoint())
    return {k: (build, None) for k, build in {
        "exact_dedup_corpus": lambda: dc.exact_dedup_corpus(docs, id_col="url", text_col="text"),
        "line_dedup": lambda: dc.line_dedup_stats(docs, id_col="url"),
        "url_dedup": lambda: urls.url_dedup_stats(docs),
        "domain_stats": lambda: urls.domain_stats(docs),
        "near_dedup_best": lambda: dc.near_dedup_corpus_best(docs, clusters,
                                                             text.quality_score_expr())}.items()}


def scaling(step: str, n_docs: int, cpus: int) -> dict:
    """The near-dup legs (``run``) or the operators (``ops``), best of 2, at local[cpus]."""
    with session(cpus) as (spark, run_dir):
        docs = spark.read.parquet(prepare(n_docs)).select("url", "text") \
            .repartition(16 * cpus).localCheckpoint()  # not cache(): clearCache keeps it
        n, jobs = docs.count(), corpus_jobs(spark, docs, run_dir, step)
        res = each(spark, jobs, (), lambda k: timed(spark, jobs[k][0], 2, save=jobs[k][1]))
    return {"cpus": cpus, "n_docs": n, "jobs": res}


def scaling_full(n_docs: int) -> None:
    """``scaling run`` via ``spark-submit`` at local[N] and local[4N], N = max(1, nproc // 4)."""
    prepare(n_docs)
    lo, art = max(1, _nproc() // 4), _facts(n_docs=n_docs, runs={})
    with tempfile.TemporaryDirectory(dir=WORK) as run_dir:
        _env(run_dir)  # inherited by spark-submit
        zip_path = shutil.make_archive(f"{run_dir}/pkg", "zip", ROOT, "minhashsketch_spark")
        for cpus in (lo, 4 * lo):  # raises if a leg did (its traceback is on the terminal)
            subprocess.run(
                ["spark-submit", "--master", f"local[{cpus}]",
                 "--driver-memory", f"{max(1, min(8, int(_mem_gb() // 4)))}g",  # = start_session
                 "--py-files", zip_path, os.path.abspath(__file__), "scaling", "run",
                 "--docs", str(n_docs), "--cpus", str(cpus), "--out", f"{run_dir}/{cpus}.json"],
                timeout=3600, check=True)
            with open(f"{run_dir}/{cpus}.json") as f:
                art["runs"][str(cpus)] = json.load(f)
    best = [{k: r["best_s"] for k, r in art["runs"][str(c)]["jobs"].items()} for c in (lo, 4 * lo)]
    speedup = sum(best[0].values()) / sum(best[1].values())
    _write(os.path.join(ROOT, "BENCH", f"scaling_n{n_docs}.json"), {
        **art, "N": lo, "speedup": round(speedup, 2), "efficiency": round(speedup / 4, 3),
        "leg_speedup": {k: round(best[0][k] / best[1][k], 2) for k in best[0]}})


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    for cmd in ("queries", "correctness"):
        s = sub.add_parser(cmd)
        s.add_argument("--sf", required=True, help="testdata scale-factor directory")
        s.add_argument("--out", default=None, help="artifact path")
        s.add_argument("names", nargs="*", help="queries to run (default: all)")
    sub.choices["queries"].add_argument("--reps", type=int, default=2)
    sub.choices["queries"].add_argument("--plans", default=None)
    s = sub.add_parser("scaling")
    s.add_argument("step", choices=("prepare", "run", "full", "ops"))
    s.add_argument("--docs", type=int, default=50000)
    s.add_argument("--cpus", type=int, default=_nproc(), help="run, ops: local[CPUS]")
    s.add_argument("--out", help="run, ops: artifact path")
    a = p.parse_args(argv)
    if a.cmd == "queries":
        return over_queries(a, "queries", lambda spark, name, q: timed(
            spark, lambda: q(spark, a.sf), a.reps,
            a.plans and os.path.join(ROOT, "plans", a.plans, f"{name}.txt")), reps=a.reps)
    if a.cmd == "correctness":
        return correctness(a)
    if a.step == "prepare":
        print(prepare(a.docs))
    elif a.step == "full":
        scaling_full(a.docs)
    else:  # scaling full reads each run's record at its --out
        res = {**_facts(n_docs=a.docs), **scaling(a.step, a.docs, a.cpus)}
        _write(a.out or os.path.join(ROOT, "BENCH", f"{a.step}_n{a.docs}.json"), res)
        return 1 if any("err" in r for r in res["jobs"].values()) else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
