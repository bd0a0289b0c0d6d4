"""measure.py end to end: per-query records, skips and errors, the oracle
check, each run as a subprocess."""

import json
import os
import subprocess
import sys

from test_entry_oracle import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _measure(*args):
    return subprocess.run([sys.executable, os.path.join(ROOT, "measure.py"), *args],
                          cwd=ROOT, capture_output=True, text=True, timeout=600)


def test_queries_times_each_and_skips_absent_clips(tmp_path):
    out = tmp_path / "q.json"
    r = _measure("queries", "--sf", os.path.join(os.path.dirname(SF_DIR), "sf0.001"),
                 "--reps", "1", "--out", str(out),
                 "md5_fingerprint", "token_stats", "dna_similarity")
    assert r.returncode == 0, r.stderr[-2000:]
    art = json.loads(out.read_text())
    recs = art["queries"]
    assert list(recs) == ["md5_fingerprint", "token_stats", "dna_similarity"]
    for name in ("md5_fingerprint", "token_stats"):
        assert len(recs[name]["reps"]) == 1
        assert recs[name]["best_s"] == recs[name]["reps"][0]["s"] > 0
        rep = recs[name]["reps"][0]
        assert {"loadavg1", "steal_share"} <= set(rep)
        # every query here runs at least one job, and no job outlasts its rep
        assert rep["jobs"] >= 1 and 0 < rep["jobs_busy_s"] <= rep["s"]
    # the clip FASTAs are absent wherever the reference checkout is
    from __spark_entry__ import _CLIPS

    if not all(os.path.exists(p) for p in _CLIPS):
        assert recs["dna_similarity"] == {"skipped": "input absent"}
        assert art["skipped"] == ["dna_similarity"]
    assert art["failed"] == []
    assert art["host"]["cpus"] >= 1 and art["source_sha256"]


def test_queries_records_an_error_and_exits_nonzero(tmp_path):
    out = tmp_path / "q.json"
    empty = tmp_path / "empty"
    empty.mkdir()
    r = _measure("queries", "--sf", str(empty), "--reps", "1", "--out", str(out),
                 "token_stats")
    assert r.returncode == 1
    art = json.loads(out.read_text())
    assert "PATH_NOT_FOUND" in art["queries"]["token_stats"]["err"]
    assert art["failed"] == ["token_stats"] and art["skipped"] == []


def test_correctness_matches_the_oracle(tmp_path):
    out = tmp_path / "c.json"
    r = _measure("correctness", "--sf", SF_DIR, "--out", str(out), "md5_fingerprint")
    assert r.returncode == 0, r.stderr[-2000:]
    rec = json.loads(out.read_text())["queries"]["md5_fingerprint"]
    assert rec["err"] is None and rec["hash_match"] is True
    assert rec["spark_rows"] == rec["oracle_rows"] > 0


def test_jobs_since_counts_stream_thread_jobs(spark, tmp_path):
    """A foreachBatch handler's jobs run on the stream thread, under the
    stream's own job group: the id range counts them with the rest."""
    import measure

    spark.range(10).write.parquet(str(tmp_path / "in"))
    seen = []
    lo = measure._next_job(spark)
    q = (spark.readStream.schema("id bigint").parquet(str(tmp_path / "in"))
         .writeStream.foreachBatch(lambda df, bid: seen.append(df.count()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    rec = measure._jobs_since(spark, lo)
    assert seen == [10]
    assert rec["jobs"] >= 1 and rec["jobs_busy_s"] > 0
