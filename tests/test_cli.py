"""CLI regression: the reference-style dna mode and error ergonomics."""

import subprocess
import sys

from __spark_entry__ import _CLIPS
from conftest import requires_clips


def _run(*args):
    return subprocess.run([sys.executable, "-m", "minhashsketch_spark", *args],
                          capture_output=True, text=True, timeout=300)


@requires_clips
def test_dna_cli_reference_output():
    r = _run("dna", _CLIPS[0], _CLIPS[1],
             "all", "-e", "--k=5", "--m=10", "--t=10", "--seed=123")
    assert r.returncode == 0
    # golden similarity from the reference's own compiled code
    assert "0.80000000" in r.stdout
    assert "minhash_parallel" in r.stdout
    assert "sig1:  size:10" in r.stdout


@requires_clips
def test_dna_cli_k_too_large():
    r = _run("dna", _CLIPS[0], _CLIPS[1], "--k=5000", "--t=1")
    assert r.returncode == 1
    assert "k cannot be greater" in r.stdout  # src/main.cu:222 wording


def test_dna_cli_missing_file():
    r = _run("dna", "/nope.fasta", "/nope2.fasta", "--k=5")
    assert r.returncode == 1
    assert "error: input not found" in r.stderr


def _docs_parquet(tmp_path, n_docs):
    import pandas as pd

    from minhashsketch_spark.sources.corpus import generate_corpus

    docs, _ = generate_corpus(n_docs=n_docs, seed=31)
    inp = str(tmp_path / "docs.parquet")
    pd.DataFrame(docs, columns=["url", "warc_ts", "html", "text", "lang"]) \
        .to_parquet(inp, index=False, coerce_timestamps="us",
                    allow_truncated_timestamps=True)
    return inp


def test_pipeline_cli_end_to_end(tmp_path):
    """The printed cluster row count (observed on the output write) is the
    row count of the written table."""
    import pyarrow.parquet as pq

    inp = _docs_parquet(tmp_path, 200)
    out = str(tmp_path / "clusters")
    r = _run("pipeline", "--input", inp, "--output", out,
             "--checkpoint", str(tmp_path / "ckpt"),
             "--t", "16", "--bands", "4", "--rows", "4")
    assert r.returncode == 0, r.stderr[-2000:]
    line = next(ln for ln in r.stdout.splitlines()
                if ln.startswith("clusters written: "))
    n = int(line.split()[2])
    assert n > 0
    assert n == pq.read_table(out).num_rows


def test_curate_cli_end_to_end(tmp_path):
    inp = _docs_parquet(tmp_path, 300)
    out = str(tmp_path / "curated")
    # permissive filters: the synthetic vocab rarely contains the en
    # stopword markers, so the language gate is widened to 'unknown' — the
    # CLI path under test is composition + accounting, not the heuristics
    r = _run("curate", "--input", inp, "--output", out,
             "--checkpoint", str(tmp_path / "ckpt"),
             "--min-quality", "0", "--langs", "en,unknown",
             "--t", "16", "--bands", "4", "--rows", "4")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "curated corpus written" in r.stdout
    acct = dict(line.split(": ") for line in r.stdout.splitlines()
                if ": " in line and not line.startswith("curated"))
    assert list(acct) == ["input", "after_exact_dedup", "after_near_dedup",
                          "after_quality_lang"]
    assert int(acct["after_exact_dedup"]) <= int(acct["input"]) == 300
    assert int(acct["after_near_dedup"]) <= int(acct["after_exact_dedup"])
    assert int(acct["after_quality_lang"]) == int(acct["after_near_dedup"])
