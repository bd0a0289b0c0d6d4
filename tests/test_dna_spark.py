"""SURVEY.md §5.2: Spark ≡ NumPy — signatures computed through mapInPandas
equal the local parity kernel bit-for-bit, and the Spark FASTA reader
equals the reference reader. Each check runs on the reference's own clip
FASTAs (when present) and on seeded synthetic FASTAs written per test."""

import numpy as np
import pytest

from minhashsketch_spark.core import compute_sim, fasta_to_string, gen_sig, generate_hashes_b
from minhashsketch_spark.operators.dna import dna_signatures, dna_similarity, fasta_documents

from __spark_entry__ import _CLIPS
from conftest import requires_clips


def _write_synthetic(tmp_path):
    """Three seeded FASTAs in the clip shape: a header line, then the
    sequence wrapped at 70 columns with one empty line inside. Files 2 and
    3 are 5% / 10% point mutations of file 1, so their similarities are
    neither 0 nor 1."""
    rng = np.random.default_rng(7)
    base = rng.choice(list("ACGT"), size=3000)
    paths = []
    for i in range(3):
        seq = base.copy()
        flip = rng.random(seq.size) < 0.05 * i
        seq[flip] = rng.choice(list("ACGT"), size=int(flip.sum()))
        text = "".join(seq)
        lines = [text[j:j + 70] for j in range(0, len(text), 70)]
        lines.insert(len(lines) // 2, "")
        path = tmp_path / f"synthetic_{i + 1}.fasta"
        path.write_text(f">synthetic_{i + 1}\n" + "\n".join(lines) + "\n")
        paths.append(str(path))
    return paths


@pytest.fixture(params=[pytest.param("reference", marks=requires_clips), "synthetic"])
def fasta_paths(request, tmp_path):
    if request.param == "reference":
        return _CLIPS
    return _write_synthetic(tmp_path)


def _name(path):
    return path.split("/")[-1].removesuffix(".fasta")


def test_fasta_reader_parity(spark, fasta_paths):
    df = fasta_documents(spark, fasta_paths)
    got = {r["doc_id"]: r["sequence"] for r in df.collect()}
    for p in fasta_paths:
        _, want = fasta_to_string(p)
        assert got[_name(p)] == want  # byte-identical (src/Utils.cu:20-26)


def test_spark_dna_signatures_bit_for_bit(spark, fasta_paths):
    k, m, t, seed = 5, 10, 10, 123
    docs = fasta_documents(spark, fasta_paths)
    sdf = dna_signatures(docs, k, m, t, seed)
    got = {r["doc_id"]: np.array(r["sig"], dtype=np.int64).view(np.uint64).reshape(t, m)
           for r in sdf.collect()}
    bs = generate_hashes_b(t, seed)
    for p in fasta_paths:
        _, seq = fasta_to_string(p)
        want = gen_sig(seq.encode(), k, m, t, hashes_b=bs)
        assert np.array_equal(got[_name(p)], want)


def test_spark_dna_similarity_matches_reference_estimator(spark, fasta_paths):
    k, m, t, seed = 5, 10, 10, 123
    docs = fasta_documents(spark, fasta_paths)
    sims = dna_similarity(dna_signatures(docs, k, m, t, seed), t, m).collect()
    bs = generate_hashes_b(t, seed)
    sigs = {}
    for p in fasta_paths:
        _, seq = fasta_to_string(p)
        sigs[_name(p)] = gen_sig(seq.encode(), k, m, t, hashes_b=bs)
    assert len(sims) == 3  # C(3,2)
    for r in sims:
        want = compute_sim(sigs[r["doc_a"]], sigs[r["doc_b"]])
        assert r["similarity"] == want
