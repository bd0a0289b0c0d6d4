"""Driver-contract simulation: run every queries() entry at sf0.01 and
compare against oracle_sql() via DuckDB exactly like the driver does
(row count + schema + order-insensitive values, columns sorted by name)."""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from conftest import requires_clips
from measure import CLIP_QUERIES, TABLES, _norm

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


ORACLES = sorted(entry_mod.oracle_sql().keys())
ALL = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=requires_clips) if n in CLIP_QUERIES else n
    for n in ORACLES])
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    ores = ddb.execute(entry_mod.oracle_sql()[name]).fetchall()
    ocols = [d[0] for d in ddb.description]
    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(ores), f"{name}: row count {len(srows)} vs {len(ores)}"
    sn, on = _norm(srows, scols), _norm(ores, ocols)
    mismatches = [i for i, (a, b) in enumerate(zip(sn, on)) if a != b]
    assert not mismatches, f"{name}: first mismatch {sn[mismatches[0]]} vs {on[mismatches[0]]}"


@pytest.mark.parametrize("name", [n for n in ALL if n not in ORACLES])
def test_rows_only_queries_run(spark, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["url_a", "url_b", "est_sim", "jaccard", "is_dup"]


def test_spark_xxhash64_long_replica(spark):
    """The IVF oracle's pure-Python xxhash64 replica must match Spark's
    xxhash64 on BIGINTs exactly — the codebook sample selection depends on
    it bit-for-bit."""
    from pyspark.sql import functions as F

    ids = list(range(0, 500)) + [-1, -17, 2**62, -(2**62), 123456789012345]
    df = spark.createDataFrame([(i,) for i in ids], "vec_id long")
    got = {r["vec_id"]: r["h"]
           for r in df.select("vec_id", F.xxhash64("vec_id").alias("h")).collect()}
    for i in ids:
        assert got[i] == entry_mod._spark_xxhash64_long(i), i


def test_ivf_codebook_replica_is_bit_identical(spark):
    """_ivf_centroid_replica (pyarrow + shared kmeans_fit) must reproduce
    the Spark-side fit_ivf_centroids codebook bit-for-bit at the oracle's
    sf — the only part of embedding_topk_ivf the SQL cannot recompute."""
    import numpy as np

    from minhashsketch_spark.operators.similarity import fit_ivf_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    spark_c = fit_ivf_centroids(emb, n_centroids=16, seed=7)
    oracle_c = entry_mod._ivf_centroid_replica(SF_DIR, n_centroids=16, seed=7)
    assert spark_c.shape == oracle_c.shape
    assert np.array_equal(spark_c, oracle_c)
