"""Iceberg facade control flow (VERDICT r4 ask #9): the sandbox has no
iceberg-spark-runtime jar, so the Iceberg branch of sources/io.py has never
executed. Pin the CONTROL FLOW — with iceberg "available" the facade tries
format("iceberg") first and falls back to parquet identically on failure —
so the first real-cluster run has no untested branching logic."""

import pytest

from minhashsketch_spark.sources import io as IO


@pytest.fixture
def fake_iceberg(monkeypatch):
    calls = {"read": 0, "write": 0}

    def yes(spark):
        return True

    monkeypatch.setattr(IO, "iceberg_available", yes)
    return calls


def test_read_tries_iceberg_then_falls_back(spark, tmp_path, fake_iceberg,
                                            monkeypatch):
    p = str(tmp_path / "t")
    spark.range(0, 10).write.parquet(p)

    real_read = spark.read

    class SpyReader:
        def __init__(self):
            self.formats = []

        def format(self, fmt):
            self.formats.append(fmt)
            return self

        def load(self, path):
            raise Exception("no iceberg catalog in sandbox")

        def parquet(self, path):
            return real_read.parquet(path)

    spy = SpyReader()
    monkeypatch.setattr(type(spark), "read", property(lambda self: spy))
    try:
        df = IO.read_table(spark, p)
    finally:
        monkeypatch.undo()
    # tried iceberg first, then fell back to a working parquet read
    assert spy.formats == ["iceberg"]
    assert df.count() == 10


def test_read_skips_iceberg_for_parquet_suffix(spark, tmp_path, fake_iceberg):
    p = str(tmp_path / "t.parquet")
    spark.range(0, 7).write.parquet(p)
    # .parquet paths never take the iceberg branch even when available
    assert IO.read_table(spark, p).count() == 7


def test_write_falls_back_to_parquet_on_iceberg_failure(spark, tmp_path,
                                                        fake_iceberg):
    """writeTo(...).createOrReplace() fails without a configured catalog
    (exactly what a misconfigured cluster would do) — the facade must land
    the parquet fallback with identical contents."""
    p = str(tmp_path / "out")
    df = spark.range(0, 25).selectExpr("id", "id * 2 AS v")
    IO.write_table(df, p)  # iceberg_available=True -> try + fail + fallback
    back = spark.read.parquet(p)
    assert back.count() == 25
    assert {r["v"] for r in back.collect()} == {2 * i for i in range(25)}


def test_roundtrip_identical_with_and_without_iceberg(spark, tmp_path,
                                                      monkeypatch):
    df = spark.range(0, 50).selectExpr("id", "concat('u', id) AS u")
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    monkeypatch.setattr(IO, "iceberg_available", lambda s: True)
    IO.write_table(df, p1)
    monkeypatch.setattr(IO, "iceberg_available", lambda s: False)
    IO.write_table(df, p2)
    a = sorted(tuple(r) for r in IO.read_table(spark, p1).collect())
    b = sorted(tuple(r) for r in IO.read_table(spark, p2).collect())
    assert a == b


def test_iceberg_probed_once_per_context(spark, tmp_path, monkeypatch):
    """Each probe is a JVM Class.forName whose ClassNotFoundException is
    converted on the Python side; the classpath cannot change under a
    running context, so repeated reads and writes probe once."""
    import weakref

    probes = []
    real = IO._iceberg_on_classpath
    monkeypatch.setattr(IO, "_ICEBERG", weakref.WeakKeyDictionary())
    monkeypatch.setattr(IO, "_iceberg_on_classpath",
                        lambda s: probes.append(s) or real(s))
    for i in range(3):
        p = str(tmp_path / f"t{i}")
        IO.write_table(spark.range(0, 5), p)
        assert IO.read_table(spark, p).count() == 5
    assert len(probes) == 1
    assert IO.iceberg_available(spark) is real(spark)
