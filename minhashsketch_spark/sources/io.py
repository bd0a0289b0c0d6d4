"""Table IO: Iceberg when available, parquet fallback (SURVEY.md §2.2).

The north_rule targets Iceberg tables of web pages; this sandbox has no
Iceberg runtime jar (verified: PySpark 4.1.2, no iceberg-spark-runtime on
the classpath), so every read/write goes through a thin facade that prefers
``format("iceberg")`` and falls back to parquet. Stage checkpoints (the
resumability mechanism) are tables keyed by config hash + stage name.
"""

from __future__ import annotations

import json
import os
import weakref

from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


_ICEBERG: weakref.WeakKeyDictionary[SparkContext, bool] = weakref.WeakKeyDictionary()


def _iceberg_on_classpath(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.SparkTable")
        return True
    except Exception:
        return False


def iceberg_available(spark: SparkSession) -> bool:
    """Probed once per SparkContext: the classpath cannot change under a
    running context, and each failed probe is a JVM ClassNotFoundException
    converted on the Python side (~25 ms)."""
    sc = spark.sparkContext
    if sc not in _ICEBERG:
        _ICEBERG[sc] = _iceberg_on_classpath(spark)
    return _ICEBERG[sc]


def read_table(spark: SparkSession, path: str,
               schema: StructType | None = None) -> DataFrame:
    """``schema``: the table's known schema — a parquet read then skips the
    footer-inference job a schema-less read runs."""
    if iceberg_available(spark) and not path.endswith(".parquet"):
        try:
            return spark.read.format("iceberg").load(path)
        except Exception:
            pass
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    if iceberg_available(df.sparkSession) and not path.endswith(".parquet"):
        try:
            df.writeTo(path).createOrReplace()
            return
        except Exception:
            pass
    df.write.mode(mode).parquet(path)


def _footer_row_counts(spark: SparkSession, files: list[str]) -> list[int]:
    """Row count of each parquet file, from its footer: driver-side reads
    through the file's Hadoop FileSystem, no Spark job. The read options
    are built once from the session's Hadoop conf and the JVM classes are
    resolved once: the options-less ``open`` took ~12 ms a file on local
    disk (4-core VM), and the whole per-file loop ran ~6x slower."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    opts = jvm.org.apache.parquet.HadoopReadOptions.builder(hconf).build()
    path_cls = jvm.org.apache.hadoop.fs.Path
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile
    reader_cls = jvm.org.apache.parquet.hadoop.ParquetFileReader
    counts = []
    for f in files:
        reader = reader_cls.open(input_file.fromPath(path_cls(f), hconf), opts)
        try:
            counts.append(int(reader.getRecordCount()))
        finally:
            reader.close()
    return counts


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int, path: str | None = None,
                   sort: bool = True) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) catalog table.

    Bucketing pre-shuffles the data ONCE at write time: any later
    equi-join or aggregation on ``bucket_col`` between tables bucketed
    into the same ``n_buckets`` runs with NO exchange on either side (the
    scan itself reports the hash partitioning) — the persisted-layout
    complement to repartition(), and the right call for tables that are
    joined on the same key every day (e.g. a signature index keyed by url
    that each incremental crawl batch joins against). Parquet bucketed
    tables need the session catalog; ``path`` makes the table external.

    The frame is repartitioned by ``bucket_col`` into ``n_buckets`` tasks
    first: repartition's hashpartitioning and bucketing use the same hash
    pmod n_buckets, so each task holds exactly one bucket and the write
    emits ONE file per bucket — without this, every upstream partition
    writes a file per bucket it touches (up to partitions x buckets small
    files; measured 28 s of write overhead on a 3-table index build)."""
    w = df.repartition(n_buckets, F.col(bucket_col)) \
        .write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def register_bucketed(spark: SparkSession, table: str, path: str,
                      bucket_col: str, n_buckets: int,
                      sort: bool = True) -> None:
    """Re-create the catalog entry for a ``write_bucketed`` table from its
    external parquet path in a FRESH session.

    Without a Hive metastore the session catalog is in-memory: a driver
    restart loses every ``saveAsTable`` entry while the bucketed parquet
    files (whose names carry the bucket ids) survive on disk. This issues
    the matching ``CREATE TABLE ... USING parquet CLUSTERED BY ... INTO n
    BUCKETS LOCATION path`` DDL so the new session's scans are again
    ``Bucketed: true`` — the bucket SPEC must match the files' writer
    exactly (same col, same n_buckets) or joins silently lose the
    zero-Exchange property. Schema is inferred from the parquet footers."""
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)
    sort_clause = f" SORTED BY (`{bucket_col}`)" if sort else ""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING parquet "
        f"CLUSTERED BY (`{bucket_col}`){sort_clause} INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'")


_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_AQE_EMPTY_RULE = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


class StageStore:
    """Checkpointed stage outputs keyed by (config_hash, stage).

    Layout: <root>/<config_hash>/<stage>/   (parquet or Iceberg table)
            <root>/<config_hash>/<stage>.manifest.json  (metrics + lineage)

    ``exists`` only trusts a stage whose manifest was fully written —
    a killed run leaves data without a manifest and the stage re-runs
    (resume-safe, SURVEY.md §7 step 7).
    """

    def __init__(self, spark: SparkSession, root: str, config_hash: str) -> None:
        self.spark = spark
        self.root = root
        self.config_hash = config_hash
        os.makedirs(os.path.join(root, config_hash), exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, self.config_hash, stage)

    def _manifest_path(self, stage: str) -> str:
        return self._path(stage) + ".manifest.json"

    def exists(self, stage: str) -> bool:
        return os.path.exists(self._manifest_path(stage))

    def read(self, stage: str) -> DataFrame:
        """Read with the manifest's schema (no inference job), if it has one."""
        schema = self.manifest(stage).get("schema")
        return read_table(self.spark, self._path(stage),
                          None if schema is None else StructType.fromJson(json.loads(schema)))

    def write(self, stage: str, df: DataFrame, metrics: dict | None = None,
              extra_aggs: dict | None = None,
              observed: tuple[Observation, ...] = ()) -> DataFrame:
        """Write ``df`` as ``stage`` and its manifest, with no Spark job
        beyond the write's own. The row count and the ``extra_aggs``
        totals (named aggregate Columns, e.g. a dup-pair count that
        downstream stages read from the manifest instead of paying an
        extra count()) are observed on the write; the per-partition
        lineage is the footer row count of each part file written.

        ``observed``: Observations attached upstream inside ``df``; their
        values join the manifest metrics. AQE's empty-relation rule is off
        while they run: it drops a subplan under an empty stage, and an
        observation in it then reads empty."""
        path = self._path(stage)
        extra_aggs = extra_aggs or {}
        obs = Observation()
        conf = self.spark.conf
        excluded = conf.get(_EXCLUDED_RULES, "")
        if observed:
            conf.set(_EXCLUDED_RULES, ",".join(filter(None, [excluded, _AQE_EMPTY_RULE])))
        try:
            write_table(df.observe(obs, F.count(F.lit(1)).alias("rows"),
                                   *[e.alias(k) for k, e in extra_aggs.items()]),
                        path)
        finally:
            conf.set(_EXCLUDED_RULES, excluded)
        totals = obs.get
        out = read_table(self.spark, path, schema=df.schema)
        # per-partition lineage (north_rule: "per-partition lineage +
        # metrics"): skew in these numbers is the first thing to look at
        # when a stage is slow
        ppart = _footer_row_counts(self.spark, sorted(out.inputFiles()))
        manifest = {
            "stage": stage,
            "config_hash": self.config_hash,
            "rows": int(totals["rows"]),
            "partitions": len(ppart),
            "partition_rows": ppart[:256],
            "partition_row_stats": {
                "min": min(ppart) if ppart else 0,
                "max": max(ppart) if ppart else 0,
                "mean": round(sum(ppart) / len(ppart), 1) if ppart else 0,
            },
            "metrics": {**(metrics or {}),
                        **{k: v for o in observed for k, v in o.get.items()},
                        **{k: int(totals[k] or 0) for k in extra_aggs}},
            "schema": df.schema.json(),
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path(stage))
        return out

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)
