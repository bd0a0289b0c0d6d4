"""Streaming incremental NEAR-dup dedup: every micro-batch (a WARC drop)
is checked against everything indexed before it — the production shape of
continuous-crawl dedup, composing three pillars in one operator:

* the **bucketed seed index** (operators.cross_dedup.build_band_index):
  candidates vs the 10^12-doc base join with ZERO index-side Exchange;
* a **delta** of post-seed batches, persisted per ``batch_id=`` partition
  (signatures + bands + texts) with dynamic partition overwrite — the same
  replay-idempotent layout as streaming.ingest. Candidates vs the delta
  reuse the salted ad-hoc band join (the delta stays small between
  compactions; a periodic batch job folds it into a rebuilt bucketed
  index, re-salting hot bands);
* **verified pairs out**, also per-batch-partitioned (idempotent).

Emitted per batch b: verified (url_new in b, url_idx indexed before b)
pairs. WITHIN-batch pairs are deliberately not emitted — a drop's
internal near-dups are the periodic compaction's job (and its exact dups
are streaming.stateful_dedup's); this keeps each batch's output a pure
function of (batch, prior index), which is what makes replay idempotent.

Batch b writes its delta partition FIRST and reads it back as its own
signatures and texts, so they live in reliable storage, not executor
storage; the pairs partition is written second. foreachBatch is at-least-once, and
either crash point replays into the same state: both writes dynamically
overwrite only partition b with data that is a deterministic function of
the batch; the replay's index view excludes ``batch_id == b``, so its
own already-written delta partition can't pair a doc with itself or add
within-batch pairs; and batch b+1 never runs before b commits, so the
rest of the index view is the first attempt's. Compaction runs while the
stream is stopped (it rewrites the tables a batch reads), so it never
folds a half-processed batch into the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.cross_dedup import (
    cross_candidate_pairs,
    cross_candidate_pairs_indexed,
)
from ..operators.signatures import SIG_SCHEMA, compute_signatures
from ..operators.verify import est_prefilter_gate, verified_pairs
from .ingest import DOCS_SCHEMA

# a delta partition: the batch's signatures with their texts
# (compute_signatures(keep_text=True)) under its batch_id
DELTA_SCHEMA = SIG_SCHEMA + ", text string, batch_id int"


def _delta_present(spark: SparkSession, delta_path: str) -> bool:
    """Explicit existence probe via the Hadoop FileSystem (any scheme) —
    NOT a bare except around the read: a corrupt footer / permission /
    transient FS error must raise, or the batch silently verifies against
    an incomplete index and misses dup pairs (ADVICE r4)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(delta_path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (name.startswith("_") or name.startswith(".")):
            return True
    return False  # dir exists but holds no data (e.g. only _SUCCESS)


def _clear_delta(spark: SparkSession, delta_path: str) -> None:
    """Remove the delta recursively via the Hadoop FileSystem and RAISE on
    failure — shutil.rmtree(ignore_errors=True) was a silent no-op on
    non-local storage, leaving delta docs in both index and delta."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(delta_path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.exists(jpath) and not fs.delete(jpath, True):
        raise IOError(f"failed to clear compacted delta at {delta_path}; "
                      "the next compaction would fold these docs in twice")


def _read_delta(spark: SparkSession, delta_path: str,
                exclude_batch: int) -> DataFrame | None:
    if not _delta_present(spark, delta_path):  # first batch: no delta yet
        return None
    delta = spark.read.schema(DELTA_SCHEMA).parquet(delta_path)
    return delta.filter(F.col("batch_id") != exclude_batch)


def dedup_batch_against_index(spark: SparkSession, batch_df: DataFrame,
                              batch_id: int, index_table: str,
                              delta_path: str, cfg: PipelineConfig,
                              sig_n: DataFrame | None = None,
                              est_gate: float | None | str = "auto") -> DataFrame:
    """One micro-batch: verified (url_new, url_idx, est_sim, jaccard,
    is_dup) vs seed index + earlier deltas. Pure function of its inputs.
    ``sig_n``: the batch's (url, sig, bands, text) rows, already
    materialized (the streaming handler passes its own delta partition,
    read back); without it they are computed from ``batch_df`` here.
    ``est_gate``: "auto" applies ``est_prefilter_gate(cfg)`` (safe for the
    jaccard>=threshold / is_dup consumers of the pairs output); None keeps
    every sub-threshold candidate row."""
    if sig_n is None:
        # read by both candidate joins and the verification slice
        sig_n = compute_signatures(batch_df, cfg, keep_text=True).localCheckpoint()
    # index texts live in the _sigs table itself — they must survive
    # compaction, which a caller-held seed-docs frame would not cover
    indexed = [spark.table(f"{index_table}_sigs")]
    cand = cross_candidate_pairs_indexed(spark, sig_n, index_table)
    delta = _read_delta(spark, delta_path, batch_id)
    if delta is not None:
        indexed.append(delta)
        cand = cand.unionByName(cross_candidate_pairs(sig_n, delta, cfg))
    cand = (cand.filter(F.col("url_new") != F.col("url_idx"))
            .dropDuplicates(["url_new", "url_idx"])
            .select(F.col("url_new").alias("url_a"),
                    F.col("url_idx").alias("url_b")))
    # restrict the index and delta to the candidate partners BEFORE the
    # union and the per-url dedup (guide §2.3 — shuffle the candidate
    # slice, not the corpus); the batch is batch-sized and holds every
    # url_a. Each semi-join is against one scan, so the bucketed _sigs
    # table keeps its bucketing (no index-side Exchange). A url may
    # legitimately sit on BOTH the index and delta side during the
    # compaction crash window (folded into _sigs, delta not yet cleared);
    # signatures/texts are deterministic per url, so the per-url dedup
    # keeps the verification joins from multiplying pair rows (ADVICE r4)
    partners = cand.select(F.explode(F.array("url_a", "url_b")).alias("url"))
    slice_ = sig_n.select("url", "sig", "text")
    for src in indexed:
        slice_ = slice_.unionByName(
            src.select("url", "sig", "text").join(partners, "url", "left_semi"))
    slice_ = slice_.dropDuplicates(["url"])
    # the emitted pairs feed jaccard>=threshold / is_dup consumers only
    # (the entry query, compaction, the tests), so the 6-sigma est
    # pre-gate is safe: sub-gate band collisions never get their texts
    # attached or shingled, and the per-batch pairs partitions stay tiny
    if est_gate == "auto":
        est_gate = est_prefilter_gate(cfg)
    ver = verified_pairs(cand, slice_, slice_, cfg,
                         checkpoint_sigs=False,  # a lazy slice of parquet scans
                         checkpoint_pairs=None,  # candidate-slice inputs: AQE sizes
                         est_gate=est_gate)
    return ver.select(F.col("url_a").alias("url_new"),
                      F.col("url_b").alias("url_idx"),
                      "est_sim", "jaccard", "is_dup")


def streaming_incremental_dedup(spark: SparkSession, input_path: str,
                                index_table: str, delta_path: str,
                                pairs_path: str, checkpoint_path: str,
                                cfg: PipelineConfig,
                                available_now: bool = True,
                                max_files_per_trigger: int = 1):
    """Start (and with ``available_now`` drain) the incremental near-dup
    stream. Returns the StreamingQuery.

    Caller contract: ``index_table`` was built by build_band_index (or
    compacted by compact_band_index) IN THIS SparkSession — catalog tables
    are session-scoped without a metastore. Index texts come from the
    ``_sigs`` table, so no separate seed-docs frame is needed."""
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_path)
    )

    def process_batch(batch_df, bid: int) -> None:
        def write(df, path: str) -> None:
            (df.withColumn("batch_id", F.lit(int(bid)))
               .write.mode("overwrite")
               .option("partitionOverwriteMode", "dynamic")
               .partitionBy("batch_id").parquet(path))

        # the delta partition first: the batch's signatures and texts
        # (keep_text passes the text through the Arrow batch), computed
        # once; read back, it IS the batch's materialized signature frame
        write(compute_signatures(batch_df, cfg, keep_text=True), delta_path)
        sig_n = (spark.read.schema(DELTA_SCHEMA).parquet(delta_path)
                 .filter(F.col("batch_id") == int(bid)))
        write(dedup_batch_against_index(spark, batch_df, bid, index_table,
                                        delta_path, cfg, sig_n=sig_n),
              pairs_path)

    writer = (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_band_index(spark: SparkSession, index_table: str,
                       delta_path: str, cfg: PipelineConfig,
                       n_buckets: int = 64,
                       path_root: str | None = None) -> int:
    """Fold the accumulated delta into the bucketed index — the periodic
    batch job that keeps the streaming path fast: deltas join via an
    ad-hoc (shuffling) band join, the compacted index joins exchange-free,
    and compaction re-salts hot bands over the GROWN bucket sizes.

    Reads the existing ``<index_table>_sigs`` + the delta's signatures
    (both already computed — the signature UDF never re-runs), unions
    them WITH a per-url dedup, rewrites the three bucketed tables
    (sigs, then dim, then bands), then clears the delta. Crash-window
    analysis (ADVICE r4 — every interleaving must be re-runnable without
    duplicating index rows or silently losing pairs):

    * after the ``_sigs`` rewrite, before the delta clear: a re-run unions
      the delta in a second time — ``dropDuplicates(["url"])`` makes that
      a no-op (signatures are deterministic per url), and batches running
      in the window dedup their sig/doc unions per url too.
    * between the table writes: ``_dim`` is rewritten BEFORE ``_bands``.
      Bucket sizes only grow (docs never leave the index), so n_salt is
      monotone — a new ``_dim`` over old ``_bands`` makes batches probe a
      SUPERSET of the stored salts (extra empty probes, nothing missed);
      the old order left unreachable salts in ``_bands`` (silent pair
      loss until the next compaction).
    * the delta clear raises on failure instead of silently no-op'ing.

    Returns the number of docs folded in.
    """
    from ..operators.cross_dedup import _jk, _salted_index_bands
    from ..sources.io import write_bucketed

    sig_cols = ["url", "sig_key", "sig", "bands", "text"]
    if not _delta_present(spark, delta_path):
        return 0
    delta = spark.read.schema(DELTA_SCHEMA).parquet(delta_path)
    n_delta = delta.count()
    if n_delta == 0:
        return 0
    merged = (spark.table(f"{index_table}_sigs").select(*sig_cols)
              .unionByName(delta.select(*sig_cols))
              .dropDuplicates(["url"])
              .localCheckpoint())  # sever lineage from the table being rewritten

    def p(suffix: str) -> str | None:
        return f"{path_root}/{suffix}" if path_root else None

    write_bucketed(merged, f"{index_table}_sigs", "url", n_buckets,
                   path=p("sigs"))
    stored = spark.table(f"{index_table}_sigs")
    ib = (stored.select("url", F.explode("bands").alias("band_key"))
          .select("band_key", F.col("url").alias("url_idx")))
    salted = _salted_index_bands(ib, cfg)
    # the bands table is derived twice (dim first — see docstring crash
    # analysis); materialize so the salting join isn't re-planned per write
    salted = salted.localCheckpoint()
    write_bucketed(
        salted.groupBy("band_key").agg(F.max("n_salt").alias("n_salt")),
        f"{index_table}_dim", "band_key", n_buckets, path=p("dim"))
    write_bucketed(
        salted.select(_jk(F.col("band_key"), F.col("salt")).alias("jk"),
                      "band_key", "salt", "url_idx"),
        f"{index_table}_bands", "jk", n_buckets, path=p("bands"))
    # clear the delta LAST (see crash note above); raises on failure
    _clear_delta(spark, delta_path)
    return n_delta
