"""LSH candidate generation: band keys -> candidate url pairs.

New operator required by BASELINE.json north_star ("LSH band hashing groups
candidates") — the reference compares exactly two documents (O16) and has no
join; at 10^12 docs the all-pairs comparison becomes this band-bucket
self-join.

Scale design (the shuffle hotspot of the whole pipeline — north_rule:
"partitioning / shuffle / skew handled explicitly"):

* one shuffle groups by ``band_key``; AQE skew-join enabled as backstop.
* **hot-bucket salting**: boilerplate/empty pages collapse into mega-buckets
  whose pair expansion is O(n^2). A bucket of size s > cap is split into
  ``n_salt = ceil(s/cap)`` sub-buckets by ``pmod(xxhash64(url), n_salt)``
  (seeded, stable — resume stays byte-identical); pairs are generated
  within sub-buckets only, bounding the expansion at O(s * cap) instead of
  O(s^2) while *keeping every document* (nothing is dropped).
* **chain links**: salting alone would disconnect exact-duplicate groups
  that straddle sub-buckets, so each hot bucket also emits chain links
  that reconnect them: one REPRESENTATIVE (min url) per
  (band_key, sig_key, salt) sub-group, chained across salts within
  (band_key, sig_key). Identical signatures share sig_key, every rep is
  connected to its sub-bucket's same-sig members by the within-salt pair
  join (est_sim 1.0), and rep-to-rep links are also est_sim 1.0 — so
  exact-dup groups stay connected through verification at O(s/cap) extra
  candidates. Unlike round-4's single whole-bucket chain window, NO task
  ever materializes a whole mega-band: the rep aggregation is a hash-agg
  (map-side partial combine) and the chain window partitions hold at most
  n_salt = ceil(s/cap) rows.
* **two-level sizing** (round 5): bucket sizes come from a hash-agg joined
  back on band_key — not a count-over-window, which buffered the entire
  mega-bucket in a single task's window frame. The size join is an
  equi-join against a one-row-per-key frame, so AQE skew-join can split a
  degenerate band across tasks (a window never can).
* pair emission via self-equi-join on (band_key, salt) with
  ``url_a < url_b``; dedup across bands with ``dropDuplicates``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import PipelineConfig


def explode_bands(signatures: DataFrame) -> DataFrame:
    """(url, sig_key, bands[b]) -> (url, sig_key, band_key)."""
    cols = ["url"] + (["sig_key"] if "sig_key" in signatures.columns else [])
    return signatures.select(*cols, F.explode("bands").alias("band_key"))


def bucket_stats(bands: DataFrame) -> DataFrame:
    """Per-bucket sizes — drives skew metrics."""
    return bands.groupBy("band_key").agg(F.count("*").alias("bucket_size"))


def salt_hot_buckets(bands: DataFrame, cap: int,
                     observation: Observation | None = None) -> DataFrame:
    """Attach (bucket_size, n_salt, salt); drop singleton buckets early
    (they generate no pairs — the common case by far).

    ``observation`` observes the size aggregate before singletons drop:
    buckets, max_bucket, buckets_over_cap, band_rows (sum of sizes) and
    band_pairs (sum of s(s-1)/2 in double: a long could overflow under ANSI).

    Sizes via hash-agg + join, NOT count-over-window: the window form
    buffers every row of a band in one task's window frame, so a single
    degenerate band (10^9 empty pages) would concentrate on one core. The
    aggregate partially combines map-side and the join back is an equi-join
    against one row per key, which AQE skew-join can split.

    The sizing makes ``bands`` a two-consumer frame (agg side + join
    side): if a Python UDF computes it (ad-hoc callers passing raw
    compute_signatures output) it is eagerly materialized first so the
    UDF runs once; parquet/table-backed inputs (run_pipeline's
    checkpointed signatures) re-plan for pennies and stay lazy."""
    from ..partitioning import eager_if_python

    bands = eager_if_python(bands)
    sizes = bucket_stats(bands)
    if observation is not None:
        s = F.col("bucket_size")
        sizes = sizes.observe(
            observation,
            F.count(F.lit(1)).alias("buckets"),
            F.max(s).alias("max_bucket"),
            F.sum((s > cap).cast("long")).alias("buckets_over_cap"),
            F.sum(s).alias("band_rows"),
            F.sum(s.cast("double") * (s - 1) / 2).alias("band_pairs"))
    # the inner join drops singletons
    return (
        bands.join(sizes.filter(F.col("bucket_size") >= 2), "band_key")
        .withColumn("n_salt",
                    F.ceil(F.col("bucket_size") / F.lit(cap)).cast("int"))
        .withColumn("salt",
                    F.when(F.col("n_salt") <= 1, F.lit(0))
                    .otherwise(F.pmod(F.xxhash64("url"), F.col("n_salt")).cast("int")))
    )


def candidate_pairs(signatures: DataFrame, cfg: PipelineConfig,
                    observation: Observation | None = None) -> DataFrame:
    """signatures -> distinct (url_a, url_b) candidate pairs, url_a < url_b.
    ``observation``: observes the bucket metrics (see salt_hot_buckets)."""
    bands = explode_bands(signatures)
    # salt_hot_buckets already materialized ``bands`` if a Python UDF
    # computes it (ad-hoc callers passing raw compute_signatures output),
    # so no UDF is left under ``salted``. For checkpointed/parquet-backed
    # signatures (run_pipeline, the r6 driver queries) the three consumers
    # below re-plan a cheap explode + sizes join whose identical exchanges
    # Spark de-duplicates (ReusedExchange), and nothing pins the docs x
    # bands frame to executor storage — the r5 unconditional
    # localCheckpoint held that PB-scale-at-10^12-docs frame in memory
    # (VERDICT r5 watch item #3).
    salted = salt_hot_buckets(bands, cfg.bucket_cap, observation)

    left = salted.select("band_key", "salt", F.col("url").alias("url_a"))
    right = salted.select("band_key", "salt", F.col("url").alias("url_b"))
    within = (
        left.join(right, on=["band_key", "salt"])
        .filter(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
    )

    # two-level chain links (see module docstring): one rep per
    # (band, sig, salt) sub-group via hash-agg, chained across salts. The
    # window partition holds <= n_salt rows — no whole-band task, unlike
    # the round-4 single chain over the entire band. Same-sig groups stay
    # connected: rep<->member links come from the within-salt join, and
    # rep<->rep links are same-sig (est_sim 1.0), surviving verification.
    reps = (
        salted.filter(F.col("n_salt") > 1)
        .groupBy("band_key", "sig_key", "salt")
        .agg(F.min("url").alias("url"))
    )
    wchain = Window.partitionBy("band_key", "sig_key").orderBy("url")
    chains = (
        reps.withColumn("prev", F.lag("url").over(wchain))
        .filter(F.col("prev").isNotNull())
        .select(F.least("prev", "url").alias("url_a"),
                F.greatest("prev", "url").alias("url_b"))
    )
    return within.union(chains).dropDuplicates(["url_a", "url_b"])
