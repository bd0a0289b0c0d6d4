"""CLI entrypoint — the Spark re-expression of the reference CLI (O1/O17,
``/root/reference/src/main.cu:154-309``).

  python -m minhashsketch_spark dna FILE1 FILE2 [all] [-e] --k= --m= --t= [--seed=]
      reference-compatible two-document mode: FASTA in, sketches + the
      ``cal_name seed k m t time similarity`` row out (src/main.cu:287-307).
  python -m minhashsketch_spark pipeline --input DIR --output DIR [--k --t --bands --rows --threshold --seed]
      full near-dup pipeline over a documents table (parquet/Iceberg).
  python -m minhashsketch_spark curate --input DIR --output DIR [--min-quality --langs --benchmark DIR --robots DIR --k --t ...]
      composed curation: exact dedup -> near-dup dedup -> quality/language
      filters -> optional benchmark decontamination (--benchmark),
      with an optional robots.txt compliance filter first (--robots);
      writes the curated corpus + prints per-step accounting.
"""

from __future__ import annotations

import argparse
import sys
import time


def _dna(argv: list[str]) -> None:
    # reference flag style: positional FILE1 FILE2 [mode], --k=, --m=, --t=, --seed=, -e
    p = argparse.ArgumentParser(prog="minhashsketch_spark dna")
    p.add_argument("file1")
    p.add_argument("file2")
    p.add_argument("mode", nargs="?", default="all",
                   choices=["all", "minhash_parallel"])
    p.add_argument("--k", type=int, default=9)
    p.add_argument("--m", type=int, default=1)
    p.add_argument("--t", type=int, default=1)
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("-e", action="store_true")
    a = p.parse_args(argv)
    if a.seed is None:
        import random
        a.seed = random.SystemRandom().randint(0, 2**31 - 1)  # random_device()

    from .core import compute_sim, fasta_to_string, gen_sig, generate_hashes_b

    _, seq1 = fasta_to_string(a.file1)
    _, seq2 = fasta_to_string(a.file2)
    if len(seq1) < a.k or len(seq2) < a.k:
        print("k cannot be greater than the size of any document")
        sys.exit(1)
    t0 = time.time()
    bs = generate_hashes_b(a.t, a.seed)
    sig1 = gen_sig(seq1.encode(), a.k, a.m, a.t, hashes_b=bs)
    sig2 = gen_sig(seq2.encode(), a.k, a.m, a.t, hashes_b=bs)
    similarity = compute_sim(sig1, sig2)
    dt = time.time() - t0
    for name, sig in (("sig1", sig1), ("sig2", sig2)):
        print(f"{name}:  size:{sig.shape[1]}")
        for j, row in enumerate(sig):
            print(f"sig[{j}].size(): {len(row)}\t" + " ".join(format(v, "x") for v in row))
    if a.e:
        print(f"{'cal_name':>12}{'seed':>14}{'k':>5}{'m':>5}{'t':>7}{'time':>13}{'similarity':>13}")
        print(f"{'minhash_parallel':>12}{a.seed:>14}{a.k:>5}{a.m:>5}{a.t:>7}"
              f"{dt:>13.8f}{similarity:>13.8f}")
    else:
        print(f"k:{a.k}  m:{a.m}  t:{a.t}")
        print(f"time: {dt:.8f}")
        print(f"similarity: {similarity:.8f}")


def _make_config(a):
    """CLI args -> PipelineConfig. The band layout is PLANNED from the
    S-curve (config.plan_bands) unless the user pins --bands/--rows — band
    layout is the engine's decision, threshold/t are the user's."""
    from .config import PipelineConfig

    if a.bands is None and a.rows is None:
        return PipelineConfig.from_threshold(k=a.k, t=a.t, threshold=a.threshold,
                                             seed=a.seed)
    if a.bands is None or a.rows is None:
        raise ValueError("--bands and --rows must be given together "
                         "(or neither, to let the S-curve plan the layout)")
    return PipelineConfig(k=a.k, t=a.t, bands=a.bands, rows=a.rows,
                          threshold=a.threshold, seed=a.seed)


def _pipeline(argv: list[str]) -> None:
    p = argparse.ArgumentParser(prog="minhashsketch_spark pipeline")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--k", type=int, default=9)
    p.add_argument("--t", type=int, default=128)
    p.add_argument("--bands", type=int, default=None)
    p.add_argument("--rows", type=int, default=None)
    p.add_argument("--threshold", type=float, default=0.7)
    p.add_argument("--seed", type=int, default=42)
    a = p.parse_args(argv)

    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from .pipeline import input_fingerprint, run_pipeline
    from .sources.io import read_table, write_table

    spark = (
        SparkSession.builder.appName("minhashsketch-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    cfg = _make_config(a)
    docs = read_table(spark, a.input)
    # persistent checkpoints are keyed by config + input: resuming a dir
    # against a different --input must re-run, not return stale stages
    key = f"{cfg.config_hash()}-{input_fingerprint(docs)}" if a.checkpoint else None
    result = run_pipeline(spark, docs, cfg, checkpoint_root=a.checkpoint,
                          stage_key=key)
    # the row count is observed on the output write, not re-read from it
    written = Observation()
    write_table(result["clusters"].observe(written, F.count(F.lit(1)).alias("rows")),
                a.output)
    print(f"clusters written: {written.get['rows']} rows -> {a.output}")


def _curate(argv: list[str]) -> None:
    p = argparse.ArgumentParser(prog="minhashsketch_spark curate")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--min-quality", type=float, default=20.0)
    p.add_argument("--langs", default="en", help="comma-separated keep list")
    p.add_argument("--keeper", default="min", choices=["min", "best"],
                   help="near-dup cluster survivor: lexicographic-min url "
                        "or highest quality score")
    p.add_argument("--benchmark", default=None,
                   help="optional eval-set table (needs a text column); "
                        "when given, a final decontamination pass drops "
                        "curated docs sharing any --decontam-n token "
                        "n-gram with it")
    p.add_argument("--decontam-n", type=int, default=13)
    p.add_argument("--robots", default=None,
                   help="optional (domain, robots_txt) table; when given, "
                        "a robots.txt compliance filter runs FIRST")
    p.add_argument("--k", type=int, default=9)
    p.add_argument("--t", type=int, default=128)
    p.add_argument("--bands", type=int, default=None)
    p.add_argument("--rows", type=int, default=None)
    p.add_argument("--threshold", type=float, default=0.7)
    p.add_argument("--seed", type=int, default=42)
    a = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from .curate import curate
    from .sources.io import read_table, write_table

    spark = (
        SparkSession.builder.appName("minhashsketch-curate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    cfg = _make_config(a)
    docs = read_table(spark, a.input)
    bench = read_table(spark, a.benchmark) if a.benchmark else None
    robots = read_table(spark, a.robots) if a.robots else None
    res = curate(spark, docs, cfg, min_quality=a.min_quality,
                 langs=tuple(a.langs.split(",")), checkpoint_root=a.checkpoint,
                 keeper=a.keeper, benchmark=bench, decontam_n=a.decontam_n,
                 robots=robots)
    write_table(res["curated"], a.output)
    for step, n in res["accounting"].items():
        print(f"{step}: {n}")
    print(f"curated corpus written -> {a.output}")


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    cmd, argv = sys.argv[1], sys.argv[2:]
    try:
        if cmd == "dna":
            _dna(argv)
        elif cmd == "pipeline":
            _pipeline(argv)
        elif cmd == "curate":
            _curate(argv)
        else:
            print(__doc__)
            sys.exit(2)
    except FileNotFoundError as e:
        print(f"error: input not found: {e.filename}", file=sys.stderr)
        sys.exit(1)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
