"""Fixed benchmark settings: input sizes, reference digests, layer table.

Metric names, units and bounds live in the repository's BENCHMARK.json;
this module holds what that file's schema has no place for.
"""

DEFAULT_SEED = 1

# docs per workload input; "tiny" is for the smoke test
SIZES = {
    "full": {"pipeline_longdoc": 600, "curate_shortdoc": 2000},
    "tiny": {"pipeline_longdoc": 60, "curate_shortdoc": 200},
}

# Session set-ups per untraced run, each in a JVM of its own (~8 s wall on
# 4 cores); setup_s is their median CPU time. A run is two set-ups, one
# warm pass and one timed pass: ~50 s on a quiet 4-core host, ~60 s under
# heavy CPU steal. A third set-up, or a second warm pass, adds ~9 s a run,
# which the benchmark's time budget does not have.
N_SETUPS = 2
# untimed passes before timing: the first pass in a fresh JVM pays class
# loading, code generation and JIT compilation (~2.3x the wall of a later
# pass). Timing the third pass instead of the second narrowed the spread
# of wall_s over 15 seeds only from 0.13 to 0.10 (pipeline_longdoc) and
# from 0.14 to 0.13 (curate_shortdoc).
WARM_PASSES = 1
# docs in the seeded sample the core-kernel microbench runs on
KERNEL_SAMPLE = 128

# output digests at DEFAULT_SEED and the "full" sizes: sorted (url,
# cluster_id) clusters, curated urls, and (url_new, url_idx) dup pairs
REFERENCE_DIGESTS = {
    "pipeline_longdoc": "69e52d9dfa02dae8",
    "curate_shortdoc": "a9e9529af9720629",
}

# Which end-to-end metric each layer metric should move (BENCHMARK.json
# has no field for this table). Job and barrier savings move wall_s more
# than CPU time: cores idle at a barrier use no CPU.
#
#   layer metrics                         moves          on workload       elsewhere
#   signatures.cpu_s                      wall_s         pipeline_longdoc  ~none on curate_shortdoc
#   core.* (shingling + MinHash are ~4%   core.* only: a 2x kernel gain moves wall_s ~2%,
#     of a pass's CPU at 600 docs)        inside its noise
#   verify.* (~40% of the CPU, ~55% of    wall_s         pipeline_longdoc  also cross_dedup.probe.s
#     wall there)
#   *.jobs, *.stages, io.extra_jobs,      wall_s         curate_shortdoc   little on pipeline_longdoc
#     curate.accounting_jobs,
#     lsh.candidates, lsh.shuffle_mb
#   cross_dedup.build.*                   no end-to-end metric: the index scenario runs
#   cross_dedup.probe.*                   only in pipeline_longdoc's traced run

# Spark layers: each reports .s .self_s .jobs .stages .cpu_s .shuffle_mb
# .spill_mb .rows_out in a traced run (zero for a workload's absent_layers)
SPARK_LAYERS = ("signatures", "lsh", "verify", "connected_components",
                "dedup_corpus", "curate", "pipeline", "io",
                "cross_dedup.build", "cross_dedup.probe")
