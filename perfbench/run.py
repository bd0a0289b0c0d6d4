"""Benchmark of the near-duplicate pipeline on ``local[nproc]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see BENCHMARK.json) on ``local[nproc]`` through the
package's public entry points, from inputs generated from ``--seed``.

* ``--trace 0``: launches the session ``N_SETUPS`` times, each a new JVM
  (the gateway is shut down in between), runs ``WARM_PASSES`` untimed
  passes in the last one, then timed passes until ``--seconds`` have gone
  by (at least one). ``setup_s`` is the median CPU time (this process, the
  JVM and its Python workers) of a set-up. ``wall_s`` is the median over
  the timed passes of the pass's wall time times (1 - steal share), where
  the steal share is the part of the guest CPUs' busy time that the
  hypervisor gave to other guests during the pass. On a shared 4-core VM
  where other guests stole 3-45% of that busy time, the raw wall time of
  a pass spread over ten seeds by 0.54 (IQR/median) and the corrected one
  by 0.11. The CPU time of a timed pass (``cpu_s``) is printed and kept in
  the artifact, not gated: it spread by 0.21 over ten seeds, and it misses
  time cores spend idle at barriers.
* ``--trace 1``: one untraced pass, then traced passes (a span and a
  Spark job group per layer call) for the rest of ``--seconds``, then one
  traced pass of the workload's companion (the index scenario for
  ``pipeline_longdoc``), plus the core-kernel microbench; reports the
  per-layer metrics.

Every pass's outputs are checked (digest, planted-truth recall, invariants).
Human-readable lines go to stdout first; the last stdout line is the JSON
result. A JSON artifact with host facts, passes and spans is written under
``.perfbench/artifacts/`` in the checkout, next to the input cache.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_stat() -> tuple[int, int]:
    """(steal, busy) jiffies of all CPUs since boot, busy being all but
    idle and iowait: the share of its busy time that a guest's CPUs lost
    to other guests shows host contention that loadavg inside the guest
    does not. A vCPU that is idle loses nothing, so the share is taken of
    busy time, not of all time."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks) - ticks[3] - ticks[4]


def spark_cpu_s() -> float:
    """CPU seconds so far of this process, the Spark JVM and its Python
    workers. Unlike wall time, CPU time excludes what other guests steal."""
    from pyspark import SparkContext

    from perfbench.trace import tree_cpu_s

    t = os.times()
    gw = SparkContext._gateway
    return t.user + t.system + (tree_cpu_s(gw.proc.pid) if gw is not None else 0.0)


def _source_id() -> dict:
    """git commit when the checkout is a repository, and always a digest
    of the package sources (a source export is not a repository)."""
    import hashlib

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10
                                ).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "minhashsketch_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def _env(run_dir: str) -> None:
    """Keep every file the run, Spark and the native kernel build write
    inside the checkout; point the Python workers at its package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["XDG_CACHE_HOME"] = os.path.join(WORK, "xdg-cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start_session(run_dir: str, nproc: int, mem_gb: float):
    from pyspark.sql import SparkSession

    driver_mem = max(1, min(8, int(mem_gb // 4)))
    return (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.driver.memory", f"{driver_mem}g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                f"-Dderby.system.home={os.path.join(run_dir, 'derby')}")
        .getOrCreate()
    )


def _load_kernel(_):
    """In a Python worker: run the MinHash kernel once; True when it ran
    natively (the library built or found, and loaded)."""
    import numpy as np

    from minhashsketch_spark.core import _native
    from minhashsketch_spark.core.shingles import get_family, minhash_matrix

    a, b = get_family(8, 1)
    minhash_matrix(np.arange(1, 9, dtype=np.uint64), a, b)
    return [_native._lib is not None]


def warm_up(spark, nproc: int) -> None:
    """Start a Python worker per core and load the native kernel in each.
    The first SQL query's class loading and JIT compilation are left to the
    untimed warm passes."""
    loaded = spark.sparkContext.parallelize(range(nproc), nproc) \
        .mapPartitions(_load_kernel).collect()
    if not all(loaded):
        raise RuntimeError("the native MinHash kernel did not load in a Python worker")


def stop_session(spark) -> None:
    """Stop the context and the gateway JVM, and wait for it to exit, so
    that the next session launches a JVM of its own."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_passes(wl, run_dir: str, seconds: float, reference, tracer_factory=None,
               min_passes: int = 1):
    """Passes until ``seconds`` have gone by; returns pass records."""
    passes = []
    t_start = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t_start < seconds:
        rec = {"pass": len(passes), "loadavg": _loadavg()}
        pass_dir = os.path.join(run_dir, f"pass{len(passes)}")
        tr = tracer_factory(len(passes)) if tracer_factory else None
        try:
            cpu0, stat0 = spark_cpu_s(), _cpu_stat()
            res = wl.run_pass(pass_dir, tr)
            stat1 = _cpu_stat()
            rec["cpu_s"] = spark_cpu_s() - cpu0
            rec["steal_share"] = (stat1[0] - stat0[0]) / max(1, stat1[1] - stat0[1])
            if tr is not None:
                tr.finish(res["wall_s"])
            digest, recall, problems = wl.check(res)
            rec.update(wall_s=res["wall_s"],
                       steal_free_wall_s=res["wall_s"] * (1.0 - rec["steal_share"]),
                       digest=digest, truth_recall=recall,
                       problems=problems, result=res, tracer=tr, workload=wl)
            for k in ("build_s", "batch_s"):
                if k in res:
                    rec[k] = res[k]
            expect = reference if reference else (passes[0].get("digest") if passes else None)
            if expect and digest != expect:
                problems.append(f"digest {digest} != expected {expect}")
            rec["failed"] = bool(problems)
        except Exception:
            traceback.print_exc()
            rec.update(failed=True, problems=["raised: " + traceback.format_exc(limit=1)])
        passes.append(rec)
        shutil.rmtree(pass_dir, ignore_errors=True)
    return passes


def layer_metrics(spec, passes, kernel: dict, untraced_wall: float) -> dict:
    """Per-layer metrics, each the median over the traced passes that ran
    the layer; absent where no pass did."""
    per_pass = []
    for rec in passes:
        tr, facts, wl = rec["tracer"], rec["result"]["facts"], rec["workload"]
        names = {sp["name"] for sp in tr.spans}
        m = {f"{layer}.{k}": v for layer in spec.SPARK_LAYERS if layer in names
             for k, v in tr.layer(layer).items()}
        if "pipeline" in names:
            cands, dups = facts["candidates"], facts["dup_pairs"]
            m.update({
                "lsh.band_rows": facts["band_rows"],
                "lsh.max_bucket": facts["max_bucket"],
                "lsh.candidates": cands,
                "verify.pairs_after_gate": facts["pairs_after_gate"],
                "verify.dup_pairs": dups,
                "verify.useful_ratio": dups / cands if cands else 0.0,
                "verify.shingle_docs": facts["shingle_docs"],
                "connected_components.distributed": facts["cc_distributed"],
                "io.extra_jobs": tr.layer("io")["jobs"],
                "spark.cpu_util": rec["cpu_s"] / (rec["wall_s"] * wl.nproc),
                "trace.overhead_s": rec["wall_s"] - untraced_wall,
                "trace.uncovered_share": tr.uncovered_share,
            })
        if "curate" in names:
            m["curate.accounting_jobs"] = tr.layer("curate.accounting")["jobs"]
        if "cross_dedup.build" in names:
            m["cross_dedup.build.write_amp"] = facts["write_amp"]
            m["cross_dedup.probe.index_shuffle_mb"] = wl.index_shuffle_mb(tr, facts)
        per_pass.append(m)
    out = {}
    for k in {k for m in per_pass for k in m}:
        out[k] = statistics.median([m[k] for m in per_pass if k in m])
    out.update(kernel)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the smoke test")
    a = p.parse_args(argv)
    t_main = time.perf_counter()
    phases = {}

    def mark(phase: str) -> None:
        phases[phase] = time.perf_counter() - t_main

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        p.error(f"unknown workload {a.workload!r}")
    declared = bench["per_layer" if a.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    import minhashsketch_spark  # noqa: F401  (fails fast outside a checkout)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    _env(run_dir)
    from perfbench import spec
    from perfbench.workloads import WORKLOADS

    seed = spec.DEFAULT_SEED if a.seed is None else a.seed
    nproc, mem_gb = _nproc(), _mem_gb()
    cache = os.path.join(WORK, "cache")
    n_docs = spec.SIZES[a.scale][a.workload]
    cls = WORKLOADS[a.workload]
    reference = (spec.REFERENCE_DIGESTS.get(a.workload)
                 if seed == spec.DEFAULT_SEED and a.scale == "full" else None)
    artifact = {"workload": a.workload, "seed": seed, "seconds": a.seconds,
                "trace": a.trace, "scale": a.scale, "n_docs": n_docs,
                "host": {"cpus": nproc, "mem_gb": round(mem_gb, 2)},
                **_source_id(), "loadavg_start": _loadavg(), "phases_s": phases}
    spark = None
    try:
        mark("imports")
        # inputs first: generation is not part of any timing
        wl = cls(None, cache, seed, n_docs, nproc)
        mark("inputs")
        setups, setup_walls = [], []
        for i in range(1 if a.trace else spec.N_SETUPS):
            if spark is not None:
                stop_session(spark)
            t0, cpu0 = time.perf_counter(), spark_cpu_s()
            spark = start_session(run_dir, nproc, mem_gb)
            warm_up(spark, nproc)
            setups.append(spark_cpu_s() - cpu0)
            setup_walls.append(time.perf_counter() - t0)
        wl.spark = spark
        artifact.update(setup_s=setups, setup_wall_s=setup_walls)
        mark("setups")
        kernel = {}
        if a.trace:
            from perfbench.kernel import microbench
            from perfbench.workloads import CFG

            kernel = microbench(wl.sample_texts(spec.KERNEL_SAMPLE), CFG.k, CFG.t,
                                CFG.seed, os.path.join(run_dir, "tmp"))
        warm = run_passes(wl, run_dir + "/warm", 0, reference,
                          min_passes=spec.WARM_PASSES)
        expect = reference or warm[0].get("digest")
        mark("warm")

        if a.trace:
            from perfbench.trace import Tracer

            base = run_passes(wl, run_dir + "/base", 0, expect)
            t_left = max(0.0, a.seconds - base[0].get("wall_s", 0.0))
            traced = run_passes(
                wl, run_dir + "/traced", t_left, expect,
                tracer_factory=lambda i: Tracer(spark, f"pb{os.getpid()}-{i}"))
            if cls.companion is not None:
                comp = cls.companion(spark, cache, seed, n_docs, nproc)
                traced += run_passes(
                    comp, run_dir + "/companion", 0, None,
                    tracer_factory=lambda i: Tracer(spark, f"pb{os.getpid()}-c{i}"))
            passes = warm + base + traced
            ok = [r for r in traced if not r["failed"]]
            metrics = {}
            if ok and not base[0]["failed"]:
                metrics = layer_metrics(spec, ok, kernel, base[0]["wall_s"])
                # layers this workload never reaches read 0; any other
                # declared metric without a value is reported missing
                metrics.update({m["name"]: 0 for m in declared
                                if m["name"] not in metrics
                                and m["name"].startswith(cls.absent_layers)})
            artifact["spans"] = [r["tracer"].records() for r in traced if "tracer" in r]
        else:
            timed = run_passes(wl, run_dir + "/timed", a.seconds, expect)
            passes = warm + timed
            ok = [r for r in timed if not r["failed"]]
            metrics = {}
            if ok:
                wall = statistics.median([r["steal_free_wall_s"] for r in ok])
                metrics = {"setup_s": statistics.median(setups),
                           "wall_s": wall,
                           "docs_per_s": wl.input_docs() / wall,
                           "truth_recall": ok[0]["truth_recall"]}
                artifact["not_gated"] = {
                    "cpu_s": [statistics.median([r["cpu_s"] for r in ok]), "s"],
                    "raw_wall_s": [statistics.median([r["wall_s"] for r in ok]), "s"],
                    "setup_wall_s": [statistics.median(setup_walls), "s"],
                    "timed_passes": [len(ok), "count"]}
        mark("passes")
        failed = sum(r["failed"] for r in passes)
        artifact["passes"] = [{k: v for k, v in r.items()
                               if k not in ("result", "tracer", "workload")} for r in passes]
        artifact["digests"] = sorted({r["digest"] for r in passes if "digest" in r})
        artifact["reference_digest"] = reference
        missing = [m["name"] for m in declared if m["name"] not in metrics]
        correct = failed == 0 and not missing
        result = {"correct": correct, "attempted": len(passes), "failed": failed,
                  "metrics": {m["name"]: {"value": metrics.get(m["name"]),
                                          "unit": m["unit"]} for m in declared}}
        artifact["result"] = result
        artifact["loadavg_end"] = _loadavg()
        os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
        art_path = os.path.join(WORK, "artifacts",
                                f"{a.workload}-s{seed}-t{a.trace}-{time.time_ns()}.json")
        with open(art_path, "w") as f:
            json.dump(artifact, f, indent=1, default=str)
        for m in declared:
            print(f"{a.workload} {m['name']} = {metrics.get(m['name'])} {m['unit']}")
        for name, (value, unit) in artifact.get("not_gated", {}).items():
            print(f"{a.workload} {name} = {value} {unit} (not gated)")
        for r in passes:
            if r["problems"]:
                print(f"pass {r['pass']} problems: {r['problems']}", file=sys.stderr)
        if missing:
            print(f"missing metrics: {missing}", file=sys.stderr)
        print(f"artifact: {os.path.relpath(art_path, ROOT)}")
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
