"""Training-data curation: the composed end-to-end use case.

documents -> exact dedup -> near-dup dedup (MinHash+LSH+CC) -> quality +
language filters -> curated corpus + per-step accounting. Each step is an
existing operator; this module only composes them — the shape a 100 TB
training-data pipeline actually runs.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .operators.dedup_corpus import (
    exact_dedup_corpus,
    near_dedup_corpus,
    near_dedup_corpus_best,
)
from .operators.text import detected_lang_expr, quality_score_expr
from .pipeline import _auto_checkpoint_root, input_fingerprint, run_pipeline
from .sources.io import StageStore


def _observed(df: DataFrame, step: str, steps: list[Observation]) -> DataFrame:
    """``df`` with its row count observed as ``step`` (appended to ``steps``)."""
    obs = Observation()
    steps.append(obs)
    return df.observe(obs, F.count(F.lit(1)).alias(step))


def curate(spark: SparkSession, docs: DataFrame, cfg: PipelineConfig,
           min_quality: float = 20.0, langs: tuple[str, ...] = ("en",),
           checkpoint_root: str | None = None,
           url_col: str = "url", text_col: str = "text",
           keeper: str = "min",
           benchmark: DataFrame | None = None,
           decontam_n: int = 13,
           robots: DataFrame | None = None) -> dict:
    """Returns {"curated", "accounting", "clusters"}; ``accounting`` maps
    each step to its row count, in pipeline order.

    ``robots``: optional (domain, robots_txt) frame — when given, a
    robots.txt compliance filter runs FIRST: it is the cheapest stage (a
    broadcast anti-join, no shuffle of the corpus) and disallowed pages
    must not survive as near-dup keepers, so everything downstream
    shrinks.

    ``benchmark``: optional evaluation-set frame (needs ``text_col``) —
    when given, a final GPT-3-style decontamination pass drops survivors
    sharing any ``decontam_n``-gram with it (operators.decontam). Last in
    the chain: it must see exactly the docs that would otherwise ship, and
    its cost scales with the SURVIVORS, not the raw crawl.

    ``keeper``: which member survives a near-dup cluster — "min" (the
    lexicographic-min url; deterministic and cheapest) or "best" (the
    highest-quality-score member via near_dedup_corpus_best; what a
    training pipeline usually wants). Keeper choice changes WHICH text
    survives, so it runs before the quality/language filters.

    Order matters at scale: exact dedup first (cheapest, biggest shrink on
    crawl data), near-dup second (most expensive — runs on the exact-
    deduped survivors), cheap per-row filters last (they don't reduce the
    near-dup work, but running them first would change which cluster
    member survives — keeper selection must see the full cluster).

    The exact-dedup output and the curated corpus are stages of the same
    StageStore as the pipeline stages, so the curation resumes per stage.
    Exact dedup has two consumers (signatures, keeper anti-join) that must
    not each re-plan its anti-join; the curated stage is keyed by the
    post-pipeline parameters, and the caller's write of ``curated`` is a
    parquet copy. Each step count is observed on the stage write its rows
    flow into and read from the manifests: no step runs a count() job.

    Stage keys fold an INPUT fingerprint in with the config hash: re-running
    against the same persistent checkpoint dir with a different --input must
    re-run the stages, not silently return the old corpus's output. An
    auto-created checkpoint root (None or "") is removed at interpreter exit.
    """
    if keeper not in ("min", "best"):
        raise ValueError(f"keeper must be 'min' or 'best', got {keeper!r}")
    if cfg.m != 1:
        raise ValueError(f"curate needs m=1 signatures, got m={cfg.m}")
    checkpoint_root = checkpoint_root or _auto_checkpoint_root("mhs_curate_")
    stage_key = f"{cfg.config_hash()}-{input_fingerprint(docs)}"
    if robots is not None:
        # the checkpointed stages depend on the robots policy too: a
        # re-run with a different policy must re-run, not resume
        stage_key += f"-r{input_fingerprint(robots)}"
    store = StageStore(spark, checkpoint_root, stage_key)

    if store.exists("exact_dedup"):
        exact = store.read("exact_dedup")
    else:
        steps: list[Observation] = []
        docs = _observed(docs, "input", steps)
        if robots is not None:
            from .operators.robots import filter_robots_disallowed

            docs = _observed(filter_robots_disallowed(docs, robots, url_col=url_col),
                             "after_robots", steps)
        exact = store.write("exact_dedup",
                            exact_dedup_corpus(docs, id_col=url_col,
                                               text_col=text_col),
                            observed=tuple(steps))

    result = run_pipeline(spark, exact, cfg, checkpoint_root=checkpoint_root,
                          url_col=url_col, text_col=text_col,
                          stage_key=stage_key)
    params = [keeper, min_quality, sorted(langs), decontam_n,
              None if benchmark is None else input_fingerprint(benchmark)]
    post = "curated-" + hashlib.sha256(json.dumps(params).encode()).hexdigest()[:12]
    last = "after_quality_lang" if benchmark is None else "after_decontam"
    if store.exists(post):
        curated = store.read(post)
    else:
        steps = []
        if keeper == "best":
            near = near_dedup_corpus_best(exact, result["clusters"],
                                          quality_score_expr(text_col),
                                          url_col=url_col)
        else:
            near = near_dedup_corpus(exact, result["clusters"], url_col=url_col)
        # per-row filters apply INLINE on the survivors (pure Column
        # expressions): joining reduced (url, score) frames back would
        # re-plan the near-dedup anti-join once per join side
        curated = _observed(near, "after_near_dedup", steps).filter(
            (quality_score_expr(text_col) >= min_quality)
            & detected_lang_expr(text_col).isin(*langs))
        if benchmark is not None:
            from .operators.decontam import decontaminate

            curated = decontaminate(_observed(curated, "after_quality_lang", steps),
                                    benchmark, n=decontam_n, id_col=url_col,
                                    text_col=text_col, bench_text_col=text_col)
        curated = store.write(post, curated, observed=tuple(steps))

    ex, cur = store.manifest("exact_dedup"), store.manifest(post)
    accounting = {**ex["metrics"], "after_exact_dedup": ex["rows"],
                  **cur["metrics"], last: cur["rows"]}
    return {"curated": curated, "accounting": accounting,
            "clusters": result["clusters"]}
