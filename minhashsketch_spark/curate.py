"""Training-data curation: the composed end-to-end use case.

documents -> exact dedup -> near-dup dedup (MinHash+LSH+CC) -> quality +
language filters -> curated corpus + per-step accounting. Each step is an
existing operator; this module only composes them — the shape a 100 TB
training-data pipeline actually runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .config import PipelineConfig
from .operators.dedup_corpus import (
    exact_dedup_corpus,
    near_dedup_corpus,
    near_dedup_corpus_best,
)
from .operators.text import detected_lang_expr, quality_score_expr
from .pipeline import _auto_checkpoint_root, input_fingerprint, run_pipeline
from .sources.io import StageStore


def curate(spark: SparkSession, docs: DataFrame, cfg: PipelineConfig,
           min_quality: float = 20.0, langs: tuple[str, ...] = ("en",),
           checkpoint_root: str | None = None,
           url_col: str = "url", text_col: str = "text",
           with_accounting: bool = True, keeper: str = "min",
           benchmark: DataFrame | None = None,
           decontam_n: int = 13,
           robots: DataFrame | None = None) -> dict:
    """Returns {"curated": DataFrame, "accounting": dict of step -> rows}.

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

    The exact-dedup output is checkpointed through the same StageStore as
    the pipeline stages: it has two downstream consumers (signatures,
    keeper anti-join) that must not each
    re-plan the dedup anti-join, and it makes the whole curation resumable
    per stage. ``with_accounting=False`` skips the step row counts that
    aren't already free from stage manifests (the counts are monitoring,
    not semantics).

    Stage keys fold an INPUT fingerprint in with the config hash: re-running
    against the same persistent checkpoint dir with a different --input must
    re-run the stages, not silently return the old corpus's output. An
    auto-created checkpoint root (None or "") is removed at interpreter exit.
    """
    checkpoint_root = checkpoint_root or _auto_checkpoint_root("mhs_curate_")
    stage_key = f"{cfg.config_hash()}-{input_fingerprint(docs)}"
    if robots is not None:
        # the checkpointed stages depend on the robots policy too: a
        # re-run with a different policy must re-run, not resume
        stage_key += f"-r{input_fingerprint(robots)}"
    store = StageStore(spark, checkpoint_root, stage_key)

    n_input = docs.count() if with_accounting else None
    if robots is not None:
        from .operators.robots import filter_robots_disallowed

        docs = filter_robots_disallowed(docs, robots, url_col=url_col)

    if store.exists("exact_dedup"):
        exact = store.read("exact_dedup")
    else:
        exact = store.write("exact_dedup",
                            exact_dedup_corpus(docs, id_col=url_col,
                                               text_col=text_col))
    accounting = {"after_exact_dedup": store.manifest("exact_dedup")["rows"]}

    if keeper not in ("min", "best"):
        raise ValueError(f"keeper must be 'min' or 'best', got {keeper!r}")
    result = run_pipeline(spark, exact, cfg, checkpoint_root=checkpoint_root,
                          url_col=url_col, text_col=text_col,
                          stage_key=stage_key)
    if keeper == "best":
        near = near_dedup_corpus_best(exact, result["clusters"],
                                      quality_score_expr(text_col),
                                      url_col=url_col)
    else:
        near = near_dedup_corpus(exact, result["clusters"], url_col=url_col)

    # per-row filters apply INLINE on the survivors (pure Column
    # expressions): joining reduced (url, score) frames back would re-plan
    # the near-dedup anti-join once per join side — three corpus scans +
    # three anti-join shuffles at 100 TB for what is a narrow map
    filtered = near.filter(
        (quality_score_expr(text_col) >= min_quality)
        & detected_lang_expr(text_col).isin(*langs))
    curated = filtered
    if benchmark is not None:
        from .operators.decontam import decontaminate

        curated = decontaminate(filtered, benchmark, n=decontam_n,
                                id_col=url_col, text_col=text_col,
                                bench_text_col=text_col)
    if with_accounting:
        accounting["input"] = n_input
        if robots is not None:
            accounting["after_robots"] = docs.count()
        accounting["after_near_dedup"] = near.count()
        accounting["after_quality_lang"] = filtered.count()
        if benchmark is not None:
            accounting["after_decontam"] = curated.count()
    return {"curated": curated, "accounting": accounting,
            "clusters": result["clusters"]}
