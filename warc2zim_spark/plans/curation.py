"""End-to-end corpus curation: the training-data pipeline the individual
operators exist for, composed in the order a 100-TB run would stage them.

    raw documents
      │  1. text stats (one pass: lang-ID, quality, tokens, repetition)
      ▼
    quality / language / repetition gate        [filter — no shuffle]
      │  2. cross-doc boilerplate strip         [broadcast hash set]
      ▼
    exact dedup (sha256 keep-first)             [one hash shuffle]
      │  3. near-dup pairs → clusters → keep-one
      ▼                                         [banded LSH equi-join,
    near-dedup survivors                         hash-min / star CC]
      │  4. deterministic stratified sample
      ▼                                         [per-stratum window]
    curated corpus + per-stage counts

Stage order is the cost order: cheap row-local gates first (shrink the
corpus before anything shuffles), the one exact-dedup shuffle next, the
candidate-generating near-dup join on the survivors only, the sampler
last. Every stage is an existing, individually-oracled operator — this
module only composes and counts them.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warc2zim_spark.operators.dedup import (
    duplicate_clusters,
    minhash_near_duplicates,
)
from warc2zim_spark.operators.sampling import stratified_sample_exact
from warc2zim_spark.operators.textops import (
    boilerplate_paragraphs,
    strip_boilerplate,
    text_stats,
)


logger = logging.getLogger(__name__)


def curate_corpus(
    docs: DataFrame,
    min_quality_tokens: int = 10,
    max_dup_line_frac: float = 0.6,
    languages: list[str] | None = None,
    boilerplate_min_docs: int = 3,
    near_dup_threshold: float = 0.8,
    sample_per_language: int | None = None,
    cluster_method: str = "label_prop",
    strata_col: str | None = None,
    seed: int = 42,
) -> tuple[DataFrame, dict]:
    """Run the full curation pipeline over a ``documents``-shaped frame
    (doc_id, text, ...); returns (curated_docs, stage_counts).

    Stage boundaries are ``localCheckpoint``-ed (the pattern the star-CC
    and streaming merge already use), so each boundary count executes its
    stage ONCE — without this, five ``.count()`` actions re-run
    ``text_stats`` and every gate per boundary. At production scale the
    counts would instead ride ``observe()`` on the final write like the
    WARC pipeline's sinks; the checkpoints still pay off there by
    truncating the near-dup lineage.

    Sampling stratifies on the PREDICTED language (``lang_pred`` from the
    gate-stage stats) by default — the gate filtered on lang_pred, so
    stratifying on a raw input ``lang`` column could disagree with the
    gate, and real corpora often have no lang column at all (that is why
    lang-ID exists). Pass ``strata_col`` to stratify on any input column
    instead."""
    counts: dict[str, int] = {"input": docs.count()}

    # 1. row-local gates off the one-pass stats (no shuffle: stats is a
    # projection, the join key is doc_id against a projection of the same
    # scan — Catalyst collapses it; keep the gate BEFORE any wide stage).
    # Inner join (not semi) carries lang_pred forward for the sampler;
    # gated_ids has one row per doc_id so the row set is identical.
    # checkpoint the stats frame before gating: the gates are predicates
    # over text_stats' outputs, langid's among them (the UDF rule, SURVEY
    # §4.2: a filter over a UDF column re-runs the UDF in a second node)
    stats = text_stats(docs).localCheckpoint(eager=False)
    gated_ids = stats.filter(
        (F.col("n_tokens_ws") >= min_quality_tokens)
        & (F.col("dup_line_frac") <= max_dup_line_frac)
    )
    if languages:
        gated_ids = gated_ids.filter(F.col("lang_pred").isin(languages))
    gated = docs.join(
        gated_ids.select("doc_id", "lang_pred"), "doc_id", "inner"
    ).localCheckpoint()
    counts["after_quality_gate"] = gated.count()

    # 2. cross-doc boilerplate strip (broadcast hash set, row-local apply)
    bp = boilerplate_paragraphs(gated, min_docs=boilerplate_min_docs)
    counts["boilerplate_paragraphs"] = bp.count()
    gated = strip_boilerplate(gated, bp).localCheckpoint()

    # 3. exact dedup: keep the smallest doc_id per identical text
    w_ids = gated.groupBy(F.sha2(F.coalesce("text", F.lit("")), 256).alias("h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    exact = gated.join(
        w_ids.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    ).localCheckpoint()
    counts["after_exact_dedup"] = exact.count()

    # 4. near-dup: banded MinHash pairs → connected components → keep the
    # cluster-min doc (non-cluster docs pass untouched)
    pairs = minhash_near_duplicates(exact, threshold=near_dup_threshold)
    clusters = duplicate_clusters(pairs, method=cluster_method)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    near = exact.join(drop, "doc_id", "left_anti").localCheckpoint()
    counts["after_near_dedup"] = near.count()

    # 5. deterministic per-stratum sample (optional)
    curated = near
    if sample_per_language is not None:
        curated = stratified_sample_exact(
            near,
            strata_col=strata_col or "lang_pred",
            n_per_stratum=sample_per_language,
            id_col="doc_id", seed=seed,
        )
    counts["curated"] = curated.count()
    logger.info(
        "curate_corpus: stage boundaries checkpointed (text_stats and each "
        "gate execute once); counts=%s", counts,
    )
    return curated, counts
