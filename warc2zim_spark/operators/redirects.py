"""Redirect extraction + distributed transitive fixpoint (G1/G2/G3, P10).

Reference algorithm: converter.py:519-543 builds the ``redirections`` map
(first Location per source ZimPath, same-path redirects dropped);
converter.py:646-710 sequentially chases chains, dropping loops and chains
whose final target is not an expected item, and adding kept sources to the
expected set. Pinned by tests/test_warc_to_zim.py:717-750 (loops A↔B, self
loops, targets-of-dead-chains all dropped).

Distributed design: each source resolves its chain *independently* via an
iterative self-join (chains are short; iterations bounded). Independent
resolution is equivalent to the reference's sequential mutation: a source
kept by the reference has its final target expected, so any chain passing
through it also terminates expected; cycle members each discover their own
cycle. No driver-side collect of the edge set — at 10^10-URL scale redirect
edges are billions of rows; every step is a hash join on ``current`` key,
and the frontier shrinks each round (only unresolved chains join again).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warc2zim_spark.functions.expressions import is_redirect_status

MAX_CHAIN = 32  # chains longer than this are treated as loops and dropped


def _edge_rows(content_records: DataFrame, status_filter=None) -> DataFrame:
    """Every candidate edge row (src_path, tgt_path, file_seq, rec_seq),
    before the first-wins pick. The target is the stream's
    ``location_path`` (``records.with_branch_paths``), resolved in the
    record pass, so no edge derivation runs Python."""
    pred = status_filter if status_filter is not None else is_redirect_status
    return (
        content_records.filter(pred(F.col("status")))
        .filter(F.col("location_path").isNotNull())
        .filter(F.col("location_path") != F.col("zim_path"))
        .select(
            F.col("zim_path").alias("src_path"),
            F.col("location_path").alias("tgt_path"),
            "file_seq", "rec_seq",
        )
    )


def redirect_edges(content_records: DataFrame, status_filter=None) -> DataFrame:
    """(src_path, tgt_path) edges: redirect-status responses with a Location
    that resolves to a *different* ZimPath (converter.py:519-543, P10 self-
    redirect drop); first occurrence per source wins (dict-insert semantics,
    'if zim_path not in self.redirections').

    ``status_filter``: optional Column predicate builder replacing the
    default P9 whitelist — the main-page follow (J5) uses the narrower
    {301, 302, 307} set (converter.py:588-592 lists MOVED_PERMANENTLY,
    TEMPORARY_REDIRECT, FOUND — no 308)."""
    w = Window.partitionBy("src_path").orderBy("file_seq", "rec_seq")
    return (
        _edge_rows(content_records, status_filter)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src_path", "tgt_path")
    )


def redirect_target(
    content_records: DataFrame, src_path: str, status_filter=None
) -> str | None:
    """``redirect_edges``' target for ONE source path, or None: the same
    first-wins pick as a filtered lookup (the path predicate reaches the
    content scan, no shuffle) — one job, the step of a single-row chain walk.
    Pass a cached content stream: every call scans it."""
    rows = (
        _edge_rows(
            content_records.filter(F.col("zim_path") == src_path), status_filter
        )
        .orderBy("file_seq", "rec_seq")
        .limit(1)
        .collect()
    )
    return rows[0].tgt_path if rows else None


def resolve_fixpoint(edges: DataFrame, expected: DataFrame) -> DataFrame:
    """→ (src_path, final_path, kept) — the reference fixpoint, distributed
    via **pointer doubling** (O(log MAX_CHAIN) self-joins, no per-step driver
    round-trips, bounded partition counts — the scale-correct shape for
    billions of edges).

    Define the step function on chain nodes:
        f(x) = x            if x ∈ expected   (absorbing — chains stop at the
                                               first expected node, matching
                                               the reference's while-condition)
               edges[x]     if x is a redirect source
               x            otherwise         (absorbing — dangling target)
    Doubling composes f with itself K times (2^K ≥ MAX_CHAIN), which is valid
    precisely because absorbing states are fixed points of f. Verdicts
    (converter.py:646-710):
      kept=false when src itself expected (converter.py:655-657)
      kept=false when the chain loops / exceeds MAX_CHAIN (final still movable)
      kept=true  when the chain's final node is expected
      kept=false otherwise (dangling final target)

    The round-0 map f is the only join of nodes, expected set and edges; it
    carries each node's facts (``is_exp``, ``is_src``), and the verdict
    reads them back from it: the source's own through the doubling rounds,
    the final node's by one join of the last round onto round 0. A final
    node that is still movable (round-0 ``next != node``) is never expected
    — expected nodes are absorbing — so kept ⇔ ¬src expected ∧ final
    expected covers the loop and overlong-chain drops."""
    exp = expected.select(
        F.col("zim_path").alias("node"), F.lit(True).alias("is_exp")
    ).distinct()
    out_edge = edges.select(F.col("src_path").alias("node"), "tgt_path")
    # node universe: every chain node is an edge src or an edge tgt
    nodes = (
        edges.select(F.col("src_path").alias("node"))
        .union(edges.select(F.col("tgt_path").alias("node")))
        .distinct()
    )
    round0 = (
        nodes.join(exp, "node", "left")
        .join(out_edge, "node", "left")
        .select(
            "node",
            F.when(F.col("is_exp").isNotNull(), F.col("node"))
            .when(F.col("tgt_path").isNotNull(), F.col("tgt_path"))
            .otherwise(F.col("node"))
            .alias("next"),
            F.col("is_exp").isNotNull().alias("is_exp"),
            F.col("tgt_path").isNotNull().alias("is_src"),
        )
        .localCheckpoint(eager=False)
    )
    mapping = round0
    rounds = max(1, math.ceil(math.log2(MAX_CHAIN)))
    for _ in range(rounds):
        hop2 = mapping.select(
            F.col("node").alias("j_node"), F.col("next").alias("j_next")
        )
        mapping = (
            mapping.join(hop2, mapping.next == hop2.j_node, "left")
            .select(
                "node",
                F.coalesce(F.col("j_next"), F.col("next")).alias("next"),
                "is_exp",
                "is_src",
            )
            .localCheckpoint(eager=False)
        )
    final_exp = round0.select(
        F.col("node").alias("f_node"), F.col("is_exp").alias("final_exp")
    )
    return (
        mapping.filter(F.col("is_src"))
        .join(final_exp, F.col("next") == F.col("f_node"))
        .select(
            F.col("node").alias("src_path"),
            F.col("next").alias("final_path"),
            (~F.col("is_exp") & F.col("final_exp")).alias("kept"),
        )
    )


def kept_sources(edges: DataFrame, expected: DataFrame) -> DataFrame:
    """(src_path) of the redirects the fixpoint keeps — the one verdict both
    sinks derive from. Each ``resolve_fixpoint`` call runs its pointer-doubling
    rounds, so a caller writing both sinks computes this once (and caches the
    narrow key set) and passes it to ``kept_redirects`` and
    ``expected_with_redirects``."""
    return resolve_fixpoint(edges, expected).filter(F.col("kept")).select("src_path")


def kept_redirects(
    edges: DataFrame, expected: DataFrame, kept: DataFrame | None = None
) -> DataFrame:
    """(src_path, tgt_path) of redirects to materialize (S6), i.e. the
    reference's post-fixpoint ``self.redirections``. ``kept``: a precomputed
    ``kept_sources`` frame; derived from ``edges``/``expected`` when absent."""
    if kept is None:
        kept = kept_sources(edges, expected)
    return edges.join(kept, "src_path", "left_semi").select("src_path", "tgt_path")


def expected_with_redirects(
    edges: DataFrame, expected: DataFrame, kept: DataFrame | None = None
) -> DataFrame:
    """G3 — expected ∪ kept-redirect sources (converter.py:692-696).
    ``kept`` as in ``kept_redirects``."""
    if kept is None:
        kept = kept_sources(edges, expected)
    return (
        expected.select("zim_path")
        .union(kept.select(F.col("src_path").alias("zim_path")))
        .distinct()
    )
