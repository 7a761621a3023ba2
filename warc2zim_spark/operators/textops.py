"""Text-analysis operators over document tables: language-ID, quality
scoring, token counting, fingerprinting — the per-document stage of a
training-data pipeline. Quality/token-count are pure JVM expressions
(expressions.py); language-ID and fingerprints are Arrow UDFs over the
frozen kernels.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from warc2zim_spark.functions import udfs
from warc2zim_spark.functions.expressions import quality_columns, token_count_ws


def repetition_columns(text_col) -> dict:
    """Gopher-style repetition signals as pure JVM array expressions (Rae
    et al. 2021 §A1.1 repetition filters, re-expressed over Spark arrays —
    no UDF, no explode, no join):

    * ``dup_line_frac``  — 1 − distinct/total over trimmed non-empty lines
      (boilerplate and scraped-menu pages repeat whole lines);
    * ``dup_token_frac`` — 1 − distinct/total over whitespace tokens
      (keyword-stuffed and template pages repeat words).
    """
    txt = F.coalesce(text_col, F.lit(""))
    lines = F.filter(
        F.transform(F.split(txt, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    dup_line = F.when(
        n_lines > 0,
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(lines)) / n_lines.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    tokens = F.split(F.trim(txt), r"\s+")
    n_tok = F.when(F.trim(txt) == "", F.lit(0)).otherwise(F.size(tokens))
    dup_token = F.when(
        n_tok > 0,
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(tokens)) / n_tok.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    return {"dup_line_frac": dup_line, "dup_token_frac": dup_token}


def text_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One-pass combined per-document stats: language-ID + quality profile +
    whitespace token count + Gopher-style repetition fractions — a single
    narrow projection (no joins, one scan; the langid Arrow UDF is the only
    Python piece, everything else stays in whole-stage codegen)."""
    q = quality_columns(F.col(text_col))
    rep = repetition_columns(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        udfs.langid(F.col(text_col)).alias("lang_pred"),
        q["n_chars"].alias("n_chars"),
        q["n_tokens"].alias("n_tokens"),
        q["punct_ratio"].alias("punct_ratio"),
        q["alpha_ratio"].alias("alpha_ratio"),
        token_count_ws(F.col(text_col)).cast("long").alias("n_tokens_ws"),
        rep["dup_line_frac"].alias("dup_line_frac"),
        rep["dup_token_frac"].alias("dup_token_frac"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Winnowing fingerprints, exploded to (doc_id, fp) for join-based
    containment detection."""
    # explode_outer + post-filter: plain explode's implicit non-empty guard
    # is a predicate on the UDF output and doubles the Arrow eval
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(udfs.fingerprint(F.col(text_col))).alias("fp"),
    ).filter(F.col("fp").isNotNull())


def boilerplate_paragraphs(
    docs: DataFrame,
    min_docs: int = 3,
    min_chars: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-paragraph detection — the corpus-level twin
    of the per-document repetition fractions (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" motivates
    removing exact spans shared across documents; the line/paragraph
    granularity is the cheap, shuffle-friendly form).

    Returns (para_hash, n_docs, n_occurrences, sample_text): every trimmed
    paragraph of >= ``min_chars`` chars that appears in >= ``min_docs``
    DISTINCT documents — navigation chrome, cookie banners, license
    footers. Downstream, strip matching paragraphs or down-weight docs.

    Scale shape: explode -> xxhash64 -> one groupBy(para_hash) with
    map-side partial aggregation; the join back to strip is a broadcast
    (the boilerplate table is tiny relative to the corpus). No Python."""
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.transform(
                    F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"),
                    lambda x: F.trim(x),
                ),
                lambda x: F.length(x) >= min_chars,
            )
        ).alias("para"),
    ).withColumn("para_hash", F.xxhash64("para"))
    return (
        paras.groupBy("para_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("para").alias("sample_text"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    docs: DataFrame,
    boilerplate: DataFrame,
    min_chars: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    jvm_scan_max: int = 1024,
) -> DataFrame:
    """Remove boilerplate paragraphs from every document: paragraphs whose
    hash appears in ``boilerplate`` (from :func:`boilerplate_paragraphs`)
    are dropped; survivors re-join with newlines. Short paragraphs (under
    ``min_chars``, never candidates) are kept verbatim.

    Membership probe is O(1) per paragraph regardless of set size, with no
    shuffle of the corpus either way:

    - set <= ``jvm_scan_max``: single-row broadcast array + JVM
      ``array_contains`` inside whole-stage codegen — a linear scan, but
      over at most ~1k longs it is cheaper than any Python round-trip;
    - larger sets (a realistic 100-TB boilerplate table is 1e5-1e6 rows,
      where paragraphs x |set| linear work blows up): paragraph hashes are
      still computed JVM-side (xxhash64), then probed against a
      ``sc.broadcast`` frozenset inside one Arrow pandas UDF — hash-set
      lookup per paragraph, corpus stays partition-local.

    Both branches produce byte-identical output (pytest pins equality).
    The hash set is collected to the driver once — bounded by the
    ``min_docs`` filter in :func:`boilerplate_paragraphs`; even 1e6 rows
    is 8 MB, the same documented pattern as the exact-mode seen-set."""
    spark = docs.sparkSession
    hashes = sorted(int(r[0]) for r in boilerplate.select("para_hash").distinct().collect())
    if not hashes:
        return docs
    paras = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    if len(hashes) <= jvm_scan_max:
        bad_df = spark.createDataFrame([(hashes,)], "bad array<bigint>")
        kept = F.filter(
            paras,
            lambda x: (F.length(F.trim(x)) < min_chars)
            | ~F.array_contains(F.col("bad"), F.xxhash64(F.trim(x))),
        )
        return (
            docs.crossJoin(F.broadcast(bad_df))
            .withColumn(text_col, F.array_join(kept, "\n"))
            .drop("bad")
        )
    bad_bc = spark.sparkContext.broadcast(frozenset(hashes))

    @pandas_udf("string")
    def _strip(para_arr: pd.Series, cand_arr: pd.Series, hash_arr: pd.Series) -> pd.Series:
        bad = bad_bc.value
        out = []
        for ps, cs, hs in zip(para_arr, cand_arr, hash_arr):
            out.append(
                "\n".join(
                    p for p, c, h in zip(ps, cs, hs) if not (c and h in bad)
                )
            )
        return pd.Series(out, dtype=object)

    # candidacy mask and hashes computed JVM-side so trim/length/xxhash64
    # semantics are identical to the JVM branch; no nulls cross Arrow
    cand = F.transform(paras, lambda x: F.length(F.trim(x)) >= min_chars)
    ph = F.transform(paras, lambda x: F.xxhash64(F.trim(x)))
    return docs.withColumn(text_col, _strip(paras, cand, ph))
