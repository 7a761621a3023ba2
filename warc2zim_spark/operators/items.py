"""Pass-2: the deduplicated item/redirect/alias tables (the flagship query).

Reference: converter.py:942-1033 ``add_items_for_warc_record`` + 439-457
(redirect + alias sinks). Semantics reproduced:

* first-wins URL dedup in (file_seq, rec_seq) order (A2; converter.py:969-971
  ``added_zim_items`` probe — a window row_number, NOT dropDuplicates)
* status whitelist (P8), redirects excluded from items (P9 → separate sink)
* self-redirect drop (P10, converter.py:926-940)
* include-domains filter (P7, converter.py:960-967) — host endswith any listed
* empty-content skip (P11, converter.py:1011-1022)
* revisit → alias with self-reference skip + anti-join vs added items
  (J4, converter.py:446-457, 1026-1033)

Dedup-window note (scale): the window partitions by zim_path — the dedup
shuffle is hash(zim_path) across the cluster; hot paths don't exist by
construction (a path is a key), so no salting needed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warc2zim_spark.functions import udfs
from warc2zim_spark.functions.expressions import (
    is_processable_status,
    is_redirect_status,
)


def first_wins(df: DataFrame, key: str = "zim_path") -> DataFrame:
    """A2 — first record per key in global stream order."""
    w = Window.partitionBy(key).orderBy("file_seq", "rec_seq")
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def with_include_domains(df: DataFrame, include_domains: list[str] | None) -> DataFrame:
    """P7 — netloc endswith any listed domain (subdomains included),
    converter.py:960-967. Reference quirk, documented not reproduced: its
    own test passes ``--include-domains example.com/`` (trailing slash),
    which ``netloc.endswith`` can never match — the test asserts over an
    empty article set. Callers here pass bare hostnames."""
    if not include_domains:
        return df
    host = udfs.host_of(F.col("effective_url"))
    cond = F.lit(False)
    for domain in include_domains:
        cond = cond | host.endswith(domain.lower())
    return df.filter(cond)


def item_candidates(content: DataFrame, include_domains: list[str] | None = None) -> DataFrame:
    """Response rows that may become items: processable, non-redirect,
    non-empty payload.

    Note on P10 (self-redirect drop, converter.py:926-940): in the reference,
    ``is_self_redirect`` executes AFTER the redirect statuses already
    returned early (converter.py:984-995), so by then status ∈ {200,201,202,
    203} and the check can never fire — it is unreachable, and we reproduce
    that by construction here (self-redirects are dropped at edge creation
    instead, redirects.py ``tgt_path != zim_path``, matching
    converter.py:527-530, the check that actually does the work). An earlier
    version evaluated the resolve-UDF per candidate row to mimic the dead
    check — pure Arrow overhead on 100% of items for a predicate that is
    identically false."""
    df = (
        content.filter(F.col("rec_type") == "response")
        .filter(is_processable_status(F.col("status")))
        .filter(~is_redirect_status(F.col("status")))
        .filter(F.col("payload_len") > 0)
    )
    return with_include_domains(df, include_domains)


def item_rows(
    content: DataFrame,
    include_domains: list[str] | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The narrow pre-dedup item projection (zim_path, url, mime, status,
    payload_len, file_seq, rec_seq, is_front) — no window, so it is legal
    on a STREAMING DataFrame too (the watermark ingest mode dedups it with
    ``dropDuplicatesWithinWatermark`` instead of the A2 window).

    ``is_front`` is the reference's FRONT_ARTICLE hint (items.py:58-62):
    mimetype startswith text/html or application/pdf — front articles enter
    the ZIM's suggestion/search index."""
    mime_full = F.coalesce(F.col("mime"), F.lit(""))
    return item_candidates(content, include_domains).select(
        "zim_path",
        F.col("effective_url").alias("url"),
        F.col("mime"),
        F.col("status"),
        "payload_len",
        "file_seq",
        "rec_seq",
        (
            mime_full.startswith("text/html")
            | mime_full.startswith("application/pdf")
        ).alias("is_front"),
        *[F.col(c) for c in keep_cols],
    )


def items_table(content: DataFrame, include_domains: list[str] | None = None) -> DataFrame:
    """S5 — the deduplicated item table: A2 first-wins over the narrow
    projection (project BEFORE the dedup window: the shuffle ships
    ~150 B/row keys+attrs instead of full records)."""
    return first_wins(item_rows(content, include_domains))


def revisit_aliases(content: DataFrame, added_items: DataFrame) -> DataFrame:
    """J4/S6 — alias table: first revisit per path whose Refers-To differs
    from its own URL, minus paths already added as items. The target is
    the stream's ``refers_to_path`` (``records.with_branch_paths``),
    canonicalized in the record pass, so the sink runs no Python."""
    revisits = (
        content.filter(F.col("rec_type") == "revisit")
        .filter(F.col("refers_to_url") != F.col("url"))
        .filter(F.col("refers_to_path").isNotNull())
    )
    deduped = first_wins(revisits).select(
        "zim_path", F.col("refers_to_path").alias("target_path")
    )
    return deduped.join(
        added_items.select("zim_path"), "zim_path", "left_anti"
    ).select(F.col("zim_path").alias("alias_path"), "target_path")
