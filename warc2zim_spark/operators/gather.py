"""Pass-1 aggregates (the reference's gather pass, converter.py:480-714).

All pure DataFrame aggregations over the narrow (payload-free) projection:
A1 date range, A3 expected/seen set, A4 main-page selection, A5 warcinfo
software. Pass-1's product — the expected-item set — feeds both the redirect
fixpoint (operators/redirects.py) and the URL-rewriting seen-filter
(frontier/seenfilter.py holds the at-scale bloom variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warc2zim_spark.functions.expressions import (
    is_processable_status,
    is_redirect_status,
)
from warc2zim_spark.kernels.status import MAIN_PAGE_REDIRECT_STATUSES


def date_range(content: DataFrame) -> DataFrame:
    """A1 — min/max WARC-Date over response/revisit rows (converter.py:491-497
    runs right after the rec_type check, before url/status filters — but our
    ``content`` stream already applies P6/P12; the reference's X-ContentDate
    uses the same gather loop, so we pin to the content stream)."""
    return content.agg(
        F.min("warc_date").alias("warc_start"),
        F.max("warc_date").alias("warc_end"),
    )


def expected_items(content: DataFrame) -> DataFrame:
    """A3 — the URL-seen / will-exist set: processable, non-redirect paths
    (converter.py:544-545; redirects excluded — they go to the redirections
    map instead, converter.py:518-543)."""
    return (
        content.filter(is_processable_status(F.col("status")))
        .filter(~is_redirect_status(F.col("status")))
        .select("zim_path")
        .distinct()
    )


def main_page_candidate(content: DataFrame) -> DataFrame:
    """A4 — first text/html, status-200, non-empty response in stream order
    (converter.py:565-578 auto-selection when --url is absent)."""
    return (
        content.filter(F.col("rec_type") == "response")
        .filter(F.col("status") == 200)
        .filter(F.split(F.coalesce(F.col("mime"), F.lit("")), ";").getItem(0) == "text/html")
        .filter(F.col("payload_len") > 0)
        .orderBy("file_seq", "rec_seq")
        .limit(1)
        .select("zim_path", F.col("effective_url").alias("url"), "file_seq", "rec_seq")
    )


def main_page_resolved(
    content: DataFrame, main: DataFrame | None = None
) -> DataFrame:
    """J5 — main-page redirect follow (converter.py:586-606): when the record
    at the main path answers 301/302/307, re-point the main path to
    ``normalize(urljoin(record_url, Location))`` and repeat until the path's
    record is not a redirect.

    ``main``: optional 1-row (zim_path, url, ...) override standing in for
    the reference's ``--url`` flag; defaults to A4 auto-selection (which
    picks a status-200 record, so the follow only fires when the same path
    ALSO carries an earlier first-wins redirect record, or when a caller
    supplies the path explicitly).

    Shape: a bounded single-row walk on the driver — one filtered lookup of
    the {301,302,307} first-wins edge map per hop (``redirect_target``), at
    most ``MAX_CHAIN`` hops, so a main page that is not a redirect costs one
    lookup job and the edge graph is never chased as a whole. The walk lands
    on f^MAX_CHAIN(main), f the first-wins edge step (absorbing at a path
    with no edge) — the node 5 pointer-doubling rounds reach; on a cycle it
    is read off the visited list instead of walked. ``content`` should be
    cached — each hop scans it.
    Output: a local 1-row (zim_path, url) frame with zim_path re-pointed when
    a chain applies; 0 rows when ``main`` is empty."""
    from warc2zim_spark.operators.redirects import MAX_CHAIN, redirect_target

    if main is None:
        main = main_page_candidate(content)
    schema = "zim_path string, url string"
    spark = content.sparkSession
    rows = main.select("zim_path", "url").limit(1).collect()
    if not rows:
        return spark.createDataFrame([], schema)
    path, url = rows[0]
    j5 = lambda s: s.isin(list(MAIN_PAGE_REDIRECT_STATUSES))  # noqa: E731
    walk = [path]  # walk[i] = f^i(main)
    while len(walk) <= MAX_CHAIN:
        nxt = redirect_target(content, walk[-1], status_filter=j5)
        if nxt is None:
            break
        if nxt in walk:
            # cycle walk[mu:] repeats with period len(walk) - mu: jump
            # straight to f^MAX_CHAIN instead of walking the remaining hops
            mu = walk.index(nxt)
            walk.append(walk[mu + (MAX_CHAIN - mu) % (len(walk) - mu)])
            break
        walk.append(nxt)
    return spark.createDataFrame([(walk[-1], url)], schema)


def warcinfo_software(records: DataFrame) -> DataFrame:
    """A5 — first warcinfo record's ``software:`` field (converter.py:463-477);
    the payload is warc-fields text."""
    return (
        records.filter(F.col("rec_type") == "warcinfo")
        .orderBy("file_seq", "rec_seq")
        .limit(1)
        .select(
            F.regexp_extract(
                F.decode(F.col("payload"), "utf-8"), r"software:\s*([^\r\n]+)", 1
            ).alias("software")
        )
    )
