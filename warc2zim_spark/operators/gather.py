"""Pass-1 aggregates (the reference's gather pass, converter.py:480-714).

Pure DataFrame aggregations over the narrow (payload-free) projection —
A1 date range, A3 expected/seen set, A4 main-page selection, A5 warcinfo
software — plus the driver-side main-page steps: the J5 redirect walk and
the one read of the main page's record (``main_page_meta``). Pass-1's
product — the expected-item set — feeds both the redirect fixpoint
(operators/redirects.py) and the URL-rewriting seen-filter
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


def page_pair(main: DataFrame | tuple[str, str]) -> tuple[str, str] | None:
    """A page given as a (zim_path, url) tuple, or as a frame whose first
    (zim_path, url) row is collected (None when it is empty)."""
    if not isinstance(main, DataFrame):
        return main
    rows = main.select("zim_path", "url").limit(1).collect()
    return tuple(rows[0]) if rows else None


def main_page(
    content: DataFrame, main: DataFrame | tuple[str, str] | None = None
) -> tuple[str, str] | None:
    """A4 + J5 — the main page as a (zim_path, url) tuple, after the
    main-page redirect follow (converter.py:586-606): when the record at the
    main path answers 301/302/307, re-point the main path to
    ``normalize(urljoin(record_url, Location))`` and repeat until the path's
    record is not a redirect. ``url`` stays the starting page's.

    ``main``: the starting page — a (zim_path, url) tuple standing in for
    the reference's ``--url`` flag, or a frame whose first (zim_path, url)
    row is collected; defaults to A4 auto-selection (which picks a
    status-200 record, so the follow only fires when the same path ALSO
    carries an earlier first-wins redirect record, or when a caller supplies
    the path explicitly). None when there is no starting page.

    Shape: a bounded single-row walk on the driver — one filtered lookup of
    the {301,302,307} first-wins edge map per hop (``redirect_target``), at
    most ``MAX_CHAIN`` hops, so a main page that is not a redirect costs one
    lookup job and the edge graph is never chased as a whole. The walk lands
    on f^MAX_CHAIN(main), f the first-wins edge step (absorbing at a path
    with no edge) — the node 5 pointer-doubling rounds reach; on a cycle it
    is read off the visited list instead of walked. ``content`` should be
    cached — each hop scans it."""
    from warc2zim_spark.operators.redirects import MAX_CHAIN, redirect_target

    main = page_pair(main if main is not None else main_page_candidate(content))
    if main is None:
        return None
    path, url = main
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
    return walk[-1], url


def main_page_resolved(
    content: DataFrame, main: DataFrame | tuple[str, str] | None = None
) -> DataFrame:
    """``main_page`` as a local 1-row (zim_path, url) frame, 0 rows when
    there is no starting page — for callers that join or union it. The
    frame is RDD-backed: every read of it runs a job, so a caller that only
    needs the values takes ``main_page``'s tuple instead."""
    resolved = main_page(content, main)
    return content.sparkSession.createDataFrame(
        [resolved] if resolved else [], "zim_path string, url string"
    )


def main_page_meta(
    content: DataFrame, records: DataFrame, zim_path: str, decode_options=None
) -> dict | None:
    """The main page's head — ``kernels.htmlmeta.extract_meta``'s dict
    (title, lang_decl, icons, ...) — or None when no response record sits at
    ``zim_path``. The one record the favicon discovery and the metadata
    cascade both read: located on the narrow ``content`` stream (first
    response in stream order), its (payload, http_charset) fetched from
    ``records`` by position in one action, then decoded (html mode, the run's
    ``decode_options``) and parsed once on the driver."""
    from warc2zim_spark.kernels.decode import DecodeOptions
    from warc2zim_spark.kernels.htmlmeta import extract_meta
    from warc2zim_spark.operators.records import ORDER_COLS, fetch_payloads

    pos = (
        content.filter(F.col("zim_path") == zim_path)
        .filter(F.col("rec_type") == "response")
        .orderBy(*ORDER_COLS)
        .limit(1)
        .select(*ORDER_COLS)
    )
    rows = fetch_payloads(records, pos).select("payload", "http_charset").collect()
    if not rows:
        return None
    opts = decode_options if decode_options is not None else DecodeOptions()
    return extract_meta(opts.decode(rows[0].payload, rows[0].http_charset, "html"))


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
