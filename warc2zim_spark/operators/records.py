"""Record-stream ingestion: sources, request/response pairing, projections.

Scale notes (100 TB / 10^10 rows):
* the record table is read with explicit column pruning — ``payload`` (the
  wide binary column) is only referenced by content stages, so every metadata
  stage scans a narrow projection (Parquet ReadSchema stays small);
* pairing (J1/W2) is a ``lag()`` window **partitioned by file_seq** — the
  reference pairs only *adjacent* records within one WARC file
  (converter.py:1036-1042 iterates per file; bufferiter.py:38-54 keeps a
  single prev_record), so the window never needs a global sort: each file's
  records sort within their partition, thousands of files hash across the
  cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warc2zim_spark.functions import udfs
from warc2zim_spark.functions.expressions import is_http_url

ORDER_COLS = ["file_seq", "rec_seq"]  # W1 total order (converter.py:210-216)


def load_records(spark: SparkSession, webdata_dir: str) -> DataFrame:
    """S1/S3 — the record source. Accepts either layout:

    * a webdata dir holding a ``warc_records.parquet`` record table (the
      Iceberg/Parquet shape — at scale, partitioned by file_seq range), or
    * a directory of raw ``.warc`` / ``.warc.gz`` files — the reference's
      own input shape (main.py positional args), parsed by the stdlib
      byte parser one task per file.

    The check is a local-path probe; a production deployment points the
    pipeline at catalog tables and never hits the WARC branch."""
    from pathlib import Path

    p = Path(webdata_dir)
    if not (p / "warc_records.parquet").exists() and (
        any(p.glob("*.warc")) or any(p.glob("*.warc.gz"))
    ):
        from warc2zim_spark.sources.warcbytes import load_warc_records

        return load_warc_records(spark, webdata_dir)
    return spark.read.parquet(f"{webdata_dir}/warc_records.parquet")


def pair_requests(records: DataFrame) -> DataFrame:
    """J1/W2 + J2 — request/response pairing with urlkey propagation,
    reproducing bufferiter.py:62-87 + 99-114:

    pairable ⇔ same WARC-Target-URI ∧ (either order):
      prev=request  ∧ this=response ∧ this.Concurrent-To == prev.Record-ID, or
      prev=response ∧ this=request  ∧ this.Concurrent-To == prev.Record-ID
    Only *adjacent* rows pair (single-record lookahead state machine).

    Order of operations matters for scale: the POST/PUT urlkey is synthesized
    ON THE REQUEST ROW first (one Arrow UDF pass over the raw scan — request
    body columns are null for >90% of rows, so the Arrow transfer is cheap
    and the kernel short-circuits), and only the resulting *string* plus the
    pairing keys go through the adjacency window. Earlier variants either
    evaluated the UDF over the window's picked body columns (full-corpus
    Arrow round-trip) or joined a broadcast subquery back (recomputed the
    window twice); both were the pipeline's hottest stage.

    The same pre-shuffle Arrow pass canonicalizes: ``req_zim`` is the
    urlkey's ZimPath (the same UDF call returns both), ``url_zim`` the
    ZimPath of every row that can become a content row (response/revisit,
    http(s) — every other row sends null to the kernel). So the canonical
    path rides the shuffle as a string, like the urlkey, and no UDF runs
    under the content filters (SURVEY §4.2: a filter over a UDF column
    re-runs the UDF).

    Returns the input plus ``url_zim``, and ``p_method`` / ``p_urlkey`` /
    ``p_zim`` on response rows (null when unpaired). Non-response rows pass
    through unchanged.
    """
    synth = (
        (F.col("rec_type") == "request")
        & F.col("req_method").isin("POST", "PUT")
        & F.col("url").isNotNull()
    )
    keyable = F.col("rec_type").isin("response", "revisit") & is_http_url(F.col("url"))
    records = (
        records.withColumn(
            "_post",
            udfs.canonical_post_keys(
                F.when(synth, F.col("url")), F.col("req_method"), F.col("req_mime"),
                F.col("req_body"), F.col("req_content_length"),
            ),
        )
        .withColumn("req_urlkey", F.col("_post.urlkey"))
        .withColumn("req_zim", F.col("_post.zim_path"))
        .withColumn("url_zim", udfs.surt_key(F.when(keyable, F.col("url"))))
        .drop("_post")
    )
    picked = ("rec_type", "url", "record_id", "concurrent_to",
              "req_method", "req_urlkey", "req_zim")
    w = Window.partitionBy("file_seq").orderBy("rec_seq")
    prev = {c: F.lag(c).over(w) for c in picked}
    nxt = {c: F.lead(c).over(w) for c in picked}
    prev_is_req = (
        (prev["rec_type"] == "request")
        & (prev["url"] == F.col("url"))
        & (F.col("concurrent_to") == prev["record_id"])
    )
    next_is_req = (
        (nxt["rec_type"] == "request")
        & (nxt["url"] == F.col("url"))
        & (nxt["concurrent_to"] == F.col("record_id"))
    )
    def pick(col: str):
        return (
            F.when(F.col("rec_type") != "response", F.lit(None))
            .when(prev_is_req, prev[col])
            .when(next_is_req, nxt[col])
        )
    return (
        records.withColumn("p_method", pick("req_method"))
        .withColumn("p_urlkey", pick("req_urlkey"))
        .withColumn("p_zim", pick("req_zim"))
        .drop("req_urlkey", "req_zim")
    )


def with_effective_url(paired: DataFrame) -> DataFrame:
    """P1 — effective_url = paired urlkey if synthesized else
    WARC-Target-URI (utils.py:52-57); ``zim_path`` is its canonical path,
    picked from the two pre-shuffle canonicalizations (a JVM column)."""
    return paired.withColumn(
        "effective_url", F.coalesce(F.col("p_urlkey"), F.col("url"))
    ).withColumn(
        "zim_path",
        F.when(F.col("p_urlkey").isNotNull(), F.col("p_zim")).otherwise(F.col("url_zim")),
    ).drop("p_zim", "url_zim")


def with_branch_paths(content: DataFrame) -> DataFrame:
    """The canonical paths the redirect and alias branches key on, added to
    a content stream: ``location_path`` = canonicalize(urljoin(effective_url,
    Location)) on response rows with a non-empty Location (converter.py:
    524-526), ``refers_to_path`` = canonicalize(refers_to_url) on revisit
    rows (converter.py:446-457); null elsewhere. Neither input depends on
    another UDF's output, so both kernels run in the record pass's one
    post-shuffle Arrow node (beside the failure probe's), and
    ``redirects._edge_rows`` and ``items.revisit_aliases`` run no Python.
    A hand-built content frame gains the columns through this function."""
    located = (
        (F.col("rec_type") == "response")
        & F.col("http_location").isNotNull()
        & (F.col("http_location") != "")
    )
    return content.withColumn(
        "location_path",
        udfs.resolve_redirect_key(
            F.when(located, F.col("effective_url")), F.when(located, F.col("http_location"))
        ),
    ).withColumn(
        "refers_to_path",
        udfs.surt_key(F.when(F.col("rec_type") == "revisit", F.col("refers_to_url"))),
    )


def content_records(
    records: DataFrame, *, with_payload: bool = False, with_head: bool = False
) -> DataFrame:
    """P5/P6/P12 — the processable record stream: response/revisit rows with a
    non-empty HTTP(S) URL (converter.py:943-956), effective url + canonical
    ``zim_path`` attached, plus ``with_branch_paths``' ``location_path`` and
    ``refers_to_path``. Filters are plain Catalyst predicates that push to
    the scan; every UDF input is a JVM column, so the UDFs run once per
    record: one Arrow node before the pairing shuffle, one after it.

    ``payload_len`` is an ingest-time column (datagen writes it, like a real
    CDX index would) and the wide ``payload`` binary column is DROPPED unless
    a content stage asks for it — metadata stages must not even SCAN the
    bytes: reading 1.2M blobs just to measure their length was ~200 s of JVM
    GC per pass at bench scale, and ~100 TB of scan at production scale
    (SURVEY §1.3: column pruning keeps payload out of non-content stages).

    ``with_head=True`` keeps (or derives) ``payload_head`` — the first-KiB
    ingest column — WITHOUT the full payload: charset sniffing and the
    failure probe read ~1 KiB/row instead of the whole corpus."""
    if "payload_len" in records.columns:
        with_len = records
    else:
        with_len = records.withColumn(
            "payload_len", F.coalesce(F.length("payload"), F.lit(0)).cast("long")
        )
    if with_head and "payload_head" not in with_len.columns:
        # source without the ingest column: derive (pays the payload scan —
        # native ingest paths emit the column so this branch never runs there)
        with_len = with_len.withColumn(
            "payload_head", F.expr("substring(payload, 1, 1024)")
        )
    if not with_payload:
        with_len = with_len.drop("payload")
        if not with_head and "payload_head" in with_len.columns:
            with_len = with_len.drop("payload_head")
    paired = with_effective_url(pair_requests(with_len))
    return with_branch_paths(
        paired.filter(F.col("rec_type").isin("response", "revisit"))
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        .filter(is_http_url(F.col("url")))
        .filter(F.col("zim_path").isNotNull())
    )


def fetch_payloads(records: DataFrame, positions: DataFrame) -> DataFrame:
    """Positional payload fetch: ``positions`` — a few (file_seq, rec_seq,
    ...) rows already located on the narrow content stream — gain the raw
    record's ``payload`` and ``http_charset``. The few-row side always
    broadcasts; the records stream through the hash probe unshuffled, so
    neither the pairing window nor the url UDFs re-run just to find a
    handful of payloads (``content_records`` keeps (file_seq, rec_seq), which
    is unique per record)."""
    return records.select(*ORDER_COLS, "payload", "http_charset").join(
        F.broadcast(positions), ORDER_COLS
    )
