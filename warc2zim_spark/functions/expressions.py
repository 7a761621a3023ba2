"""JVM-side Column-expression builders — the no-UDF hot path.

Everything here compiles to Catalyst expressions (whole-stage codegen):
status gating, rewrite-mode classification, text quality features. Keeping
these out of Python keeps the scan→filter pipeline fully pushed down
(SURVEY §4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from warc2zim_spark.kernels.status import PROCESSABLE_STATUSES, REDIRECT_STATUSES

_JS_MIMES = ["text/javascript", "application/javascript", "application/x-javascript"]


def is_processable_status(status: Column) -> Column:
    """P8 — utils.py:86-112 whitelist."""
    return status.isin(*sorted(PROCESSABLE_STATUSES))


def is_redirect_status(status: Column) -> Column:
    """P9 — utils.py:115-122."""
    return status.isin(*sorted(REDIRECT_STATUSES))


def is_http_url(url: Column) -> Column:
    """P6 — converter.py:501-503."""
    return url.startswith("http://") | url.startswith("https://")


def _mime_mode(mime: Column, zim_path: Column, method: Column) -> Column:
    """rewriting.py:186-214 as a when-chain. jsonp can never fire for absolute
    URLs (reference's anchored-match quirk — see kernels/rewritemode.py), so
    the js branch needs no URL test."""
    return (
        F.when(mime == "text/html", F.when(method == "POST", F.lit(None)).otherwise("html"))
        .when(mime == "text/css", F.lit("css"))
        .when(
            mime.isin(_JS_MIMES),
            F.when(zim_path.endswith(".json"), "json").otherwise("javascript"),
        )
        .when(mime == "application/json", F.lit("json"))
    )


def rewrite_mode_expr(
    mime: Column, resourcetype: Column, zim_path: Column, method: Column | None = None
) -> Column:
    """C1 classifier — rewriting.py:128-214 as pure Catalyst expressions;
    resource-type table overrides the mime table when the header is present."""
    method = F.coalesce(method if method is not None else F.lit(None), F.lit("GET"))
    mime = F.coalesce(mime, F.lit(""))
    rt = F.lower(F.trim(resourcetype))
    by_resourcetype = (
        F.when(
            rt.isin("document", "xhr", "fetch") & (mime == "text/html"),
            F.when(method == "GET", "html"),
        )
        .when(rt == "stylesheet", F.lit("css"))
        .when(
            rt.isin("script", "fetch", "other", "xhr", "manifest")
            & ((mime == "application/json") | zim_path.endswith(".json")),
            F.lit("json"),
        )
        .when(rt.isin("script", "other", "xhr") & mime.isin(_JS_MIMES), F.lit("javascript"))
    )
    return F.when(
        resourcetype.isNull() | (F.trim(resourcetype) == ""),
        _mime_mode(mime, zim_path, method),
    ).otherwise(by_resourcetype)


def literal_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """``rows`` as a JVM literal frame (``ddl`` columns, all nullable): no
    Python task reads it. No rows → ``limit(0)``, which the optimizer folds to
    an empty relation, so a join or union against it runs no job."""
    row_type = f"struct<{ddl}>"
    structs = [F.struct(*map(F.lit, row)).cast(row_type) for row in rows]
    inlined = F.inline(F.array(*structs).cast(f"array<{row_type}>"))
    frame = spark.range(1, numPartitions=1).select(inlined)
    return frame if rows else frame.limit(0)


def token_count_ws(text: Column) -> Column:
    """Whitespace token count, JVM-side (matches kernels/textstats.py)."""
    trimmed = F.trim(F.coalesce(text, F.lit("")))
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+")))


def quality_columns(text: Column) -> dict[str, Column]:
    """Cheap quality signals as built-in expressions (SQL-oracle-friendly):
    n_chars, n_tokens, punct_ratio, alpha_ratio."""
    t = F.coalesce(text, F.lit(""))
    n_chars = F.length(t)
    n_tokens = token_count_ws(t)
    punct = F.length(F.regexp_replace(t, r"[\w\s]", ""))
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    safe_chars = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(1.0))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_ratio": F.round(punct / safe_chars, 6),
        "alpha_ratio": F.round(alpha / safe_chars, 6),
    }
