"""J3 full + C11 — favicon payload capture, ranking, illustration selection
(converter.py:716-738 discovery, 548-556 in-stream capture, 780-924
retrieval + conversion).

Reference flow: the main page's ``<link rel=icon>`` hrefs (fallback
``/favicon.ico``) become candidate paths; while scanning records, payloads
of status-200 responses at those paths are captured; each candidate's image
is sized (PIL; SVG short-circuits to 48×48 — icon_finder.py's
ZIM_ILLUSTRATION_SIZE), icons sort by the A9 comparator, and the first one
that converts to a 48×48 PNG becomes the ZIM illustration, else the default
transparent fallback.

Spark shape: the main page's one record is read, decoded and parsed on the
driver (``gather.main_page_meta``, shared with the metadata cascade); its
few icon candidates become literals — an IN filter plus a path → urls map
over the narrow content stream (J3's capture; the stream is never
collected) — which yields record positions; the few payloads are then
fetched from the raw records by (file_seq, rec_seq)
(``records.fetch_payloads``); dimension sniffing is a pandas UDF over the few
captured payloads using the stdlib header parser (kernels/imagemeta — REAL
dimensions, not a stub); ranking is the same Catalyst expression the
w_icon_rank query pins. Capture, sizing, ranking and conversion are one
action.

Deviations, documented:
* position-free capture (the reference only captures records AFTER the main
  page appeared in the stream, then re-downloads missed ones; offline and
  position-free, we capture all — byte-identical when icon records are
  unique); last record per path wins (dict-overwrite semantics,
  converter.py:555).
* pixel RE-ENCODING is the environment seam: a best icon already PNG 48×48
  passes through byte-identical (the reference's pragma'd passthrough);
  anything else yields the deterministic transparent 48×48 PNG stand-in
  where the reference would convert_image+resize_image+optimize_png.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from warc2zim_spark.functions import udfs
from warc2zim_spark.functions.expressions import literal_frame
from warc2zim_spark.operators.records import fetch_payloads

ZIM_ILLUSTRATION_SIZE = 48

_DIMS_SCHEMA = "fmt string, width int, height int"


@pandas_udf(_DIMS_SCHEMA)
def _image_dims(payloads: pd.Series) -> pd.DataFrame:
    from warc2zim_spark.kernels.imagemeta import image_dims

    fmts, ws, hs = [], [], []
    for p in payloads:
        fmt, w, h = image_dims(bytes(p) if p is not None else None)
        if fmt == "SVG":
            # icon_finder semantics: SVG is size-perfect by definition
            w = h = ZIM_ILLUSTRATION_SIZE
        fmts.append(fmt)
        ws.append(w)
        hs.append(h)
    return pd.DataFrame({"fmt": fmts, "width": ws, "height": hs})


def favicon_candidates(page_url: str, icons: list[str]) -> list[tuple[str, str]]:
    """[(icon_url, icon_path)] — the main page's declared icons (its
    ``main_page_meta`` ``icons``), fallback /favicon.ico, resolved absolute
    against ``page_url`` and canonicalized (converter.py:716-733), distinct,
    in document order. The same rules as ``udfs.resolve_url`` then
    ``udfs.surt_key``: only http(s) URLs with a canonical path stay."""
    from warc2zim_spark.kernels.surt import canonicalize

    out: list[tuple[str, str]] = []
    for href in icons or ["/favicon.ico"]:
        icon_url = udfs.join_href(page_url, href)
        if icon_url is None or not re.match(r"https?://", icon_url):
            continue
        icon_path = canonicalize(icon_url)
        if icon_path is not None and (icon_url, icon_path) not in out:
            out.append((icon_url, icon_path))
    return out


def favicon_payloads(
    content: DataFrame,
    candidates: list[tuple[str, str]],
    records: DataFrame | None = None,
) -> DataFrame:
    """J3's capture join: status-200 response payloads at the candidate
    paths (converter.py:548-556). The few candidates are literals — an IN
    filter on the content stream plus a path → urls map — so no candidate
    frame is built or broadcast. Last record per path wins (dict-overwrite).
    The winners' payloads are fetched by position from ``records``
    (default: ``content``, when that stream carries ``payload``)."""
    urls_of: dict[str, list[str]] = {}
    for icon_url, icon_path in candidates:
        urls_of.setdefault(icon_path, []).append(icon_url)
    if not urls_of:
        return literal_frame(
            content.sparkSession, [], "icon_url string, icon_path string, payload binary"
        )
    url_map = F.create_map(
        *[c for p, us in urls_of.items() for c in (F.lit(p), F.array(*map(F.lit, us)))]
    )
    hits = (
        content.filter(F.col("rec_type") == "response")
        .filter(F.col("status") == 200)
        .filter(F.col("zim_path").isin(list(urls_of)))
        .select(
            F.explode(url_map[F.col("zim_path")]).alias("icon_url"),
            F.col("zim_path").alias("icon_path"),
            "file_seq", "rec_seq",
        )
    )
    w = Window.partitionBy("icon_path").orderBy(
        F.desc("file_seq"), F.desc("rec_seq")
    )
    last = hits.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return fetch_payloads(
        records if records is not None else content, last.drop("_rn")
    ).select("icon_url", "icon_path", "payload")


def ranked_icons(captured: DataFrame) -> DataFrame:
    """(icon_url, fmt, width, height, pref_rank) — the A9 comparator over
    sized captures; unparseable payloads drop (failed PIL open)."""
    sized = captured.select(
        "icon_url", "icon_path", "payload", _image_dims(F.col("payload")).alias("d")
    ).select(
        "icon_url", "icon_path", "payload",
        F.col("d.fmt").alias("fmt"),
        F.col("d.width").alias("width"),
        F.col("d.height").alias("height"),
    ).filter(F.col("fmt").isNotNull() & F.col("width").isNotNull())
    m = F.least(F.col("width"), F.col("height"))
    tier = F.when(m == ZIM_ILLUSTRATION_SIZE, F.lit(2)).when(
        m > ZIM_ILLUSTRATION_SIZE, F.lit(1)
    ).otherwise(F.lit(0))
    within = F.when(m == ZIM_ILLUSTRATION_SIZE, F.lit(0)).otherwise(m)
    w = Window.orderBy(F.desc("tier"), F.desc("within"), F.asc("icon_url"))
    return (
        sized.withColumn("tier", tier)
        .withColumn("within", within)
        .withColumn("pref_rank", F.row_number().over(w))
        .drop("tier", "within")
    )


@pandas_udf("binary")
def _to_illustration(payloads: pd.Series, fmts: pd.Series, widths: pd.Series,
                     heights: pd.Series) -> pd.Series:
    """Conversion seam: PNG already 48×48 → byte-identical passthrough
    (the reference's own passthrough branch); everything else would run
    convert_svg2png/convert_image + resize + optimize (PIL/cairosvg —
    absent) → deterministic transparent stand-in."""
    from warc2zim_spark.operators.metadata import transparent_png

    out = []
    for p, f, w, h in zip(payloads, fmts, widths, heights):
        if f == "PNG" and w == ZIM_ILLUSTRATION_SIZE and h == ZIM_ILLUSTRATION_SIZE:
            out.append(bytes(p))
        else:
            out.append(transparent_png(ZIM_ILLUSTRATION_SIZE))
    return pd.Series(out)


def best_capture(
    content: DataFrame,
    candidates: list[tuple[str, str]],
    records: DataFrame | None = None,
) -> DataFrame:
    """The rank-1 capture among ``candidates`` (``favicon_payloads``) →
    1-row (icon_url, fmt, width, height, illustration); 0 rows when none is
    captured or parses."""
    return (
        ranked_icons(favicon_payloads(content, candidates, records))
        .filter(F.col("pref_rank") == 1)
        .select(
            "icon_url", "fmt", "width", "height",
            _to_illustration(
                F.col("payload"), F.col("fmt"), F.col("width"), F.col("height")
            ).alias("illustration"),
        )
    )


def illustration_from_url(
    content: DataFrame, icon_url: str, records: DataFrame | None = None
) -> DataFrame:
    """--favicon override (main.py:40, converter.py:716-733 'try user icon
    first'): skip discovery, capture + size + convert the record at the
    user-given URL. 0 rows when the archive holds no such record (caller
    falls back to discovery/transparent default). ``records`` as in
    ``favicon_payloads``."""
    from warc2zim_spark.kernels.surt import canonicalize

    icon_path = canonicalize(icon_url)
    if icon_path is None:
        raise ValueError(f"favicon url does not canonicalize: {icon_url!r}")
    return best_capture(content, [(icon_url, icon_path)], records)


def best_illustration(
    content: DataFrame, main: DataFrame | tuple[str, str], decode_options=None,
    records: DataFrame | None = None,
) -> DataFrame:
    """1-row (icon_url, fmt, width, height, illustration) — or 0 rows when
    no candidate parses (caller falls back to the default transparent PNG,
    converter.py:920-924). ``main``: the main page as a (zim_path, url)
    tuple, or a frame whose first such row is collected; its record is read
    by ``main_page_meta`` (``decode_options`` tune that decode) and its
    icons become the candidates. ``records``: the payload-bearing raw
    records the main page and icon payloads are fetched from by position, so
    ``content`` may be the cached narrow stream; without it ``content``
    itself must carry ``payload``."""
    from warc2zim_spark.operators.gather import main_page_meta, page_pair

    main = page_pair(main)
    records = records if records is not None else content
    page = main_page_meta(content, records, main[0], decode_options) if main else None
    candidates = favicon_candidates(main[1], page["icons"]) if page else []
    return best_capture(content, candidates, records)
