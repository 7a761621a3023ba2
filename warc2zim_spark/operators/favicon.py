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

Spark shape: candidates are a ~5-row frame (one main page) — they broadcast
into a join against the narrow content stream (J3's capture join; the stream
is never collected), which yields record positions; the few payloads are then
fetched from the raw records by (file_seq, rec_seq)
(``records.fetch_payloads``); dimension sniffing is a pandas UDF over the few
captured payloads using the stdlib header parser (kernels/imagemeta — REAL
dimensions, not a stub); ranking is the same Catalyst expression the
w_icon_rank query pins.

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

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from warc2zim_spark.functions import udfs
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


def favicon_candidates(
    content: DataFrame, main: DataFrame, decode_options=None,
    records: DataFrame | None = None,
) -> DataFrame:
    """(icon_url, icon_path) — the main page's declared icons resolved
    absolute + canonicalized, fallback /favicon.ico (converter.py:716-733).
    ``main``: 1-row (zim_path, url). Output is a tiny frame.
    ``decode_options`` tunes the main-page HTML decode the icon scan reads
    (same knobs as the quarantine probe — main.py:113-158).
    ``content``: the record stream, payload-free is enough; the main page's
    payload is fetched by position from ``records`` (default: ``content``,
    when that stream carries ``payload``)."""
    mp = main.limit(1).select(F.col("zim_path").alias("mp_path"),
                              F.col("url").alias("mp_url"))
    mp_pos = (
        content.join(
            F.broadcast(mp), F.col("zim_path") == F.col("mp_path"), "inner"
        )
        .filter(F.col("rec_type") == "response")
        .orderBy("file_seq", "rec_seq")
        .limit(1)
        .select("file_seq", "rec_seq", "mp_url")
    )
    mp_record = fetch_payloads(records if records is not None else content, mp_pos)
    decode_udf = (
        udfs.decode_payload if decode_options is None
        else udfs.make_decode_payload_udf(decode_options)
    )
    html_str = decode_udf(
        F.col("payload"), F.col("http_charset"), F.lit("html")
    )
    icons = mp_record.select(
        "mp_url",
        F.explode(
            F.when(
                F.size(udfs.extract_meta(html_str)["icons"]) > 0,
                udfs.extract_meta(html_str)["icons"],
            ).otherwise(F.array(F.lit("/favicon.ico")))
        ).alias("href"),
    )
    return (
        icons.withColumn("icon_url", udfs.resolve_url(F.col("mp_url"), F.col("href")))
        .filter(F.col("icon_url").isNotNull())
        .filter(F.col("icon_url").rlike("^https?://"))
        .withColumn("icon_path", udfs.surt_key(F.col("icon_url")))
        .filter(F.col("icon_path").isNotNull())
        .select("icon_url", "icon_path")
        .distinct()
    )


def favicon_payloads(
    content: DataFrame, candidates: DataFrame, records: DataFrame | None = None
) -> DataFrame:
    """J3's capture join: status-200 response payloads at candidate paths
    (converter.py:548-556). The tiny candidate frame broadcasts; the content
    stream streams through the hash join unshuffled. Last record per path
    wins (dict-overwrite). The winners' payloads are fetched by position
    from ``records`` (default: ``content``, as in ``favicon_candidates``)."""
    hits = (
        content.filter(F.col("rec_type") == "response")
        .filter(F.col("status") == 200)
        .join(
            F.broadcast(candidates),
            F.col("zim_path") == F.col("icon_path"),
            "inner",
        )
        .select("icon_url", "icon_path", "file_seq", "rec_seq")
    )
    from pyspark.sql import Window

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
    from pyspark.sql import Window

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


def _best_of(captured: DataFrame) -> DataFrame:
    """Rank-1 capture → 1-row (icon_url, fmt, width, height, illustration)."""
    return (
        ranked_icons(captured)
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

    spark = content.sparkSession
    icon_path = canonicalize(icon_url)
    if icon_path is None:
        raise ValueError(f"favicon url does not canonicalize: {icon_url!r}")
    cand = spark.createDataFrame(
        [(icon_url, icon_path)], "icon_url string, icon_path string"
    )
    return _best_of(favicon_payloads(content, cand, records))


def best_illustration(
    content: DataFrame, main: DataFrame, decode_options=None,
    records: DataFrame | None = None,
) -> DataFrame:
    """1-row (icon_url, fmt, width, height, illustration) — or 0 rows when
    no candidate parses (caller falls back to the default transparent PNG,
    converter.py:920-924). ``records``: the payload-bearing raw records the
    main page and icon payloads are fetched from by position, so
    ``content`` may be the cached narrow stream; without it ``content``
    itself must carry ``payload``."""
    candidates = favicon_candidates(content, main, decode_options, records)
    return _best_of(favicon_payloads(content, candidates, records))
