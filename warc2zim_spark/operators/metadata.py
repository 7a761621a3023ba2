"""S7 full ZIM metadata + S8 static assets (converter.py:264-294, 340-409).

The reference emits a ~12-entry StandardMetadataList (Name, Language, Title,
Description, LongDescription, Creator, Publisher, Date, Illustration, Tags,
Scraper) plus X-ContentDate, validates user-supplied values fail-fast before
any work (converter.py:279-294), and unions the zimscraperlib static .js
assets (wombat et al.) and an optional custom.css into the item stream as
``_zim_static/*`` paths (items.py:65-107).

Spark shape: every derived entry is a 1-row aggregate (date range, warcinfo
software, main-page title/lang) — they crossJoin into one row and unpivot to
(name, value) with ``stack``; nothing wide is collected. Static assets are a
constant-literal frame unioned into the items sink.

Environment seam: zimscraperlib's actual wombat.js bytes and image codecs are
unavailable here, so asset CONTENT is a deterministic stand-in and the
illustration fallback is a real transparent 48×48 PNG built with stdlib
zlib/struct — paths, mimes, union plumbing, and metadata layout are live.
"""

from __future__ import annotations

import base64

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warc2zim_spark import __version__
from warc2zim_spark.kernels.language import parse_language
from warc2zim_spark.operators.gather import (
    date_range,
    main_page_candidate,
    warcinfo_software,
)

RECOMMENDED_MAX_TITLE_LENGTH = 30
MAX_DESCRIPTION_LENGTH = 80
MAX_LONG_DESCRIPTION_LENGTH = 4000


def transparent_png(size: int = 48) -> bytes:
    """A valid fully-transparent ``size``×``size`` RGBA PNG, stdlib-only —
    the reference's guaranteed illustration fallback (converter.py:294-296
    'always provide a valid image, at least a fallback transparent PNG').
    Lives in kernels/imagemeta (pyspark-free) so datagen can build fixture
    bytes without importing operator modules."""
    from warc2zim_spark.kernels.imagemeta import make_png

    return make_png(size)


# deterministic stand-ins for zimscraperlib.rewriting.statics' .js files
# (converter.py:396-405 iterates that package dir and adds each .js); real
# bytes are not redistributable here — the seam is the content only.
STATIC_JS_ASSETS: tuple[tuple[str, str], ...] = (
    ("wombat.js", "/* stand-in for zimscraperlib wombat.js */\n"),
    ("wombatSetup.js", "/* stand-in for zimscraperlib wombatSetup.js */\n"),
)


def static_asset_items(
    spark: SparkSession, custom_css: bytes | None = None
) -> DataFrame:
    """S8 — the ``_zim_static/`` item rows to union into the items sink:
    every static .js (StaticArticle, items.py:65-89) plus custom.css when
    given (StaticFile via --custom-css, converter.py:264-276). Schema matches
    ``items_table``; file_seq = -1 marks non-record provenance."""
    rows = [
        (
            f"_zim_static/{name}",
            None,
            "text/javascript",
            None,
            len(content.encode("utf-8")),
            -1,
            seq,
            False,  # statics never carry the FRONT_ARTICLE hint
        )
        for seq, (name, content) in enumerate(STATIC_JS_ASSETS)
    ]
    if custom_css is not None:
        rows.append(
            ("_zim_static/custom.css", None, "text/css", None,
             len(custom_css), -1, len(rows), False)
        )
    return spark.createDataFrame(
        rows,
        "zim_path string, url string, mime string, status int, "
        "payload_len long, file_seq long, rec_seq long, is_front boolean",
    )


def items_with_static(items: DataFrame, static_items: DataFrame) -> DataFrame:
    """S8 union point — record-derived items + static assets, one sink."""
    return items.unionByName(static_items)


def validate_metadata(
    *,
    title: str | None = None,
    description: str | None = None,
    long_description: str | None = None,
    language: str | None = None,
    tags: str | None = None,
) -> None:
    """Fail-fast user-supplied metadata validation (converter.py:279-294;
    limits are the zimscraperlib standard ones). Raises ValueError before any
    distributed work is scheduled."""
    if title is not None and len(title) > RECOMMENDED_MAX_TITLE_LENGTH:
        raise ValueError(
            f"Title too long ({len(title)} > {RECOMMENDED_MAX_TITLE_LENGTH})"
        )
    if description is not None and len(description) > MAX_DESCRIPTION_LENGTH:
        raise ValueError(
            f"Description too long ({len(description)} > {MAX_DESCRIPTION_LENGTH})"
        )
    if (
        long_description is not None
        and len(long_description) > MAX_LONG_DESCRIPTION_LENGTH
    ):
        raise ValueError(
            f"LongDescription too long "
            f"({len(long_description)} > {MAX_LONG_DESCRIPTION_LENGTH})"
        )
    if language is not None:
        parsed = parse_language(language)
        # parse_language falls back to 'eng' on garbage; an explicit user
        # value that maps to nothing must fail instead (metadata.Language
        # validation, converter.py:289-291)
        if parsed == "eng" and "en" not in language.lower().split(","):
            codes = [c.strip() for c in language.split(",")]
            if not any(c in ("en", "eng", "english") for c in codes):
                raise ValueError(f"Invalid ZIM language: {language!r}")
    if tags is not None and any(not t.strip() for t in tags.split(";")):
        raise ValueError(f"Invalid Tags entry: {tags!r}")


def zim_metadata(
    content: DataFrame,
    records: DataFrame,
    *,
    name: str,
    creator: str = "-",
    publisher: str = "openZIM",
    description: str = "-",
    long_description: str | None = None,
    tags: str | None = None,
    title: str | None = None,
    language: str | None = None,
    scraper_suffix: str | None = None,
    date: str | None = None,
    illustration: bytes | None = None,
    main: DataFrame | None = None,
    main_path: str | None = None,
    validate: bool = True,
    decode_options=None,
) -> DataFrame:
    """S7 — the full (name, value) metadata frame.

    Cascades (converter.py:303-319, 615-626, 740-773):
      Title    = user → <title> of the main page → "Untitled"; >30 chars →
                 first 29 + '…'
      Language = user (parse_language) → main page lang cascade
                 (html@lang / meta content-language / meta name=language,
                 parse_language'd) → 'eng'
      Date     = user → warc_end date (DETERMINISTIC deviation from the
                 reference's now(); an engine re-run must not change output)
      Illustration_48x48@1 = user bytes → transparent PNG fallback (base64)
      Scraper  = 'warc2zim-spark <version>', warcinfo software, suffix —
                 comma-joined, empties dropped (converter.py:366-377)
      X-ContentDate = warc_start or 'start,end' (converter.py:381-394)

    All derived pieces are 1-row aggregates crossJoined then unpivoted with
    stack() — nothing wide is collected, no wide shuffle. ``validate=False`` is the
    reference's ``--disable-metadata-checks`` (main.py:105-111,
    converter.py:279).

    ``main``: the main page before the J5 redirect follow (default: A4
    auto-selection), walked here with ``main_page_resolved``; ``main_path``:
    the already-followed main path, for a caller that resolved it once —
    skips the walk (``main`` is then ignored)."""
    if validate:
        validate_metadata(
            title=title, description=description,
            long_description=long_description, language=language, tags=tags,
        )

    from warc2zim_spark.functions import udfs
    from warc2zim_spark.operators.gather import main_page_resolved
    from warc2zim_spark.operators.records import fetch_payloads

    if main_path is None:
        mp = main_page_resolved(content, main).collect()
        main_path = mp[0].zim_path if mp else None
    # fetch the main page record's payload for title/lang extraction: the
    # content stream is payload-free by design (column pruning), so locate
    # the record's (file_seq, rec_seq) there and fetch its payload by
    # position — never re-deriving the stream with payload
    mp_pos = (
        content.filter(F.col("zim_path") == F.lit(main_path))
        .filter(F.col("rec_type") == "response")
        .orderBy("file_seq", "rec_seq")
        .limit(1)
        .select("file_seq", "rec_seq")
    )
    mp_meta = (
        fetch_payloads(records, mp_pos)
        .select(
            udfs.extract_meta(
                (
                    udfs.decode_payload
                    if decode_options is None
                    else udfs.make_decode_payload_udf(decode_options)
                )(F.col("payload"), F.col("http_charset"), F.lit("html"))
            ).alias("m")
        )
        .select(
            F.col("m.title").alias("mp_title"),
            F.col("m.lang_decl").alias("mp_lang_decl"),
        )
    )

    dates = date_range(content)
    spark = dates.sparkSession

    # EXACTLY-1-row frames before the crossJoin of singletons. Two traps:
    # (a) warcinfo records are optional per the WARC spec — a 0-row software
    #     frame would crossJoin the whole metadata frame to empty; union a
    #     null fallback row so the frame is never empty.
    # (b) union + limit(1) without an order is not a guaranteed-deterministic
    #     choice (AQE/repartition could pick the fallback) — an explicit
    #     priority column + orderBy pins the real row over the fallback.
    def _one_row(df: DataFrame, fallback_row, schema: str) -> DataFrame:
        return (
            df.withColumn("_prio", F.lit(0))
            .unionByName(
                spark.createDataFrame([fallback_row], schema).withColumn(
                    "_prio", F.lit(1)
                )
            )
            .orderBy("_prio")
            .limit(1)
            .drop("_prio")
        )

    software = _one_row(
        warcinfo_software(records), (None,), "software string"
    )
    mp_meta = _one_row(
        mp_meta, (None, None), "mp_title string, mp_lang_decl string"
    )
    one = dates.crossJoin(software).crossJoin(mp_meta)

    title_expr = F.coalesce(
        F.lit(title),
        F.nullif(F.col("mp_title"), F.lit("")),
        F.lit("Untitled"),
    )
    title_expr = F.when(
        F.length(title_expr) > RECOMMENDED_MAX_TITLE_LENGTH,
        F.concat(F.substring(title_expr, 1, RECOMMENDED_MAX_TITLE_LENGTH - 1),
                 F.lit("…")),
    ).otherwise(title_expr)

    language_expr = (
        F.lit(parse_language(language))
        if language is not None
        else F.coalesce(
            udfs.parse_language_codes(F.col("mp_lang_decl")), F.lit("eng")
        )
    )

    date_expr = (
        F.lit(date) if date is not None
        else F.date_format(F.col("warc_end"), "yyyy-MM-dd")
    )
    content_date = F.when(
        F.date_format(F.col("warc_start"), "yyyy-MM-dd")
        == F.date_format(F.col("warc_end"), "yyyy-MM-dd"),
        F.date_format(F.col("warc_start"), "yyyy-MM-dd"),
    ).otherwise(
        F.concat_ws(
            ",",
            F.date_format(F.col("warc_start"), "yyyy-MM-dd"),
            F.date_format(F.col("warc_end"), "yyyy-MM-dd"),
        )
    )
    scraper_expr = F.concat_ws(
        ",",
        *[
            e for e in (
                F.lit(f"warc2zim-spark {__version__}"),
                F.nullif(F.trim(F.coalesce(F.col("software"), F.lit(""))), F.lit("")),
                F.lit(scraper_suffix) if scraper_suffix else None,
            )
            if e is not None
        ],
    )
    illu = base64.b64encode(
        illustration if illustration is not None else transparent_png(48)
    ).decode("ascii")

    pairs: list = [
        (F.lit("Name"), F.lit(name)),
        (F.lit("Language"), language_expr),
        (F.lit("Title"), title_expr),
        (F.lit("Description"), F.lit(description)),
        (F.lit("Creator"), F.lit(creator)),
        (F.lit("Publisher"), F.lit(publisher)),
        (F.lit("Date"), date_expr),
        (F.lit("Illustration_48x48@1"), F.lit(illu)),
        (F.lit("Scraper"), scraper_expr),
        (F.lit("X-ContentDate"), content_date),
    ]
    if long_description is not None:
        pairs.append((F.lit("LongDescription"), F.lit(long_description)))
    if tags is not None:
        pairs.append((F.lit("Tags"), F.lit(tags)))

    flat: list = []
    for k, v in pairs:
        flat.extend([k, v])
    return one.select(
        F.stack(F.lit(len(pairs)), *flat).alias("name", "value")
    )
