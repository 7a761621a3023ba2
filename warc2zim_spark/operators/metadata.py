"""S7 full ZIM metadata + S8 static assets (converter.py:264-294, 340-409).

The reference emits a ~12-entry StandardMetadataList (Name, Language, Title,
Description, LongDescription, Creator, Publisher, Date, Illustration, Tags,
Scraper) plus X-ContentDate, validates user-supplied values fail-fast before
any work (converter.py:279-294), and unions the zimscraperlib static .js
assets (wombat et al.) and an optional custom.css into the item stream as
``_zim_static/*`` paths (items.py:65-107).

Spark shape: the main page's title/lang come from its one record, read and
parsed on the driver (``gather.main_page_meta``, the read the favicon
discovery shares) and entered as literals; the other derived entries are
one 1-row aggregate (the date range crossJoined with the warcinfo software)
that unpivots to (name, value) with ``stack`` — one job collects the rows,
nothing wide is collected. Static assets are a constant-literal frame
unioned into the items sink.

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
from warc2zim_spark.functions.expressions import literal_frame
from warc2zim_spark.kernels.htmlmeta import truncated_title
from warc2zim_spark.kernels.language import parse_language
from warc2zim_spark.operators.gather import (
    date_range,
    main_page,
    main_page_meta,
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
    given (StaticFile via --custom-css, converter.py:264-276), as a JVM
    literal frame; schema of ``items_table``, file_seq = -1 for non-records."""
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
    return literal_frame(
        spark, rows,
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
    main: DataFrame | tuple[str, str] | None = None,
    main_head: tuple[str | None, str | None] | None = None,
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

    The main page's title and lang come from its one parsed record
    (``main_page_meta``); everything else is a literal or a column of ONE
    1-row aggregate (the date range crossJoined with the warcinfo software),
    unpivoted with stack() — nothing wide is collected, no wide shuffle.
    ``validate=False`` is the reference's ``--disable-metadata-checks``
    (main.py:105-111, converter.py:279).

    ``main``: the main page before the J5 redirect follow (a (zim_path, url)
    tuple or a frame; default: A4 auto-selection), walked here with
    ``main_page``; ``main_head``: the main page's (title, lang_decl), for a
    caller that already read it — skips the walk and the read (``main`` is
    then ignored)."""
    if validate:
        validate_metadata(
            title=title, description=description,
            long_description=long_description, language=language, tags=tags,
        )

    if main_head is None:
        resolved = main_page(content, main)
        page = (
            main_page_meta(content, records, resolved[0], decode_options)
            if resolved else None
        )
        main_head = (page["title"], page["lang_decl"]) if page else (None, None)
    mp_title, mp_lang_decl = main_head

    # the warcinfo record is optional per the WARC spec: the aggregate keeps
    # the software frame at exactly one row (NULL without one), so the
    # crossJoin can never empty the metadata frame
    software = warcinfo_software(records).agg(F.min("software").alias("software"))
    one = date_range(content).crossJoin(software)

    page_title = truncated_title(
        title if title is not None else (mp_title or "Untitled"),
        RECOMMENDED_MAX_TITLE_LENGTH,
    )
    # parse_language falls back to 'eng' on a missing or unknown value
    page_language = parse_language(language if language is not None else mp_lang_decl)

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
        (F.lit("Language"), F.lit(page_language)),
        (F.lit("Title"), F.lit(page_title)),
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
