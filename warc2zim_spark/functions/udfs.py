"""Arrow-batched pandas UDFs over the frozen kernels.

Every UDF here is the vectorized twin of a kernel in
``warc2zim_spark.kernels`` — Arrow batch in, Arrow batch out, no row-at-a-time
Python UDFs anywhere (BASELINE input_hint requirement). Kernels that are
intrinsically per-string (URL parse, HTML parse) still run per element inside
the batch, which is the standard Arrow-vectorized shape; heavy numeric
kernels (minhash/simhash) use numpy inside.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from warc2zim_spark.kernels import decode as _decode
from warc2zim_spark.kernels import htmlmeta as _htmlmeta
from warc2zim_spark.kernels import posturl as _posturl
from warc2zim_spark.kernels import sketches as _sketches
from warc2zim_spark.kernels import surt as _surt
from warc2zim_spark.kernels import textextract as _textextract
from warc2zim_spark.kernels import textstats as _textstats
from warc2zim_spark.kernels.rewritemode import rewrite_jsonp as _rewrite_jsonp


@pandas_udf(StringType())
def surt_key(urls: pd.Series) -> pd.Series:
    """URL → canonical ZimPath key (kernels/surt.py, SURVEY §1.1.3)."""
    return urls.map(_surt.canonicalize, na_action="ignore")


@pandas_udf(StringType())
def host_of(urls: pd.Series) -> pd.Series:
    return urls.map(_surt.url_host, na_action="ignore")


@pandas_udf(StringType())
def resolve_redirect_key(urls: pd.Series, locations: pd.Series) -> pd.Series:
    """canonicalize(urljoin(url, location)) — P10/J5 target resolution
    (converter.py:524-526)."""
    from urllib.parse import urljoin

    def resolve(url, location):
        if url is None or location is None or pd.isna(url) or pd.isna(location):
            return None
        try:
            return _surt.canonicalize(urljoin(url, str(location).strip()))
        except ValueError:
            return None

    return pd.Series([resolve(u, l) for u, l in zip(urls, locations)])


def join_href(base: str | None, href: str | None) -> str | None:
    """urljoin(base, href), None for fragments, script/data/mail links and
    unparseable input — C8 (absolute URL of an extracted link)."""
    from urllib.parse import urljoin

    if base is None or href is None:
        return None
    href = str(href).strip()
    if href.startswith(("#", "javascript:", "data:", "mailto:")):
        return None
    try:
        return urljoin(base, href)
    except ValueError:
        return None


@pandas_udf(StringType())
def resolve_url(base_urls: pd.Series, hrefs: pd.Series) -> pd.Series:
    """``join_href`` over a batch."""
    return pd.Series([join_href(b, h) for b, h in zip(base_urls, hrefs)])


@pandas_udf(
    StructType([StructField("urlkey", StringType()), StructField("zim_path", StringType())])
)
def canonical_post_keys(
    urls: pd.Series, methods: pd.Series, mimes: pd.Series,
    bodies: pd.Series, lengths: pd.Series,
) -> pd.DataFrame:
    """POST/PUT urlkey synthesis — J2 (kernels/posturl.py) — and the
    urlkey's canonical ZimPath, each kernel once per row."""
    keys = []
    for url, method, mime, body, length in zip(urls, methods, mimes, bodies, lengths):
        keys.append(
            _posturl.canonical_request_url(
                url if url is not None else None,
                method if method is not None else None,
                mime if mime is not None else None,
                bytes(body) if isinstance(body, (bytes, bytearray, memoryview)) else None,
                int(length) if length is not None and not pd.isna(length) else None,
            )
        )
    return pd.DataFrame({
        "urlkey": keys,
        "zim_path": [_surt.canonicalize(k) if k is not None else None for k in keys],
    })


@pandas_udf(StringType())
def decode_payload(
    payloads: pd.Series, http_charsets: pd.Series, modes: pd.Series
) -> pd.Series:
    """3-tier charset decode — C2 (kernels/decode.py) under the default
    options; None on failure (S10 quarantine semantics). ``mode``='html'
    enables the content-declaration tier (rewriting.py:98-99). A decode
    under a run's tuning options (main.py:113-158) calls
    ``DecodeOptions.decode``, this same per-row path."""
    opts = _decode.DecodeOptions()
    return pd.Series(
        [opts.decode(p, c, m) for p, c, m in zip(payloads, http_charsets, modes)]
    )


@pandas_udf(StringType())
def decode_payload_with_charsets(
    payloads: pd.Series, http_charsets: pd.Series, modes: pd.Series,
    charsets_csv: pd.Series,
) -> pd.Series:
    """decode_payload with a per-row tier-(c) try-list (csv string) — the
    ``--charsets-to-try`` CLI surface (main.py:113-119)."""
    out = []
    for payload, charset, mode, csv in zip(payloads, http_charsets, modes, charsets_csv):
        if payload is None:
            out.append(None)
            continue
        try_list = [c for c in (csv or "").split(",") if c] or None
        out.append(
            _decode.to_string_or_none(
                bytes(payload),
                charset if charset is not None else None,
                try_list,
                ignore_content_header_charsets=(mode != "html"),
            )
        )
    return pd.Series(out)


@pandas_udf(StringType())
def extract_text(htmls: pd.Series) -> pd.Series:
    """Frozen HTML→text — C12, the byte-identical invariant."""
    return htmls.map(_textextract.extract_text, na_action="ignore")


def _decode_html_bytes(payload, opts: "_decode.DecodeOptions") -> str | None:
    """Exactly decode_payload's per-row path for mode='html' — shared by the
    fused bytes-in UDFs below so their decode tier is bit-identical to the
    standalone decode_payload(col, NULL, 'html') chain they replace."""
    return opts.decode(payload, None, "html")


@pandas_udf(StringType())
def extract_text_from_bytes(payloads: pd.Series) -> pd.Series:
    """Fused decode(html-mode, default options) → frozen text extraction in
    ONE Arrow stage (r06). Spark does NOT merge chained pandas UDFs into a
    single eval node — extract_text(decode_payload(html,...)) planned as TWO
    ArrowEvalPython stages, so every decoded document crossed the JVM↔Python
    boundary twice (guide §4.1). Composes the same two kernels, so the text
    is byte-identical per url."""
    opts = _decode.DecodeOptions()
    out = []
    for p in payloads:
        s = _decode_html_bytes(p, opts)
        out.append(None if s is None else _textextract.extract_text(s))
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(StringType()))
def extract_js_import_targets(contents: pd.Series, base_urls: pd.Series) -> pd.Series:
    """Canonical keys of URL-shaped import specifiers — the extract stage of
    the distributed JS rewrite (C5)."""
    from warc2zim_spark.kernels import jsrewrite as _js
    from warc2zim_spark.kernels.surt import canonicalize
    from urllib.parse import urljoin

    out = []
    for c, u in zip(contents, base_urls):
        keys: list[str] = []
        if c is not None and u is not None:
            for spec in _js.find_module_imports(c):
                try:
                    t = canonicalize(urljoin(u, spec))
                except ValueError:
                    t = None
                if t is not None and t not in keys:
                    keys.append(t)
        out.append(sorted(keys))
    return pd.Series(out)


@pandas_udf(ArrayType(StringType()))
def extract_link_targets(htmls: pd.Series, base_urls: pd.Series) -> pd.Series:
    """Distinct canonical keys a page's rewrite pass would probe — the
    extract stage of the distributed (no-broadcast) rewrite path."""
    from warc2zim_spark.kernels import urlrewrite as _urlrewrite

    return pd.Series(
        [
            _urlrewrite.extract_link_targets(h, u)
            if h is not None and u is not None
            else []
            for h, u in zip(htmls, base_urls)
        ]
    )


_WAVE_LINK_SCHEMA = ArrayType(
    StructType(
        [
            StructField("url", StringType()),
            StructField("surt_key", StringType()),
            StructField("host", StringType()),
        ]
    )
)


@pandas_udf(_WAVE_LINK_SCHEMA)
def extract_wave_links(payloads: pd.Series, base_urls: pd.Series) -> pd.Series:
    """Fused crawl-wave link pass (r06): raw html BYTES → [(resolved url,
    surt_key, host)] in ONE Arrow stage. Composes the exact kernels the
    former four-boundary chain ran (decode_payload html-mode → extract_meta
    links → resolve_url → surt_key + host_of), so each link's (url,
    surt_key, host) triple is byte-identical — but the page bytes and the
    per-link strings cross the JVM↔Python boundary once instead of four
    round trips (guide §4.1: you cannot remove the boundary, you control
    how often rows cross it; Spark plans chained pandas UDFs as SEPARATE
    eval nodes, so even decode→extract was two html transfers). Links that
    the old chain would have nulled (undecodable pages, skip-scheme hrefs,
    urljoin failures, non-canonicalizable or hostless urls) are omitted —
    exactly the rows the crawl's _valid() filter dropped one step later."""
    from urllib.parse import urljoin

    opts = _decode.DecodeOptions()
    out = []
    for p, u in zip(payloads, base_urls):
        rows: list[tuple[str, str, str]] = []
        h = _decode_html_bytes(p, opts)
        if h is not None and u is not None:
            for href in _htmlmeta.extract_meta(h)["links"]:
                if href is None:
                    continue
                href = str(href).strip()
                if href.startswith(("#", "javascript:", "data:", "mailto:")):
                    continue
                try:
                    dst = urljoin(u, href)
                except ValueError:
                    continue
                key = _surt.canonicalize(dst)
                host = _surt.url_host(dst)
                if key is None or host is None:
                    continue
                rows.append((dst, key, host))
        out.append(rows)
    return pd.Series(out)


_META_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("lang_decl", StringType()),
        StructField("icons", ArrayType(StringType())),
        StructField("links", ArrayType(StringType())),
        StructField("js_modules", ArrayType(StringType())),
        StructField("base_href", StringType()),
    ]
)


@pandas_udf(_META_SCHEMA)
def extract_meta(htmls: pd.Series) -> pd.DataFrame:
    """One-pass HTML meta: title/lang/icons/links/js-modules — A7/A8/C10/C3."""
    rows = [_htmlmeta.extract_meta(h) for h in htmls]
    return pd.DataFrame(
        {
            "title": [r["title"] for r in rows],
            "lang_decl": [r["lang_decl"] for r in rows],
            "icons": [r["icons"] for r in rows],
            "links": [r["links"] for r in rows],
            "js_modules": [r["js_modules"] for r in rows],
            "base_href": [r["base_href"] for r in rows],
        }
    )


@pandas_udf(StringType())
def jsonp_rewrite(contents: pd.Series, urls: pd.Series) -> pd.Series:
    """C6/C7 jsonp/json rewrite (reference-quirk-faithful)."""
    return pd.Series([_rewrite_jsonp(c, u) for c, u in zip(contents, urls)])


# --- training-data kernels --------------------------------------------------

@pandas_udf(ArrayType(LongType()))
def minhash_sig(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: _sketches.minhash_signature(t), na_action="ignore")


@pandas_udf(ArrayType(LongType()))
def minhash_band_keys(sigs: pd.Series) -> pd.Series:
    return sigs.map(lambda s: _sketches.minhash_bands(list(s)), na_action="ignore")


@pandas_udf(ArrayType(LongType()))
def minhash_bands_of_text(texts: pd.Series) -> pd.Series:
    """Fused text → LSH band keys: one Arrow stage instead of the chained
    minhash_sig → minhash_band_keys pair (the intermediate signature is
    never consumed by the candidate join, so shipping it through a second
    Python round-trip was pure overhead — measured 4.2 s vs 0.3 s for the
    sig pass alone at sf0.1)."""
    return texts.map(
        lambda t: _sketches.minhash_bands(_sketches.minhash_signature(t)),
        na_action="ignore",
    )


@pandas_udf(LongType())
def simhash(texts: pd.Series) -> pd.Series:
    return texts.map(_sketches.simhash64, na_action="ignore").astype("int64")


@pandas_udf(ArrayType(LongType()))
def fingerprint(texts: pd.Series) -> pd.Series:
    return texts.map(_textstats.rolling_fingerprint, na_action="ignore")


@pandas_udf(StringType())
def langid(texts: pd.Series) -> pd.Series:
    return texts.map(_textstats.detect_language, na_action="ignore")


@pandas_udf(ArrayType(StringType()))
def word_shingles(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: sorted(_sketches.word_ngrams(t, 3)), na_action="ignore")
