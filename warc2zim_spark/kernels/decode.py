"""Charset sniffing + payload decoding (the reference's ``to_string``).

Byte-compatible reimplementation of the 3-tier decode cascade
(reference: utils.py:155-219, alias table utils.py:19-31, regex utils.py:14-17;
pinned by tests/test_utils.py:28-290 + tests/encodings corpus):

tier (a) — content declaration: decode the first ``header_bytes`` bytes with
  each probe encoding (ascii, utf-16, utf-32; errors=replace), search for a
  ``charset=``/``encoding=`` declaration; if found, decode the whole payload
  with the (alias-resolved) declared charset, errors=replace. HTML-only
  (rewriting.py:98-99 disables this tier for non-html modes).
tier (b) — HTTP header charset: decode with the alias-resolved header charset,
  errors=replace.
tier (c) — try-list: strict decode with each charset in order; first success
  wins; exhaustion raises ValueError.

The regex's ``[a-wA-Z0-9_\\-]`` charset-token class (no lowercase x/y/z) is a
reference quirk preserved deliberately.
"""

from __future__ import annotations

import re

ENCODING_RE = re.compile(
    r"(charset|encoding)=(?P<quote>['\"]?)(?P<encoding>[a-wA-Z0-9_\-]+)(?P=quote)",
    re.ASCII,
)

# utils.py:19-31 DEFAULT_ENCODING_ALIASES
ENCODING_ALIASES: dict[str, str] = {
    "ansi": "windows-1252",
    "65001": "utf-8",
    "iso-utf-8": "utf-8",
    "u": "utf-8",
    "unicode": "utf-8",
    "utf-8": "utf-8",
    "utf-08": "utf-8",
    "utf-f": "utf-8",
    "utp-8": "utf-8",
    "windows-8859-1": "iso-8859-1",
    "iso88591": "iso-8859-1",
}

DEFAULT_CHARSETS_TO_TRY = ["UTF-8", "ISO-8859-1"]  # main.py:113-119 default
DEFAULT_HEADER_BYTES = 1024  # main.py:129-134 --content-header-bytes-length
_PROBE_ENCODINGS = ("ascii", "utf-16", "utf-32")


import dataclasses


@dataclasses.dataclass(frozen=True)
class DecodeOptions:
    """The reference's decode-tuning CLI surface (main.py:113-158) as one
    picklable bundle, threaded CLI → run_pipeline → the Arrow UDF factories.

    ``charsets_to_try=None`` means the engine default list; an explicit
    empty tuple means "no tier-(c) fallback" (utils.py:213-219 iterates the
    caller's list verbatim)."""

    charsets_to_try: tuple[str, ...] | None = None
    header_bytes: int = DEFAULT_HEADER_BYTES
    ignore_content_header_charsets: bool = False
    ignore_http_header_charsets: bool = False
    extra_aliases: dict[str, str] | None = None

    def try_list(self) -> list[str] | None:
        return None if self.charsets_to_try is None else list(self.charsets_to_try)

    def decode(
        self, payload, http_charset: str | None = None, mode: str = "html"
    ) -> str | None:
        """``to_string_or_none`` under these options — the one decode every
        UDF and driver-side read shares; ``mode``='html' enables the
        content-declaration tier (rewriting.py:98-99)."""
        if payload is None:
            return None
        return to_string_or_none(
            bytes(payload),
            http_charset,
            self.try_list(),
            self.header_bytes,
            ignore_content_header_charsets=(
                mode != "html" or self.ignore_content_header_charsets
            ),
            ignore_http_header_charsets=self.ignore_http_header_charsets,
            extra_aliases=self.extra_aliases,
        )


def resolve_encoding_alias(alias: str, extra: dict[str, str] | None = None) -> str:
    """Alias → codec name; ``extra`` is the per-run user table
    (``--encoding-aliases``, reference main.py:144-158) consulted FIRST so
    users can override the builtin rows too."""
    key = alias.lower().strip()
    if extra:
        hit = extra.get(key)
        if hit is not None:
            return hit
    return ENCODING_ALIASES.get(key, key)


def sniff_declared_charset(payload: bytes, header_bytes: int = DEFAULT_HEADER_BYTES) -> str | None:
    """Tier-(a) sniff: charset declared in the first ``header_bytes`` bytes."""
    head = payload[:header_bytes]
    for probe in _PROBE_ENCODINGS:
        text = head.decode(probe, errors="replace")
        if m := ENCODING_RE.search(text):
            return m.group("encoding")
    return None


def to_string(
    payload: bytes | str | None,
    http_encoding: str | None,
    charsets_to_try: list[str] | None = None,
    header_bytes: int = DEFAULT_HEADER_BYTES,
    *,
    ignore_content_header_charsets: bool = False,
    ignore_http_header_charsets: bool = False,
    extra_aliases: dict[str, str] | None = None,
) -> str:
    """Decode ``payload`` per the reference cascade. Raises ValueError when no
    charset fits (tier-c exhaustion, utils.py:219). ``extra_aliases`` is the
    per-run user alias table (--encoding-aliases)."""
    if payload is None:
        return ""
    if isinstance(payload, str):
        return payload
    if not payload:
        return ""

    if not ignore_content_header_charsets:
        declared = sniff_declared_charset(payload, header_bytes)
        if declared is not None:
            return payload.decode(
                resolve_encoding_alias(declared, extra_aliases), errors="replace"
            )

    if not ignore_http_header_charsets and http_encoding:
        return payload.decode(
            resolve_encoding_alias(http_encoding, extra_aliases), errors="replace"
        )

    # None → engine default list; an EXPLICIT empty list means "no tier-c
    # fallback" and must exhaust to the raise (reference utils.py:213-219
    # iterates the caller's list verbatim — `or` would silently resurrect
    # the defaults)
    charsets = (
        DEFAULT_CHARSETS_TO_TRY if charsets_to_try is None else charsets_to_try
    )
    for charset in charsets:
        try:
            return payload.decode(resolve_encoding_alias(charset, extra_aliases))
        except (ValueError, LookupError):
            continue

    raise ValueError(f"No suitable charset found to decode content {payload[:200]!r}")


def to_string_or_none(
    payload: bytes | None,
    http_encoding: str | None,
    charsets_to_try: list[str] | None = None,
    header_bytes: int = DEFAULT_HEADER_BYTES,
    *,
    ignore_content_header_charsets: bool = False,
    ignore_http_header_charsets: bool = False,
    extra_aliases: dict[str, str] | None = None,
) -> str | None:
    """Quarantine-friendly wrapper: None instead of raising (S10 semantics —
    per-record failure isolation, converter.py:414-437)."""
    try:
        return to_string(
            payload,
            http_encoding,
            charsets_to_try,
            header_bytes,
            ignore_content_header_charsets=ignore_content_header_charsets,
            ignore_http_header_charsets=ignore_http_header_charsets,
            extra_aliases=extra_aliases,
        )
    except (ValueError, LookupError):
        return None


def extract_charset_from_content_type(content_type: str | None) -> str | None:
    """``charset=...`` in a Content-Type header (utils.py:149-152)."""
    if not content_type:
        return None
    if m := ENCODING_RE.search(content_type):
        return m.group("encoding")
    return None
