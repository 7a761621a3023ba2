"""S10 full — per-record failure isolation (``--continue-on-error``).

Reference semantics (converter.py:411-437, main.py:92-103): every record
flows through a try/except; a failure logs the record URL, optionally dumps
the payload to a fails directory, and either skips just that record
(``--continue-on-error``) or aborts the whole run.

Engine shape: a poisoned record must NEVER fail a Spark task — one bad row
would kill a 10^10-record job and a retry would deterministically hit it
again. Kernels raise inside a per-row guard in the Arrow UDF; the captured
error becomes a quarantine row ``(zim_path, url, file_seq, rec_seq, stage,
reason)``; the abort-vs-continue policy is applied driver-side after the
fails sink is written (plans/pipeline.py). The concrete raising class in
this environment is a declared/HTTP charset naming an unknown codec —
``LookupError`` through the decode cascade, the same exception the
reference's errors=replace decode raises (utils.py:155-219).

One probe. ``with_failure_reason`` adds ``stage``/``reason`` columns to a
content stream in the same pass that pairs and canonicalizes it, reading
the 1-KiB ``payload_head``, or the full ``payload`` for a decode config
fallible past the head (``needs_full_payload``); ``run_pipeline`` caches
that stream and filters its fails sink from it (``failed_rows``).
``quarantined_records`` is the standalone form over any content frame.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from warc2zim_spark.functions.expressions import rewrite_mode_expr
from warc2zim_spark.kernels import decode as _decode


def _probe_decode_failure(
    payload: bytes,
    http_charset: str | None,
    mode: str,
    opts: "_decode.DecodeOptions | dict[str, str] | None" = None,
) -> str | None:
    """Would ``to_string(payload, ...)`` raise? Answered WITHOUT decoding
    the full payload on the common paths — at 100 TB a failure-detection
    pass that re-decodes every text payload doubles the decode bill.

    Tier (a)/(b) use ``errors=replace``: they can only fail on the CODEC
    itself (unknown name → LookupError, non-bytes codec → TypeError), which
    a header-bytes decode probes exactly. Tier (c) (no declared/header
    charset) strict-decodes the whole payload by definition — only that
    rare path pays full cost.

    ``opts``: a DecodeOptions, or (legacy shape) a bare extra-aliases dict
    or None for defaults."""
    if opts is None:
        opts = _decode.DecodeOptions()
    elif isinstance(opts, dict):
        opts = _decode.DecodeOptions(extra_aliases=opts)
    try:
        declared = (
            _decode.sniff_declared_charset(payload, opts.header_bytes)
            if mode == "html" and not opts.ignore_content_header_charsets
            else None
        )
        head = payload[: opts.header_bytes]
        if declared is not None:
            head.decode(
                _decode.resolve_encoding_alias(declared, opts.extra_aliases),
                errors="replace",
            )
            return None
        if http_charset and not opts.ignore_http_header_charsets:
            head.decode(
                _decode.resolve_encoding_alias(http_charset, opts.extra_aliases),
                errors="replace",
            )
            return None
        # tier (c): strict try-list over the full payload (the default list
        # ends in ISO-8859-1, which decodes any byte string, so this only
        # raises under a user-narrowed try-list)
        _decode.to_string(
            payload,
            None,
            opts.try_list(),
            opts.header_bytes,
            ignore_content_header_charsets=True,
            ignore_http_header_charsets=True,
            extra_aliases=opts.extra_aliases,
        )
        return None
    except Exception as exc:  # noqa: BLE001 — the guard IS the feature
        return f"{type(exc).__name__}: {exc}"[:200]


def make_decode_error_udf(options: "_decode.DecodeOptions | None" = None):
    """Per-row failure capture for the decode stage: null on success, else
    ``ExceptionClass: message`` (truncated). ANY kernel failure must become
    data, not a task failure. ``options`` carries the full decode-tuning
    surface (``--charsets-to-try``, ``--ignore-*-charsets``,
    ``--content-header-bytes-length``, main.py:113-143), its
    ``extra_aliases`` the per-run user alias table (``--encoding-aliases``,
    reference main.py:144-158; see ``merged_options``): an alias the user
    maps turns a would-be failure into a successful decode."""
    opts = options if options is not None else _decode.DecodeOptions()

    @pandas_udf(StringType())
    def decode_error(
        payloads: pd.Series, http_charsets: pd.Series, modes: pd.Series
    ) -> pd.Series:
        out = []
        for payload, charset, mode in zip(payloads, http_charsets, modes):
            if payload is None:
                out.append(None)
                continue
            out.append(
                _probe_decode_failure(
                    bytes(payload),
                    charset if charset is not None else None,
                    mode,
                    opts,
                )
            )
        return pd.Series(out)

    return decode_error


decode_error = make_decode_error_udf()


def merged_options(
    encoding_aliases: dict[str, str] | None,
    decode_options: "_decode.DecodeOptions | None",
) -> "_decode.DecodeOptions":
    """``decode_options`` (default options when None) with the
    ``encoding_aliases`` rows merged over its own aliases."""
    opts = decode_options if decode_options is not None else _decode.DecodeOptions()
    if encoding_aliases:
        import dataclasses as _dc

        opts = _dc.replace(
            opts, extra_aliases={**(opts.extra_aliases or {}), **encoding_aliases}
        )
    return opts


def needs_full_payload(decode_options: "_decode.DecodeOptions | None") -> bool:
    """Can this decode config fail on bytes past the 1-KiB ingest head? A
    narrowed ``charsets_to_try`` makes the tier-(c) strict decode fallible
    over the whole payload, and a ``header_bytes`` wider than the head
    sniffs charsets the head does not hold. Every other config is decided
    by the head alone."""
    return decode_options is not None and (
        decode_options.charsets_to_try is not None
        or decode_options.header_bytes > 1024
    )


def _stage() -> Column:
    """The C1 rewrite mode of a response row; null for binary passthrough
    rows and for every non-response row (neither decodes, so neither can
    fail)."""
    return F.when(
        F.col("rec_type") == "response",
        rewrite_mode_expr(
            F.split(F.coalesce(F.col("mime"), F.lit("")), ";").getItem(0),
            F.col("resourcetype"),
            F.col("zim_path"),
            F.col("p_method"),
        ),
    )


def with_failure_reason(
    content: DataFrame,
    encoding_aliases: dict[str, str] | None = None,
    decode_options: "_decode.DecodeOptions | None" = None,
    deterministic: bool = True,
) -> DataFrame:
    """``content`` plus ``stage`` (see ``_stage``) and ``reason`` (null, or
    the ``ExceptionClass: message`` its decode would raise) on every row —
    the single-pass failure probe. It reads the 1-KiB ``payload_head`` when
    the config is decided by the head (``needs_full_payload`` false), else
    the full ``payload``; only text-mode rows ship bytes to the UDF.

    ``run_pipeline`` caches this over its content stream (with the payload
    column it read dropped after the probe), so the fails sink is a
    filter of the stream every other sink reads and the records are paired
    and canonicalized once.

    ``deterministic=False`` keeps a filter on ``reason`` above the probe in
    an uncached frame: pushed below a Project, which Catalyst does only when
    every field is deterministic, it runs the UDF again (SURVEY §4.2)."""
    opts = merged_options(encoding_aliases, decode_options)
    use_head = "payload_head" in content.columns and not needs_full_payload(opts)
    if not use_head and "payload" not in content.columns:
        raise ValueError(
            "this decode configuration is fallible over the FULL payload "
            "(narrowed charsets_to_try, or header_bytes wider than the 1 KiB "
            "ingest head), but this frame carries only payload_head — pass a "
            "frame with the payload column (content_records(..., "
            "with_payload=True))"
        )
    err_udf = (
        decode_error
        if encoding_aliases is None and decode_options is None and deterministic
        else make_decode_error_udf(options=opts)
    )
    if not deterministic:
        err_udf = err_udf.asNondeterministic()  # marks this fresh UDF only
    staged = content.withColumn("stage", _stage())
    return staged.withColumn(
        "reason",
        err_udf(
            F.when(
                F.col("stage").isNotNull(),
                F.col("payload_head" if use_head else "payload"),
            ),
            F.col("http_charset"),
            F.col("stage"),
        ),
    )


def failed_rows(probed: DataFrame) -> DataFrame:
    """The quarantine rows of a ``with_failure_reason`` frame."""
    return probed.filter(F.col("reason").isNotNull()).select(
        "zim_path", F.col("effective_url").alias("url"), "file_seq", "rec_seq",
        "stage", "reason",
    )


def quarantined_records(
    content_with_payload: DataFrame,
    encoding_aliases: dict[str, str] | None = None,
    decode_options: "_decode.DecodeOptions | None" = None,
) -> DataFrame:
    """(zim_path, url, file_seq, rec_seq, stage, reason) — response records
    whose text-rewrite stage fails: ``failed_rows`` of the
    ``with_failure_reason`` probe. ``stage`` is the C1 rewrite mode (only
    text modes decode; binary passthrough records cannot fail here).

    The probe reads the ``payload_head`` ingest column (first KiB) when the
    config is decided by the head — the default try-list ends in
    ISO-8859-1, so tier (c) cannot fail and head ≡ full for failure
    detection — and the full ``payload`` otherwise (a user-NARROWED
    ``--charsets-to-try`` makes the tier-(c) strict decode fallible over the
    whole payload; a ``header_bytes`` past the head sniffs bytes the head
    does not hold).

    ``decode_options`` is the reference's decode-tuning CLI surface
    (main.py:113-143); ``encoding_aliases`` rows merge over its aliases."""
    return failed_rows(
        with_failure_reason(
            content_with_payload, encoding_aliases, decode_options, deterministic=False
        )
    )


def exclude_failed_records(content: DataFrame, fails: DataFrame) -> DataFrame:
    """Drop exactly the failing RECORDS from the content stream, BEFORE
    first-wins dedup — the reference's --continue-on-error skips only the
    failing record (converter.py:411-437): a later duplicate record for the
    same path was never marked indexed, so it gets processed and becomes the
    item. Record-keyed on (file_seq, rec_seq); the fails frame is tiny
    relative to content, so the anti-join broadcasts."""
    return content.join(
        fails.select("file_seq", "rec_seq"),
        ["file_seq", "rec_seq"],
        "left_anti",
    )
