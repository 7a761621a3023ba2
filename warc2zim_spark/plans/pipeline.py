"""The two-pass WARC→ZIM pipeline as parquet-table sinks over one record pass.

Reference lifecycle (SURVEY §3.1, converter.py:279-461):
  pass 1 (gather)  → expected-item set, redirect edges + fixpoint, date
                     range, main page, warcinfo (converter.py:480-714)
  plan finalize    → driver-side metadata assembly (small DataFrames)
  pass 2 (execute) → item/redirect/alias tables (converter.py:942-1033,
                     439-457)

Sinks are parquet tables in an Iceberg-compatible layout (items, redirects,
aliases, expected, metadata, fails, metrics). The records are paired,
canonicalized and failure-probed once, into one cached content stream that
every sink reads. The barrier between the passes is inherent (rewriting
depends on global set membership — SURVEY §4.1), but the pass-1 products
that need only that stream — the redirect verdict, the failure probe, the
main page and metadata lookups — do not depend on each other, so they run
as concurrent threads rather than one after another.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from warc2zim_spark.functions.expressions import literal_frame
from warc2zim_spark.kernels.surt import canonicalize
from warc2zim_spark.operators.gather import (
    expected_items,
    main_page,
    main_page_meta,
)
from warc2zim_spark.operators.items import items_table, revisit_aliases
from warc2zim_spark.operators.metadata import (
    STATIC_JS_ASSETS,
    items_with_static,
    static_asset_items,
    validate_metadata,
    zim_metadata,
)
from warc2zim_spark.operators.quarantine import (
    exclude_failed_records,
    failed_rows,
    merged_options,
    needs_full_payload,
    with_failure_reason,
)
from warc2zim_spark.operators.records import content_records, load_records
from warc2zim_spark.operators.redirects import (
    expected_with_redirects,
    kept_redirects,
    kept_sources,
    redirect_edges,
)
from warc2zim_spark.plans.branches import branches


def run_pipeline(
    spark: SparkSession,
    webdata_dir: str,
    out_dir: str,
    include_domains: list[str] | None = None,
    name: str = "warc2zim-spark-output",
    custom_css: bytes | None = None,
    metadata_args: dict | None = None,
    main_url: str | None = None,
    favicon_url: str | None = None,
    continue_on_error: bool = False,
    encoding_aliases: dict[str, str] | None = None,
    decode_options=None,
    disable_metadata_checks: bool = False,
    scraper_suffix: str | None = None,
    source: str | None = None,
    failed_items: str = "fails",
    progress_file: str | None = None,
) -> dict:
    """Full pass1 + pass2 → tables under ``out_dir``; returns run metrics.

    Each intermediate is derived once and shared:

    * One record pass, for every decode config. The records are paired and
      canonicalized once, into a narrow content stream that is cached
      together with each record's failure ``stage``/``reason``
      (``with_failure_reason`` over the 1-KiB ``payload_head``, or over the
      full ``payload`` for a config fallible past the head: a narrowed
      ``charsets_to_try``, or ``header_bytes`` > 1024; the payload column
      is dropped once probed); the fails sink is a filter of it. Every
      Python kernel runs there, once per record, in two Arrow nodes, one
      each side of the pairing shuffle: the stream also carries each
      redirect's ``location_path`` and each revisit's ``refers_to_path``,
      so branch (a) and the ``aliases`` sink run no Python.
    * The redirect fixpoint runs once; its kept-source keys, materialized
      by an eager local checkpoint in branch (a), feed the redirects and
      expected sinks and the --url presence check.
    * The main page is redirect-followed once, by a bounded single-row
      walk, to a (zim_path, url) tuple; its one record is located on the
      cached stream, fetched from the raw records by (file_seq, rec_seq),
      decoded and parsed once on the driver, and that parse feeds both the
      favicon candidates and the metadata title/lang cascade.

    Three branches run concurrently (``plans.branches``), each job under
    the caller's job group and description:

    (c) first, on a pool thread: the main page (A4 pick or --url, J5 walk),
        its record read, the illustration, then the metadata rows (at most
        12). It reads the content stream and builds no cache over it;
    (b) on the calling thread: the ``fails`` sink (its job fills the content
        stream's cache), the abort check, the ``items`` sink, then the
        ``aliases`` sink;
    (a) on a pool thread once the abort check passes: the redirect verdict
        (one eager checkpoint, building the ``edges`` and ``expected``
        caches over the finished stream), then the ``redirects`` and
        ``expected`` sinks.

    So no cache is built over one still being built, and no sink but
    ``fails`` is written before the check passes. The ``metadata`` sink is
    written last, once ``Counter-Items`` is known. The call returns or
    raises once every branch has finished, releasing its caches either way.

    Errors: the metadata validation and a ``main_url`` that does not
    canonicalize are raised before any job runs, the failed-records abort
    before branch (a) starts, and "Unable to find main path" then the --url
    "Unable to find main page" after the join, with the four data sinks
    written. Any other failure (a failed job, an illustration error) is the
    branches' first failure: it cancels the others' jobs and is raised.

    ``metadata_args``: keyword passthrough to ``zim_metadata`` (title,
    language, description, tags, ... — the reference's CLI flags).

    ``main_url``: the reference's ``--url`` (main.py:26): the user-chosen
    main page. Its canonical path is redirect-followed (J5,
    converter.py:586-606) and must land on an expected item, else the run
    aborts (converter.py:612-614). Without it, A4 auto-selection applies —
    and is redirect-followed the same way before Main-Path is written.

    ``favicon_url``: the reference's ``--favicon`` (main.py:40): overrides
    icon discovery; the illustration comes from that URL's captured record
    (converter.py:716-738 try user icon first).

    ``continue_on_error``: the reference's ``--continue-on-error``
    (main.py:92-103, converter.py:411-437). Failing records are captured
    into the ``fails`` sink either way (per-record isolation — a poisoned
    record never fails a task); False (reference default) aborts the run
    when any exist, True skips exactly the failing records.

    ``encoding_aliases``: the reference's ``--encoding-aliases``
    (main.py:144-158) — per-run {alias: encoding} rows consulted before the
    builtin table; mapping a record's unknown charset turns its would-be
    failure into a clean decode.

    ``decode_options``: a :class:`~warc2zim_spark.kernels.decode.DecodeOptions`
    — the rest of the decode-tuning CLI (``--charsets-to-try``,
    ``--ignore-content-header-charsets``, ``--ignore-http-header-charsets``,
    ``--content-header-bytes-length``, main.py:113-143).

    ``disable_metadata_checks``: the reference's flag of the same name
    (main.py:105-111, converter.py:279): skip openZIM-convention validation
    of user metadata.

    ``scraper_suffix``: appended to the Scraper metadata row
    (main.py:85-90, converter.py:365-376).

    ``source``: accepted for CLI parity with main.py:77; the reference sets
    ``self.source`` (converter.py:135) but never writes Source metadata —
    a write-only flag we mirror faithfully rather than invent behavior for.

    ``failed_items``: the reference's ``--failed-items`` (main.py:98-103):
    where the fails sink lands — absolute, or relative to ``out_dir``
    (default ``fails``, the reference's own default).

    ``progress_file``: the reference's ``--progress-file`` (main.py:80-84,
    converter.py:233-262): write ``{"written": N, "total": N}`` JSON —
    absolute, or relative to ``out_dir``. The reference updates it per
    record inside its sequential loop; a distributed batch engine has no
    meaningful mid-job record counter, so it is written at stage
    granularity: 0/0 at start (totals are unknown before the gather pass,
    exactly like the reference before its first scan), the item count when
    the item sink lands, and the final written total (items + redirects +
    aliases) at end — same file contract, coarser cadence."""
    del source  # parity: reference never consumes it (converter.py:135)
    # validate user input BEFORE any distributed work (converter.py:279-294
    # "so that we do not waste time doing operations for a scraper which will
    # fail anyway in the end")
    if not disable_metadata_checks:
        validate_metadata(
            **{
                k: v
                for k, v in (metadata_args or {}).items()
                if k in ("title", "description", "long_description", "language", "tags")
            }
        )
    if main_url is not None:
        main_path = canonicalize(main_url)
        if main_path is None:
            raise ValueError(f"--url does not canonicalize: {main_url!r}")
    t0 = time.time()
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    fails_dir = Path(failed_items)
    if not fails_dir.is_absolute():
        fails_dir = out / fails_dir
    progress_path = Path(progress_file) if progress_file else None
    if progress_path is not None and not progress_path.is_absolute():
        progress_path = out / progress_path

    def _progress(written: int, total: int) -> None:
        if progress_path is not None:
            progress_path.write_text(
                json.dumps({"written": written, "total": total})
            )

    _progress(0, 0)
    # the decode knobs drive EVERY decode, not only the quarantine probe —
    # a rescued/re-tuned record must decode the way the probe predicted;
    # --encoding-aliases rows merge into the downstream options the same
    # way the failure probe merges them
    downstream_decode = (
        merged_options(encoding_aliases, decode_options)
        if encoding_aliases
        else decode_options
    )
    records = load_records(spark, webdata_dir)
    # S10: per-record failure isolation. The probe rides the one record
    # pass: the cached content stream carries each record's failure reason
    # (the payload column it read — the 1-KiB head, or the full payload for
    # a config fallible past the head — is dropped once probed), and the
    # fails sink is a filter of it, so each kernel runs once per record.
    full = needs_full_payload(decode_options)
    content = (
        with_failure_reason(
            content_records(records, with_head=not full, with_payload=full),
            encoding_aliases=encoding_aliases,
            decode_options=decode_options,
        )
        .drop("payload_head", "payload")
        .cache()
    )
    fails = failed_rows(content)

    # ---- pass 1: gather --------------------------------------------------
    expected = expected_items(content).cache()
    edges = redirect_edges(content).cache()

    # S9 progress stats via Spark-native Observation: each sink write carries
    # its own observed aggregates (converter.py's per-run counters), so the
    # metrics cost ZERO extra jobs.
    obs_fails = Observation("fails_sink")
    obs_items = Observation("items_sink")
    obs_redirects = Observation("redirects_sink")
    obs_aliases = Observation("aliases_sink")
    obs_expected = Observation("expected_sink")

    def redirect_branch():
        """Branch (a): ONE fixpoint, materialized by an eager local
        checkpoint, then its two sinks → the verdict (kept-source keys),
        which the --url presence check reads after the join."""
        kept = kept_sources(edges, expected).localCheckpoint(eager=True)
        kept_redirects(edges, expected, kept).observe(
            obs_redirects, F.count(F.lit(1)).alias("rows")
        ).write.mode("overwrite").parquet(str(out / "redirects"))
        expected_with_redirects(edges, expected, kept).observe(
            obs_expected, F.count(F.lit(1)).alias("rows")
        ).write.mode("overwrite").parquet(str(out / "expected"))
        return kept

    def main_page_rows() -> tuple[str, list] | None:
        """Branch (c): main page, illustration, metadata rows → (Main-Path,
        the collected metadata rows), or None without a main path."""
        # --url override or A4 auto-selection, then the J5 redirect follow —
        # Main-Path must point at the FINAL target when the landing path is
        # a redirect source (converter.py:586-606). Walked ONCE here.
        resolved = main_page(
            content, (main_path, main_url) if main_url is not None else None
        )
        if resolved is None:
            return None
        resolved_path, page_url = resolved
        # the main page's ONE record: read by position, decoded and parsed
        # once; its icons feed the favicon discovery, its title/lang the
        # metadata cascade
        page = main_page_meta(content, records, resolved_path, downstream_decode)
        meta_args = dict(metadata_args or {})
        if scraper_suffix is not None:
            meta_args.setdefault("scraper_suffix", scraper_suffix)
        if disable_metadata_checks:
            meta_args["validate"] = False
        # illustration: --favicon override, else discovery off the main page
        # (J3 capture + A9 ranking), located on the cached narrow content
        # stream with payloads fetched from ``records`` by position — one
        # action; 0 captured rows → the transparent fallback inside
        # zim_metadata (converter.py:920-924)
        if meta_args.get("illustration") is None:
            from warc2zim_spark.operators.favicon import (  # needs a session
                best_capture,
                favicon_candidates,
                illustration_from_url,
            )

            if favicon_url is not None:
                best = illustration_from_url(content, favicon_url, records=records)
            else:
                candidates = favicon_candidates(page_url, page["icons"]) if page else []
                best = best_capture(content, candidates, records)
            illu_rows = best.select("illustration").limit(1).collect()
            if illu_rows:
                meta_args["illustration"] = bytes(illu_rows[0].illustration)
        # S7: the full metadata frame (validated fail-fast inside) — title/
        # lang cascade off the SAME main page the run selected (user --url
        # or auto); one action collects it
        meta = zim_metadata(
            content, records, name=name,
            main_head=(page["title"], page["lang_decl"]) if page else (None, None),
            **meta_args,
        )
        return resolved_path, [tuple(r) for r in meta.collect()]

    # (c) builds no cache over the content stream, so it starts first; (a)
    # builds two, so it starts once the fails write has built the stream
    cached = [content, edges, expected]
    try:
        with branches(spark) as branch:
            metadata_rows = branch(main_page_rows)
            fails.observe(obs_fails, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).parquet(str(fails_dir))
            n_fails = obs_fails.get["rows"]
            if n_fails and not continue_on_error:
                sample = [r.url for r in fails.limit(3).collect()]
                raise ValueError(
                    f"{n_fails} record(s) failed processing (e.g. {sample}); "
                    f"aborting — pass continue_on_error=True to skip them "
                    f"(details in {fails_dir})"
                )
            verdict = branch(redirect_branch)

            # ---- pass 2: execute -----------------------------------------
            # record-level exclusion BEFORE first-wins: a failing winner falls
            # back to the next record for the same path, like the reference's
            # skip loop
            item_source = exclude_failed_records(content, fails) if n_fails else content
            items = items_table(item_source, include_domains).cache()
            cached.append(items)
            # S8: static assets union into the item sink (converter.py:396-409)
            all_items = items_with_static(items, static_asset_items(spark, custom_css))
            all_items.observe(
                obs_items,
                F.count(F.lit(1)).alias("rows"),
                F.sum("payload_len").alias("bytes"),
                # DISTINCT aggregates are disallowed in observed metrics — HLL
                F.approx_count_distinct("mime").alias("mimes"),
            ).write.mode("overwrite").parquet(str(out / "items"))
            n_all_items = obs_items.get["rows"]
            _progress(int(n_all_items), int(n_all_items))
            revisit_aliases(content, items).observe(
                obs_aliases, F.count(F.lit(1)).alias("rows")
            ).write.mode("overwrite").parquet(str(out / "aliases"))

        if metadata_rows.result() is None:
            # converter.py:315-316: "Unable to find main path, aborting" — a
            # ZIM without a main page is unusable; fail rather than emit one
            raise ValueError("Unable to find main path, aborting")
        resolved_path, meta_rows = metadata_rows.result()
        if main_url is not None:
            # a user-specified main page must actually exist in the archive
            # (converter.py:612-614 "Unable to find main page")
            present = (
                expected_with_redirects(edges, expected, verdict.result())
                .filter(F.col("zim_path") == resolved_path)
                .limit(1)
                .count()
            )
            if not present:
                raise ValueError(
                    f"Unable to find main page {resolved_path!r} "
                    "(resolved from --url) among expected items, aborting"
                )
    finally:
        # dependents first: uncaching a cache recompiles unbuilt ones over it
        for df in reversed(cached):
            df.unpersist()

    # the engine's own operational entries close the metadata sink, once the
    # item count is known
    meta_rows += [("Main-Path", resolved_path), ("Counter-Items", str(n_all_items))]
    literal_frame(spark, meta_rows, "name string, value string").write.mode(
        "overwrite"
    ).parquet(str(out / "metadata"))

    n_static = len(STATIC_JS_ASSETS) + (custom_css is not None)
    metrics = {
        "items": n_all_items - n_static,  # record-derived items
        "items_with_static": n_all_items,
        "payload_bytes": obs_items.get["bytes"],
        "distinct_mimes": obs_items.get["mimes"],
        "redirects": obs_redirects.get["rows"],
        "aliases": obs_aliases.get["rows"],
        "expected": obs_expected.get["rows"],
        "failed_records": n_fails,
        "wall_s": round(time.time() - t0, 2),
    }
    (out / "metrics.json").write_text(json.dumps(metrics))
    written = int(n_all_items) + int(metrics["redirects"]) + int(metrics["aliases"])
    _progress(written, written)
    return metrics
