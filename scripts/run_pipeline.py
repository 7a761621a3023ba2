"""spark-submit entry (north_rule launch contract):

    spark-submit --py-files warc2zim_spark.zip scripts/run_pipeline.py \
        --webdata /root/repo/webdata/sf0.01 --out /tmp/zim_out \
        [--crawl --max-waves 4]

Packs both pipelines: the WARC→ZIM two-pass convert and the BFS crawl
frontier (resumable from --out/crawl checkpoints).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# under spark-submit the package arrives via --py-files; for a direct
# `python scripts/run_pipeline.py` run, the repo root works too
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def expand_zim_file(name: str, zim_file: str | None, period: str) -> str:
    """converter.py:142-150: zim_file defaults to ``{name}_{period}``; a
    literal ``{period}`` placeholder expands to %Y-%m. str.replace, not
    str.format: a name containing any OTHER brace (e.g. ``notes{v1}``)
    must pass through verbatim, not KeyError/IndexError."""
    return (zim_file or f"{name}_{{period}}").replace("{period}", period)


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--webdata", required=True)
    # output location: either the engine-native --out DIR, or the
    # reference's --output/--zim-file pair (main.py:64-67; converter.py:
    # 142-150 computes zim_file from name + %Y-%m when absent) — the sink
    # directory plays the ZIM file's role
    parser.add_argument("--out", default=None)
    parser.add_argument("--output", default=None, help="reference-style output dir")
    parser.add_argument("--zim-file", default=None, dest="zim_file")
    # reference converter.py:152-158: refuse to clobber without --overwrite
    parser.add_argument("--overwrite", action="store_true")
    parser.add_argument("-i", "--include-domains", nargs="*", default=None)
    # reference main.py:80-84 / 98-103
    parser.add_argument("--progress-file", default=None)
    parser.add_argument("--failed-items", default="fails")
    parser.add_argument("-v", "--verbose", action="store_true")
    parser.add_argument(
        "-V", "--version", action="version",
        version=__import__("warc2zim_spark").__version__,
    )
    # reference CLI metadata flags (converter.py:121-127)
    parser.add_argument("--name", default="warc2zim-spark-output")
    parser.add_argument("--title", default=None)
    parser.add_argument("--description", default="-")
    parser.add_argument("--long-description", default=None)
    parser.add_argument("--lang", default=None)
    parser.add_argument("--tags", default=None)
    parser.add_argument("--creator", default="-")
    parser.add_argument("--publisher", default="openZIM")
    parser.add_argument("--custom-css", default=None, help="path to a css file")
    # reference main.py:26 — the user-chosen main page URL; redirect-followed
    # and existence-checked before Main-Path is written
    parser.add_argument("-u", "--url", default=None, dest="main_url")
    # reference main.py:40 — favicon URL overriding icon discovery
    parser.add_argument("-f", "--favicon", default=None, dest="favicon_url")
    # reference main.py:92-103 — skip failing records instead of aborting
    parser.add_argument("--continue-on-error", action="store_true")
    # reference main.py:144-158 — per-run charset alias rows, alias=encoding
    parser.add_argument("--encoding-aliases", nargs="*", default=None,
                        metavar="ALIAS=ENCODING")
    # reference main.py:113-143 — decode tuning: tier-(c) try-list (single
    # csv string, like the reference), lying-header ignore flags, and the
    # content-declaration sniff window size
    parser.add_argument("--charsets-to-try", default=None,
                        metavar="CS1,CS2", dest="charsets_to_try")
    parser.add_argument("--ignore-content-header-charsets", action="store_true")
    parser.add_argument("--ignore-http-header-charsets", action="store_true")
    parser.add_argument("--content-header-bytes-length", type=int, default=1024)
    # reference main.py:85-90 — extra Scraper metadata suffix
    parser.add_argument("--scraper-suffix", default=None)
    # reference main.py:77 — accepted for parity; the reference stores but
    # never consumes it (converter.py:135), and so do we
    parser.add_argument("--source", default=None)
    # reference main.py:105-111 — skip openZIM metadata validation
    parser.add_argument("--disable-metadata-checks", action="store_true")
    parser.add_argument("--crawl", action="store_true")
    parser.add_argument("--max-waves", type=int, default=4)
    parser.add_argument("--host-budget", type=int, default=8)
    parser.add_argument("--wave-budget", type=int, default=1000)
    args = parser.parse_args()

    import time as _time

    if args.out is not None and args.output is not None:
        # refusing the ambiguity beats silently ignoring --output (and with
        # it --zim-file/--overwrite, which only act on the reference path)
        parser.error("--out and --output are mutually exclusive")
    if args.out is not None:
        # engine-native path: sinks are mode("overwrite") — re-runs into the
        # same dir have always been allowed, so the reference's clobber
        # refusal (which guards only ITS computed ZIM file) does not apply
        out_dir = args.out
    elif args.output is not None:
        zim_file = expand_zim_file(args.name, args.zim_file, _time.strftime("%Y-%m"))
        out_dir = os.path.join(args.output, zim_file)
        if os.path.exists(out_dir) and os.listdir(out_dir) and not args.overwrite:
            # converter.py:152-158 exits 2 rather than clobbering
            print(
                f"Output already exists: {out_dir}. Use --overwrite to replace it.",
                file=sys.stderr,
            )
            sys.exit(2)
    else:
        parser.error("one of --out or --output is required")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("warc2zim_spark").getOrCreate()
    if args.verbose:
        spark.sparkContext.setLogLevel("INFO")
    from warc2zim_spark.plans.pipeline import run_pipeline

    custom_css = None
    if args.custom_css:
        with open(args.custom_css, "rb") as fh:
            custom_css = fh.read()
    from warc2zim_spark.kernels.decode import DecodeOptions

    decode_options = DecodeOptions(
        charsets_to_try=(
            tuple(c.strip() for c in args.charsets_to_try.split(",") if c.strip())
            if args.charsets_to_try is not None else None
        ),
        header_bytes=args.content_header_bytes_length,
        ignore_content_header_charsets=args.ignore_content_header_charsets,
        ignore_http_header_charsets=args.ignore_http_header_charsets,
    )
    metrics = run_pipeline(
        spark, args.webdata, out_dir, args.include_domains,
        name=args.name, custom_css=custom_css,
        main_url=args.main_url, favicon_url=args.favicon_url,
        continue_on_error=args.continue_on_error,
        decode_options=decode_options,
        disable_metadata_checks=args.disable_metadata_checks,
        scraper_suffix=args.scraper_suffix,
        source=args.source,
        failed_items=args.failed_items,
        progress_file=args.progress_file,
        encoding_aliases=(
            dict(p.split("=", 1) for p in args.encoding_aliases)
            if args.encoding_aliases else None
        ),
        metadata_args={
            "title": args.title, "description": args.description,
            "long_description": args.long_description, "language": args.lang,
            "tags": args.tags, "creator": args.creator,
            "publisher": args.publisher,
        },
    )
    print(json.dumps({"pipeline": metrics}))

    if args.crawl:
        from warc2zim_spark.frontier.crawl import run_crawl

        seeds = spark.read.parquet(f"{args.webdata}/seeds.parquet")
        robots = spark.read.parquet(f"{args.webdata}/robots.parquet")
        pages = spark.read.parquet(f"{args.webdata}/pages.parquet")
        schedule = run_crawl(
            spark, seeds, pages, robots, f"{out_dir}/crawl",
            max_waves=args.max_waves,
            host_budget=args.host_budget,
            wave_budget=args.wave_budget,
        )
        print(json.dumps({"crawl_scheduled": schedule.count()}))
    spark.stop()


if __name__ == "__main__":
    main()
