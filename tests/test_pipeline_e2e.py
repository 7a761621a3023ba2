"""run_pipeline end-to-end: all sinks materialize, metadata is complete,
static assets union in, validation fails fast."""

import json

import pytest


class TestRunPipeline:
    @pytest.fixture(scope="class")
    def result(self, spark, webdata, tmp_path_factory):
        from warc2zim_spark.plans.pipeline import run_pipeline

        out = tmp_path_factory.mktemp("pipeline_out")
        metrics = run_pipeline(
            spark, webdata, str(out), name="e2e-test",
            custom_css=b"body { margin: 0 }",
            metadata_args={"title": "E2E", "language": "fr", "tags": "a;b"},
            continue_on_error=True,  # fixture carries 2 poison records
        )
        return out, metrics

    def test_metrics_and_sinks(self, spark, result):
        out, metrics = result
        assert metrics["items"] > 0
        assert metrics["redirects"] > 0
        assert metrics["aliases"] > 0
        for sink in ("items", "redirects", "aliases", "expected", "metadata"):
            assert (out / sink).exists(), sink
        assert json.loads((out / "metrics.json").read_text())["items"] == metrics["items"]

    def test_items_include_static_assets(self, spark, result):
        out, _ = result
        items = spark.read.parquet(str(out / "items"))
        static = {r.zim_path for r in items.filter(
            items.zim_path.startswith("_zim_static/")).collect()}
        assert static == {
            "_zim_static/wombat.js",
            "_zim_static/wombatSetup.js",
            "_zim_static/custom.css",
        }

    def test_metadata_complete(self, spark, result):
        out, _ = result
        meta = {r.name: r.value for r in spark.read.parquet(str(out / "metadata")).collect()}
        for key in ("Name", "Language", "Title", "Description", "Creator",
                    "Publisher", "Date", "Illustration_48x48@1", "Scraper",
                    "X-ContentDate", "Tags", "Main-Path", "Counter-Items"):
            assert key in meta, key
        assert meta["Name"] == "e2e-test"
        assert meta["Language"] == "fra"
        assert meta["Title"] == "E2E"
        assert int(meta["Counter-Items"]) == spark.read.parquet(str(out / "items")).count()

    def test_fails_sink_and_exclusion(self, spark, result):
        """S10: the 2 poison records land in the fails sink with stage +
        error class, and their paths never reach the items sink (reference
        skips exactly the failing record under --continue-on-error)."""
        out, metrics = result
        fails = spark.read.parquet(str(out / "fails"))
        rows = {r.zim_path: (r.stage, r.reason) for r in fails.collect()}
        assert metrics["failed_records"] == 2
        assert rows["statuses.example/poison-1.html"][0] == "html"
        assert rows["statuses.example/poison-2.css"][0] == "css"
        assert all(reason.startswith("LookupError") for _, reason in rows.values())
        item_paths = {
            r.zim_path
            for r in spark.read.parquet(str(out / "items")).collect()
        }
        assert "statuses.example/poison-1.html" not in item_paths
        assert "statuses.example/poison-2.css" not in item_paths

    def test_fails_sink_equals_standalone_probe(self, spark, webdata, result):
        """The fails sink is a filter of the cached single-pass content
        stream; its rows equal the standalone probe's over the same records
        (default options)."""
        from warc2zim_spark.operators.quarantine import quarantined_records
        from warc2zim_spark.operators.records import content_records, load_records

        out, _ = result
        fused = spark.read.parquet(str(out / "fails")).collect()
        standalone = quarantined_records(
            content_records(load_records(spark, webdata), with_head=True)
        ).collect()
        assert len(fused) == 2
        assert sorted(fused) == sorted(standalone)

    @pytest.mark.parametrize("option", ["charsets_to_try", "header_bytes"])
    def test_narrowed_fails_sink_equals_standalone_probe(
        self, spark, webdata, tmp_path, option
    ):
        """As above for a decode config fallible past the 1-KiB head: the
        sink's full-payload probe rides the same record pass, and its rows
        equal the standalone probe's over a payload-bearing frame."""
        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records
        from warc2zim_spark.operators.records import content_records, load_records
        from warc2zim_spark.plans.pipeline import run_pipeline

        opts = {
            "charsets_to_try": DecodeOptions(charsets_to_try=("utf-8", "ascii")),
            "header_bytes": DecodeOptions(header_bytes=4096),
        }[option]
        out = tmp_path / "out_narrowed"
        metrics = run_pipeline(
            spark, webdata, str(out), name="n",
            decode_options=opts, continue_on_error=True,
        )
        fused = spark.read.parquet(str(out / "fails")).collect()
        standalone = quarantined_records(
            content_records(load_records(spark, webdata), with_payload=True),
            decode_options=opts,
        ).collect()
        assert metrics["failed_records"] == len(fused) >= 2
        assert sorted(fused) == sorted(standalone)

    def test_aliased_fails_sink_equals_standalone_probe(self, spark, webdata, tmp_path):
        """As above with --encoding-aliases: mapping one poison charset
        leaves the other record in both the sink and the standalone probe."""
        from warc2zim_spark.operators.quarantine import quarantined_records
        from warc2zim_spark.operators.records import content_records, load_records
        from warc2zim_spark.plans.pipeline import run_pipeline

        aliases = {"bogus-enc": "utf-8"}
        out = tmp_path / "out_partial_aliases"
        metrics = run_pipeline(
            spark, webdata, str(out), name="n",
            encoding_aliases=aliases, continue_on_error=True,
        )
        fused = spark.read.parquet(str(out / "fails")).collect()
        standalone = quarantined_records(
            content_records(load_records(spark, webdata), with_head=True),
            encoding_aliases=aliases,
        ).collect()
        assert metrics["failed_records"] == 1
        assert [r.zim_path for r in fused] == ["statuses.example/poison-2.css"]
        assert sorted(fused) == sorted(standalone)

    def test_encoding_aliases_rescue_poison(self, spark, webdata, tmp_path):
        """--encoding-aliases (ref main.py:144-158): mapping the poison
        records' unknown charsets to a real codec turns their failures into
        clean decodes — zero fails, no abort, items present."""
        from warc2zim_spark.plans.pipeline import run_pipeline

        out = tmp_path / "out_aliases"
        metrics = run_pipeline(
            spark, webdata, str(out), name="n",
            encoding_aliases={"bogus-enc": "utf-8", "bogus-charset": "utf-8"},
        )
        assert metrics["failed_records"] == 0
        item_paths = {
            r.zim_path
            for r in spark.read.parquet(str(out / "items")).collect()
        }
        assert "statuses.example/poison-1.html" in item_paths
        assert "statuses.example/poison-2.css" in item_paths

    def test_default_aborts_on_failures(self, spark, webdata, tmp_path):
        """reference default (no --continue-on-error): any failing record
        aborts the run (converter.py:433-437). Only the fails sink is
        written, holding exactly the planted records, and no branch's job
        is still running when the error is raised."""
        from warc2zim_spark.plans.pipeline import run_pipeline

        out = tmp_path / "abort_out"
        with pytest.raises(ValueError, match="failed processing"):
            run_pipeline(spark, webdata, str(out), name="n")
        assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
        assert [p.name for p in out.iterdir()] == ["fails"]
        fails = spark.read.parquet(str(out / "fails")).collect()
        assert sorted((r.zim_path, r.stage) for r in fails) == [
            ("statuses.example/poison-1.html", "html"),
            ("statuses.example/poison-2.css", "css"),
        ]

    def test_user_url_redirect_followed(self, spark, webdata, tmp_path):
        """--url at the fixture's 302→301→307 chain head: Main-Path must land
        on the FINAL target (ref converter.py:586-606), which must be an
        expected item — the J5 operator reachable from the user surface."""
        from warc2zim_spark.plans.pipeline import run_pipeline

        out = tmp_path / "out_url"
        run_pipeline(
            spark, webdata, str(out), name="n",
            main_url="https://redir.example/main-start",
            continue_on_error=True,
        )
        meta = {
            r.name: r.value
            for r in spark.read.parquet(str(out / "metadata")).collect()
        }
        main_path = meta["Main-Path"]
        assert main_path != "redir.example/main-start"
        assert not main_path.startswith("redir.example/main-")
        expected = {
            r.zim_path
            for r in spark.read.parquet(str(out / "expected")).collect()
        }
        assert main_path in expected

    def test_user_url_not_in_archive_aborts(self, spark, webdata, tmp_path):
        """ref converter.py:612-614: a --url whose resolved path is absent
        from the archive aborts instead of emitting a broken Main-Path."""
        from warc2zim_spark.plans.pipeline import run_pipeline

        with pytest.raises(ValueError, match="Unable to find main page"):
            run_pipeline(
                spark, webdata, str(tmp_path / "out_missing"), name="n",
                main_url="https://nowhere.example/never-crawled",
                continue_on_error=True,
            )

    def test_job_count_pinned(self, spark, webdata, tmp_path, count_jobs):
        """Each intermediate is derived once: one record pass, one redirect
        fixpoint whose verdict reads its round-0 map, one bounded main-page
        walk, one read and parse of the main page's record for both the
        icons and the metadata, payloads fetched by position. A cold call on
        this fixture runs 52 Spark jobs (61 while the favicon and metadata
        paths each read the main page and the verdict re-joined the edge
        graph; 127 when the fixpoint, the walk and the payload-carrying
        content stream were each derived twice); any re-derivation pushes
        it over the ceiling. The count covers the branch threads' jobs,
        which carry the caller's job group like the calling thread's."""
        from warc2zim_spark.plans.pipeline import run_pipeline

        n_group, n_jobs = count_jobs(
            "run_pipeline_jobs",
            lambda: run_pipeline(
                spark, webdata, str(tmp_path / "out_jobs"), name="n",
                custom_css=b"body{}", continue_on_error=True,
            ),
        )
        assert n_group == n_jobs
        assert 0 < n_jobs <= 52, n_jobs

    @pytest.mark.parametrize(
        "option", ["default", "main_url", "favicon_url", "encoding_aliases"]
    )
    def test_metadata_sink_is_standalone_metadata(
        self, spark, webdata, tmp_path, option
    ):
        """One code path: the metadata sink, less its Main-Path and
        Counter-Items rows, equals a standalone ``zim_metadata`` call given
        ``best_illustration``'s bytes (``illustration_from_url``'s under
        --favicon; none when nothing is captured, as for the --url page),
        under the same options."""
        from warc2zim_spark.kernels.surt import canonicalize
        from warc2zim_spark.operators.favicon import (
            best_illustration,
            illustration_from_url,
        )
        from warc2zim_spark.operators.gather import main_page
        from warc2zim_spark.operators.metadata import zim_metadata
        from warc2zim_spark.operators.quarantine import merged_options
        from warc2zim_spark.operators.records import content_records, load_records
        from warc2zim_spark.plans.pipeline import run_pipeline

        main_url = "https://redir.example/main-start"
        favicon_url = "https://site3.example/alt.ico"  # the fixture's 48px icon
        aliases = {"bogus-enc": "utf-8"}
        kwargs = {
            "main_url": {"main_url": main_url},
            "favicon_url": {"favicon_url": favicon_url},
            "encoding_aliases": {"encoding_aliases": aliases},
        }.get(option, {})
        out = tmp_path / "out_one_path"
        run_pipeline(
            spark, webdata, str(out), name="n", continue_on_error=True, **kwargs
        )
        sink = sorted(
            tuple(r)
            for r in spark.read.parquet(str(out / "metadata")).collect()
            if r.name not in ("Main-Path", "Counter-Items")
        )

        records = load_records(spark, webdata)
        content = content_records(records).cache()
        decode = merged_options(aliases, None) if option == "encoding_aliases" else None
        start = (canonicalize(main_url), main_url) if option == "main_url" else None
        if option == "favicon_url":
            best = illustration_from_url(content, favicon_url, records=records)
        else:
            best = best_illustration(
                content, main_page(content, start), decode_options=decode,
                records=records,
            )
        illu = best.select("illustration").collect()
        standalone = zim_metadata(
            content, records, name="n", main=start, decode_options=decode,
            illustration=bytes(illu[0].illustration) if illu else None,
        )
        assert sink == sorted(tuple(r) for r in standalone.collect())
        content.unpersist()

    def test_favicon_override_with_fallback(self, spark, webdata, tmp_path):
        """--favicon pointing at a URL with no status-200 record: the
        override path runs, captures nothing, and the transparent fallback
        lands (ref converter.py:920-924)."""
        import base64

        from warc2zim_spark.operators.metadata import transparent_png
        from warc2zim_spark.plans.pipeline import run_pipeline

        out = tmp_path / "out_fav"
        run_pipeline(
            spark, webdata, str(out), name="n",
            favicon_url="https://nowhere.example/no-such-icon.png",
            continue_on_error=True,
        )
        meta = {
            r.name: r.value
            for r in spark.read.parquet(str(out / "metadata")).collect()
        }
        assert meta["Illustration_48x48@1"] == base64.b64encode(
            transparent_png(48)
        ).decode("ascii")

    def test_validation_fails_fast(self, spark, webdata, tmp_path):
        from warc2zim_spark.plans.pipeline import run_pipeline

        with pytest.raises(ValueError, match="Title"):
            run_pipeline(
                spark, webdata, str(tmp_path / "x"), name="n",
                metadata_args={"title": "x" * 31},
            )

    def test_no_main_page_aborts(self, spark, tmp_path):
        """converter.py:315-316: no processable html-200 page → abort."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from warc2zim_spark.plans.pipeline import run_pipeline

        import datetime as dt

        # record table with only a redirect — no main-page candidate.
        # Explicit types: untyped [None] columns land as arrow null type and
        # reach pandas as NaN floats.
        table = pa.table(
            {
                "file_seq": pa.array([0], pa.int64()),
                "rec_seq": pa.array([1], pa.int64()),
                "rec_type": pa.array(["response"], pa.string()),
                "url": pa.array(["https://x.example/a"], pa.string()),
                "warc_date": pa.array([dt.datetime(2025, 3, 1)], pa.timestamp("us")),
                "record_id": pa.array(["<urn:uuid:1>"], pa.string()),
                "concurrent_to": pa.array([None], pa.string()),
                "status": pa.array([301], pa.int32()),
                "mime": pa.array(["text/html"], pa.string()),
                "resourcetype": pa.array([None], pa.string()),
                "http_location": pa.array(["/b"], pa.string()),
                "refers_to_url": pa.array([None], pa.string()),
                "payload": pa.array([b"x"], pa.binary()),
                "payload_len": pa.array([1], pa.int64()),
                "payload_digest": pa.array(["sha256:x"], pa.string()),
                "http_charset": pa.array([None], pa.string()),
                "req_method": pa.array([None], pa.string()),
                "req_mime": pa.array([None], pa.string()),
                "req_body": pa.array([None], pa.binary()),
                "req_content_length": pa.array([None], pa.int64()),
            }
        )
        d = tmp_path / "web"
        d.mkdir()
        pq.write_table(table, d / "warc_records.parquet")
        with pytest.raises(ValueError, match="main path"):
            run_pipeline(spark, str(d), str(tmp_path / "out"), name="n")


class TestFailedWinnerFallback:
    """advisor r03: --continue-on-error skips exactly the failing RECORD.
    When the first-wins winner for a path fails decode, the next duplicate
    record for the same path (never marked indexed in the reference loop)
    must become the item — the path is not dropped."""

    def test_next_duplicate_wins_when_winner_fails(self, spark):
        from pyspark.sql import functions as F

        from warc2zim_spark.operators.items import items_table
        from warc2zim_spark.operators.quarantine import (
            exclude_failed_records,
            quarantined_records,
        )

        rows = [
            # winner: bogus charset -> quarantined
            (1, 1, "response", "dup.example/page", "https://dup.example/page",
             "text/html; charset=bogus-enc", None, "GET", 200, 20,
             b"<html>bad</html>", "bogus-enc"),
            # later duplicate: clean utf-8 -> must become the item
            (1, 2, "response", "dup.example/page", "https://dup.example/page",
             "text/html", None, "GET", 200, 21,
             b"<html>good</html>", None),
            # unrelated clean record
            (1, 3, "response", "dup.example/other", "https://dup.example/other",
             "text/html", None, "GET", 200, 22,
             b"<html>other</html>", None),
        ]
        content = spark.createDataFrame(
            rows,
            "file_seq int, rec_seq int, rec_type string, zim_path string, "
            "effective_url string, mime string, resourcetype string, "
            "p_method string, status int, payload_len long, "
            "payload binary, http_charset string",
        )
        fails = quarantined_records(content)
        assert {(r.zim_path, r.rec_seq) for r in fails.collect()} == {
            ("dup.example/page", 1)
        }
        items = items_table(exclude_failed_records(content, fails))
        got = {r.zim_path: r.rec_seq for r in items.collect()}
        assert got == {"dup.example/page": 2, "dup.example/other": 3}


class TestDecodeTuningFlags:
    """r03 verdict missing #1: the decode-tuning CLI surface
    (--charsets-to-try, --ignore-content-header-charsets,
    --ignore-http-header-charsets, --content-header-bytes-length,
    ref main.py:113-143) threaded through to the quarantine probe."""

    @staticmethod
    def _content(spark, rows):
        return spark.createDataFrame(
            rows,
            "file_seq int, rec_seq int, rec_type string, zim_path string, "
            "effective_url string, mime string, resourcetype string, "
            "p_method string, status int, payload_len long, "
            "payload binary, http_charset string",
        )

    def _row(self, seq, path, mime, payload, http_charset=None):
        return (1, seq, "response", path, f"https://{path}", mime, None,
                "GET", 200, len(payload), payload, http_charset)

    def test_narrowed_trylist_quarantines(self, spark):
        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records

        content = self._content(spark, [
            # non-ascii css, no declared/header charset: default list (ends
            # ISO-8859-1) decodes; a strict ascii-only try-list cannot
            self._row(1, "t.example/a.css", "text/css", "h\xe9llo".encode()),
        ])
        assert quarantined_records(content).count() == 0
        fails = quarantined_records(
            content, decode_options=DecodeOptions(charsets_to_try=("ascii",))
        )
        rows = fails.collect()
        assert len(rows) == 1 and rows[0].reason.startswith("ValueError")

    def test_ignore_http_header_charsets_rescues(self, spark):
        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records

        content = self._content(spark, [
            # lying HTTP header names an unknown codec: tier (b) LookupError
            self._row(1, "t.example/b.css", "text/css", b"body{}",
                      http_charset="no-such-codec"),
        ])
        assert quarantined_records(content).count() == 1
        assert quarantined_records(
            content,
            decode_options=DecodeOptions(ignore_http_header_charsets=True),
        ).count() == 0

    def test_ignore_content_header_charsets_rescues(self, spark):
        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records

        html = b'<html><meta charset="no-such-codec"><body>x</body></html>'
        content = self._content(spark, [
            self._row(1, "t.example/c.html", "text/html", html),
        ])
        assert quarantined_records(content).count() == 1
        assert quarantined_records(
            content,
            decode_options=DecodeOptions(ignore_content_header_charsets=True),
        ).count() == 0

    def test_content_header_bytes_length_widens_sniff(self, spark):
        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records

        # declaration sits past the default 1 KiB window
        html = b"<html><!--" + b"x" * 2000 + b'--><meta charset="no-such-codec">'
        content = self._content(spark, [
            self._row(1, "t.example/d.html", "text/html", html),
        ])
        assert quarantined_records(content).count() == 0  # not sniffed
        assert quarantined_records(
            content, decode_options=DecodeOptions(header_bytes=4096)
        ).count() == 1  # sniffed -> unknown codec fails


class TestMetadataCliFlags:
    """r03 verdict missing #2: --scraper-suffix / --source /
    --disable-metadata-checks (ref main.py:77,85-90,105-111)."""

    def test_scraper_suffix_in_scraper_row(self, spark, webdata, tmp_path):
        from warc2zim_spark.plans.pipeline import run_pipeline

        out = tmp_path / "out_suffix"
        run_pipeline(
            spark, webdata, str(out), name="n",
            continue_on_error=True, scraper_suffix="mycrawler 1.0",
        )
        meta = {r.name: r.value
                for r in spark.read.parquet(str(out / "metadata")).collect()}
        assert meta["Scraper"].endswith(",mycrawler 1.0")

    def test_disable_metadata_checks_bypasses_validation(self, spark, webdata, tmp_path):
        import pytest as _pytest

        from warc2zim_spark.plans.pipeline import run_pipeline

        long_title = "T" * 45  # > RECOMMENDED_MAX_TITLE_LENGTH
        with _pytest.raises(ValueError, match="Title too long"):
            run_pipeline(
                spark, webdata, str(tmp_path / "out_reject"), name="n",
                continue_on_error=True, metadata_args={"title": long_title},
            )
        out = tmp_path / "out_nochecks"
        run_pipeline(
            spark, webdata, str(out), name="n",
            continue_on_error=True, metadata_args={"title": long_title},
            disable_metadata_checks=True,
        )
        meta = {r.name: r.value
                for r in spark.read.parquet(str(out / "metadata")).collect()}
        # stored (truncation to 29+ellipsis still applies downstream like the
        # reference's RECOMMENDED_MAX_TITLE_LENGTH clamp, converter.py:317-319)
        assert meta["Title"].startswith("T" * 29)

    def test_source_flag_accepted_and_unused(self, spark, webdata, tmp_path):
        from warc2zim_spark.plans.pipeline import run_pipeline

        out = tmp_path / "out_source"
        run_pipeline(
            spark, webdata, str(out), name="n",
            continue_on_error=True, source="https://example.com/",
        )
        meta = {r.name for r in spark.read.parquet(str(out / "metadata")).collect()}
        # parity: the reference stores args.source but writes no Source row
        assert "Source" not in meta


class TestTwoPhaseNarrowedProbe:
    """A narrowed --charsets-to-try or a sniff window past the 1-KiB head
    makes decode fallible past the head: the probe reads the full payload,
    whatever other columns the frame carries."""

    def test_head_and_payload_frame_finds_every_tier(self, spark):
        """A frame carrying both payload_head and payload finds the tier
        (a), (b) and (c) failures, the same rows as a payload-only frame."""
        from pyspark.sql import functions as F

        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records

        rows = [
            # tier (a) failure: declared unknown codec (head-decidable)
            (1, 1, "response", "t.example/a.html", "https://t.example/a.html",
             "text/html", None, "GET", 200, 60,
             b'<html><meta charset="no-such-codec"><body>x</body></html>', None),
            # tier (b) failure: lying HTTP header (head-decidable)
            (1, 2, "response", "t.example/b.css", "text/css", None),
            # tier (c) failure: non-ascii, no charset anywhere, ascii-only list
            (1, 3, "response", "t.example/c.css", "text/css", None),
            # tier (c) pass: pure-ascii body
            (1, 4, "response", "t.example/d.css", "text/css", None),
        ]
        # expand the shorthand rows
        full_rows = [rows[0]] + [
            (1, 2, "response", "t.example/b.css", "https://t.example/b.css",
             "text/css", None, "GET", 200, 6, b"body{}", "no-such-codec"),
            (1, 3, "response", "t.example/c.css", "https://t.example/c.css",
             "text/css", None, "GET", 200, 7, "h\xe9llo {}".encode(), None),
            (1, 4, "response", "t.example/d.css", "https://t.example/d.css",
             "text/css", None, "GET", 200, 7, b"a { b }", None),
        ]
        base = spark.createDataFrame(
            full_rows,
            "file_seq int, rec_seq int, rec_type string, zim_path string, "
            "effective_url string, mime string, resourcetype string, "
            "p_method string, status int, payload_len long, "
            "payload binary, http_charset string",
        )
        both = base.withColumn(
            "payload_head", F.expr("substring(payload, 1, 1024)")
        )
        opts = DecodeOptions(charsets_to_try=("ascii",))
        payload_only = {
            (r.zim_path, r.rec_seq, r.stage, r.reason.split(":")[0])
            for r in quarantined_records(base, decode_options=opts).collect()
        }
        got = {
            (r.zim_path, r.rec_seq, r.stage, r.reason.split(":")[0])
            for r in quarantined_records(both, decode_options=opts).collect()
        }
        assert got == payload_only
        assert {z for z, *_ in got} == {
            "t.example/a.html", "t.example/b.css", "t.example/c.css"
        }

    def test_wide_sniff_window_falls_back_to_single_pass(self, spark):
        """header_bytes beyond the 1-KiB ingest head cannot be probed from
        the head — the declaration may sit past the column. Must still find
        a >1KiB-deep declared failure."""
        from pyspark.sql import functions as F

        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records

        html = b"<html><!--" + b"x" * 2000 + b'--><meta charset="no-such-codec">'
        df = spark.createDataFrame(
            [(1, 1, "response", "t.example/deep.html", "https://t.example/deep.html",
              "text/html", None, "GET", 200, len(html), html, None)],
            "file_seq int, rec_seq int, rec_type string, zim_path string, "
            "effective_url string, mime string, resourcetype string, "
            "p_method string, status int, payload_len long, "
            "payload binary, http_charset string",
        ).withColumn("payload_head", F.expr("substring(payload, 1, 1024)"))
        opts = DecodeOptions(charsets_to_try=("ascii",), header_bytes=4096)
        rows = quarantined_records(df, decode_options=opts).collect()
        assert len(rows) == 1 and rows[0].reason.startswith("LookupError")

    def test_wide_sniff_with_default_trylist_uses_payload_not_head(self, spark):
        """r04 ADVICE (medium): with the DEFAULT try-list and header_bytes >
        1024 on a frame carrying BOTH payload_head and payload, the probe
        must sniff the real payload — the old fast path sniffed the 1-KiB
        head with a 4-KiB window, silently passing records whose >1KiB-deep
        declared charset the actual decode then honors (and fails on)."""
        from pyspark.sql import functions as F

        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records

        html = b"<html><!--" + b"x" * 2000 + b'--><meta charset="no-such-codec">'
        df = spark.createDataFrame(
            [(1, 1, "response", "t.example/deep.html", "https://t.example/deep.html",
              "text/html", None, "GET", 200, len(html), html, None)],
            "file_seq int, rec_seq int, rec_type string, zim_path string, "
            "effective_url string, mime string, resourcetype string, "
            "p_method string, status int, payload_len long, "
            "payload binary, http_charset string",
        ).withColumn("payload_head", F.expr("substring(payload, 1, 1024)"))
        # default try-list (charsets_to_try=None), wide sniff window
        opts = DecodeOptions(header_bytes=4096)
        rows = quarantined_records(df, decode_options=opts).collect()
        assert len(rows) == 1  # the deep declaration IS seen and fails

    def test_wide_sniff_head_only_frame_raises(self, spark):
        """A head-only frame cannot honor header_bytes > 1024 — refuse
        loudly instead of probing a truncated window."""
        import pytest as _pytest
        from pyspark.sql import functions as F

        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records

        html = b"<html>ok</html>"
        df = spark.createDataFrame(
            [(1, 1, "response", "t.example/a.html", "https://t.example/a.html",
              "text/html", None, "GET", 200, len(html), html, None)],
            "file_seq int, rec_seq int, rec_type string, zim_path string, "
            "effective_url string, mime string, resourcetype string, "
            "p_method string, status int, payload_len long, "
            "payload binary, http_charset string",
        ).withColumn("payload_head", F.expr("substring(payload, 1, 1024)")).drop("payload")
        with _pytest.raises(ValueError, match="header_bytes wider"):
            quarantined_records(
                df, decode_options=DecodeOptions(header_bytes=4096)
            )


class TestCliSurface:
    """scripts/run_pipeline.py parity flags added in r04: reference-style
    --output/--zim-file, --overwrite refusal (exit 2, converter.py:152-158),
    --progress-file JSON contract, --failed-items relocation."""

    def test_output_zimfile_progress_failed_items_overwrite(self, webdata, tmp_path):
        import json
        import subprocess
        import sys

        out_root = tmp_path / "outroot"
        cmd = [
            sys.executable, "scripts/run_pipeline.py",
            "--webdata", webdata,
            "--output", str(out_root), "--zim-file", "mysite.zimdir",
            "--name", "cli-test", "--continue-on-error",
            "--progress-file", "prog.json",
            "--failed-items", "quarantine",
        ]
        r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        assert r1.returncode == 0, r1.stderr[-2000:]
        out = out_root / "mysite.zimdir"
        metrics = json.loads((out / "metrics.json").read_text())
        assert metrics["items"] > 0
        # --failed-items relocated the fails sink
        assert (out / "quarantine").exists()
        assert not (out / "fails").exists()
        # --progress-file: reference JSON contract, relative to output
        prog = json.loads((out / "prog.json").read_text())
        assert set(prog) == {"written", "total"}
        assert prog["written"] == prog["total"] > 0
        # re-run without --overwrite: converter.py:152-158 refusal, exit 2
        r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
        assert r2.returncode == 2
        assert "overwrite" in r2.stderr.lower()
        # with --overwrite it runs again
        r3 = subprocess.run(cmd + ["--overwrite"], capture_output=True,
                            text=True, timeout=600)
        assert r3.returncode == 0, r3.stderr[-2000:]


class TestCliOutputFlagSafety:
    """r04 ADVICE: --out + --output together must error (not silently prefer
    --out and drop --zim-file/--overwrite), and brace-bearing names must not
    crash the {period} expansion."""

    def _run(self, *extra):
        import subprocess
        import sys

        return subprocess.run(
            [sys.executable, "scripts/run_pipeline.py", *extra],
            capture_output=True, text=True, cwd="/root/repo",
        )

    def test_out_and_output_conflict_errors(self):
        p = self._run("--webdata", "x", "--out", "/tmp/a", "--output", "/tmp/b")
        assert p.returncode == 2
        assert "mutually exclusive" in p.stderr

    def test_braces_in_zim_file_pass_through(self):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "run_pipeline_cli", "/root/repo/scripts/run_pipeline.py"
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        # other braces survive verbatim; {period} expands; default composes
        assert mod.expand_zim_file("n", "notes{v1}_{period}", "2026-08") == "notes{v1}_2026-08"
        assert mod.expand_zim_file("n", "plain-name", "2026-08") == "plain-name"
        assert mod.expand_zim_file("site{a}", None, "2026-08") == "site{a}_2026-08"
