"""Engine parity over the REFERENCE'S OWN WARC files.

The reference repo ships real browsertrix/warcio-written WARCs under
tests/data (+ tests/data-special); its test_warc_to_zim.py pins which paths
must (not) appear in the produced ZIM. These tests run the ENGINE'S full
path — stdlib WARC-byte parser → pairing → canonicalization → gates →
first-wins → redirect fixpoint — over those same files, read in place
(copied to a tmp dir at test time only; nothing enters the repo), and
assert the reference's own expectations:

* http-return-codes.warc.gz — the full 11-exist / 23-ignored status matrix
  (reference test_warc_to_zim.py:653-716; ZIM "items" there include
  redirect entries, so existence = items ∪ kept-redirect sources)
* bad-redirections.warc.gz — loops/dead targets dropped, the real page
  kept (:718-751)
* example-with-timestamp.warc — ?<epoch> cache-buster collapses
  (:512-513)
* self-redirect.warc — self-redirects produce no edge (:383-396)
* example-revisit.warc.gz — same-url revisits make no alias; both real
  pages become items (:150-158 skip rule, :37-44)
* data-special/qsl.net-encoding-alias.warc.gz — the real-world mistyped
  ``iso-8559-1`` charset fails decode EXACTLY as the reference found, and
  the reference's own ``--encoding-aliases foo=bar,iso-8559-1=iso-8859-1,
  fii=bor`` string rescues it (:780-800)
"""

import shutil
from pathlib import Path

import pytest

REF_DATA = Path("/root/reference/tests/data")
REF_SPECIAL = Path("/root/reference/tests/data-special")

pytestmark = pytest.mark.skipif(
    not REF_DATA.exists(), reason="reference WARC corpus not present"
)


def _content(spark, tmp_path, name, sub=REF_DATA, **kw):
    from warc2zim_spark.operators.records import content_records
    from warc2zim_spark.sources.warcbytes import load_warc_records

    d = tmp_path / "warc"
    d.mkdir(exist_ok=True)
    shutil.copy(sub / name, d)
    return content_records(load_warc_records(spark, str(d)), **kw)


def _existing_paths(content):
    """items ∪ kept-redirect sources — what 'exists' in the ZIM."""
    from warc2zim_spark.operators.gather import expected_items
    from warc2zim_spark.operators.items import items_table
    from warc2zim_spark.operators.redirects import kept_redirects, redirect_edges

    items = {r.zim_path for r in items_table(content).collect()}
    kept = {
        r.src_path
        for r in kept_redirects(
            redirect_edges(content), expected_items(content)
        ).collect()
    }
    return items | kept


HOST = "website.test.openzim.org"

HTTP_CODES_EXIST = [
    "200-response", "201-response", "202-response",
    "301-internal-redirect-ok", "301-external-redirect-ok",
    "302-internal-redirect-ok", "302-external-redirect-ok",
    "307-internal-redirect-ok", "307-external-redirect-ok",
    "308-internal-redirect-ok", "308-external-redirect-ok",
]
HTTP_CODES_IGNORED = [
    "204-response", "206-response", "300-response", "303-response",
    "304-response", "305-response", "306-response", "400-response",
    "401-response", "402-response", "403-response", "404-response",
    "500-response", "501-response", "502-response",
    "301-internal-redirect-ko", "301-external-redirect-ko",
    "302-internal-redirect-ko", "302-external-redirect-ko",
    "307-internal-redirect-ko", "307-external-redirect-ko",
    "308-internal-redirect-ko", "308-external-redirect-ko",
]


class TestReferenceWarcs:
    def test_http_return_codes_matrix(self, spark, tmp_path):
        content = _content(spark, tmp_path, "http-return-codes.warc.gz")
        exist = _existing_paths(content)
        for p in HTTP_CODES_EXIST:
            assert f"{HOST}/{p}" in exist, p
        for p in HTTP_CODES_IGNORED:
            assert f"{HOST}/{p}" not in exist, p
        assert "www.example.com/" in exist

    def test_bad_redirections(self, spark, tmp_path):
        content = _content(spark, tmp_path, "bad-redirections.warc.gz")
        exist = _existing_paths(content)
        assert f"{HOST}/bad-redirections.html" in exist
        for p in (
            "bad-redir-loop-A", "bad-redir-loop-B", "bad-redir-loop-C",
            "bad-redir-loop-D", "bad-redir-target-A", "bad-redir-target-B",
        ):
            assert f"{HOST}/{p}" not in exist, p

    def test_timestamp_cache_buster_collapses(self, spark, tmp_path):
        from warc2zim_spark.operators.items import items_table

        content = _content(spark, tmp_path, "example-with-timestamp.warc")
        assert [r.zim_path for r in items_table(content).collect()] == [
            "example.com/path.txt"
        ]

    def test_self_redirect_dropped(self, spark, tmp_path):
        from warc2zim_spark.operators.items import items_table
        from warc2zim_spark.operators.redirects import redirect_edges

        content = _content(spark, tmp_path, "self-redirect.warc")
        assert redirect_edges(content).count() == 0
        assert sorted(
            r.zim_path for r in items_table(content).collect()
        ) == ["kiwix.org/"]

    def test_revisit_same_url_no_alias(self, spark, tmp_path):
        from warc2zim_spark.operators.items import items_table, revisit_aliases

        content = _content(spark, tmp_path, "example-revisit.warc.gz")
        items = items_table(content)
        assert sorted(r.zim_path for r in items.collect()) == [
            "example.com/", "example.iana.org/",
        ]
        assert revisit_aliases(content, items).count() == 0

    def test_encoding_alias_rescue(self, spark, tmp_path):
        """The flag's origin story, reproduced on the reference's own
        capture: www.qsl.net declares the typo charset ``iso-8559-1``."""
        from warc2zim_spark.operators.items import items_table
        from warc2zim_spark.operators.quarantine import quarantined_records

        content = _content(
            spark, tmp_path, "qsl.net-encoding-alias.warc.gz",
            sub=REF_SPECIAL, with_head=True,
        )
        fails = quarantined_records(content).collect()
        assert [(r.zim_path, r.reason) for r in fails] == [
            (
                "www.qsl.net/vk2jem/swlogs.htm",
                "LookupError: unknown encoding: iso-8559-1",
            )
        ]
        # the reference's exact --encoding-aliases string
        aliases = dict(
            p.split("=") for p in "foo=bar,iso-8559-1=iso-8859-1,fii=bor".split(",")
        )
        assert quarantined_records(content, encoding_aliases=aliases).count() == 0
        assert "www.qsl.net/vk2jem/swlogs.htm" in {
            r.zim_path for r in items_table(content).collect()
        }


class TestPipelineOverReferenceWarcs:
    """run_pipeline pointed at a directory of the reference's raw WARC
    files (the reference CLI's own input shape; load_records auto-detects
    it). Abort parity: reference test_warc_to_zim.py:536-574 returns exit
    code 4 for a --url that is absent or unprocessable."""

    def _warcdir(self, tmp_path, name, sub=REF_DATA):
        d = tmp_path / "warcs"
        d.mkdir(exist_ok=True)
        shutil.copy(sub / name, d)
        return str(d)

    def test_pipeline_end_to_end_on_example_response(self, spark, tmp_path):
        from warc2zim_spark.plans.pipeline import run_pipeline

        out = tmp_path / "out"
        metrics = run_pipeline(
            spark,
            self._warcdir(tmp_path, "example-response.warc"),
            str(out),
            name="ref-example",
        )
        assert metrics["items"] >= 1
        assert metrics["failed_records"] == 0
        meta = {
            r.name: r.value
            for r in spark.read.parquet(str(out / "metadata")).collect()
        }
        assert meta["Main-Path"] == "example.com/"

    def test_missing_user_url_aborts(self, spark, tmp_path):
        """ref :536-553 — -u https://no-such-url.example.com → exit 4."""
        from warc2zim_spark.plans.pipeline import run_pipeline

        with pytest.raises(ValueError, match="Unable to find main page"):
            run_pipeline(
                spark,
                self._warcdir(tmp_path, "example-response.warc"),
                str(tmp_path / "out_missing"),
                name="bad",
                main_url="https://no-such-url.example.com",
            )

    def test_unprocessable_main_page_aborts(self, spark, tmp_path):
        """ref :555-574 — the Doug page answers 403 (not an expected item)
        → exit 4, no output."""
        from warc2zim_spark.plans.pipeline import run_pipeline

        with pytest.raises(ValueError, match="Unable to find main page"):
            run_pipeline(
                spark,
                self._warcdir(tmp_path, "main-entry-403.warc.gz"),
                str(tmp_path / "out_403"),
                name="bad",
                main_url="https://wikizilla.org/wiki/Doug",
            )


class TestSinglePassProbe:
    """run_pipeline's fails sink — a filter of its cached, single-pass
    content stream — equals the standalone probe over the same records,
    on the reference's real-world mistyped-charset capture."""

    @pytest.mark.parametrize(
        "aliases", [None, {"iso-8559-1": "iso-8859-1"}],
        ids=["default", "encoding_aliases"],
    )
    def test_fused_fails_equal_standalone_probe(self, spark, tmp_path, aliases):
        from warc2zim_spark.operators.quarantine import quarantined_records
        from warc2zim_spark.operators.records import content_records, load_records
        from warc2zim_spark.plans.pipeline import run_pipeline

        d = tmp_path / "warcs"
        d.mkdir()
        shutil.copy(REF_SPECIAL / "qsl.net-encoding-alias.warc.gz", d)
        out = tmp_path / "out"
        run_pipeline(
            spark, str(d), str(out), name="qsl",
            encoding_aliases=aliases, continue_on_error=True,
        )
        fused = spark.read.parquet(str(out / "fails")).collect()
        standalone = quarantined_records(
            content_records(load_records(spark, str(d)), with_head=True),
            encoding_aliases=aliases,
        ).collect()
        assert len(fused) == (1 if aliases is None else 0)
        assert sorted(fused) == sorted(standalone)


class TestContentResourceTypes:
    """content-resource-types.warc.gz (reference :753-778): the C1
    classifier on real browsertrix records — resource-type overrides the
    mime table (style2.css declares mime 'idontexist' but resourcetype
    stylesheet → css; image2.png declares text/html but resourcetype image
    → passthrough), scripts get the javascript mode, media/pdf/manifest
    pass through unrewritten."""

    EXPECTED_MODES = {
        "website.test.openzim.org/content-types/content1.json": "json",
        "website.test.openzim.org/content-types/content2.json": "json",
        "website.test.openzim.org/content-types/index.html": "html",
        "website.test.openzim.org/content-types/script1.js": "javascript",
        "website.test.openzim.org/content-types/script2.js": "javascript",
        "website.test.openzim.org/content-types/style1.css": "css",
        "website.test.openzim.org/content-types/style2.css": "css",
        "website.test.openzim.org/content-types/image1.png": None,
        "website.test.openzim.org/content-types/image2.png": None,
        "website.test.openzim.org/content-types/small.pdf": None,
        "website.test.openzim.org/icons/favicon.ico": None,
        "website.test.openzim.org/icons/site.webmanifest": None,
    }

    def test_rewrite_modes(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from warc2zim_spark.functions.expressions import rewrite_mode_expr

        content = _content(spark, tmp_path, "content-resource-types.warc.gz")
        mode = rewrite_mode_expr(
            F.split(F.coalesce(F.col("mime"), F.lit("")), ";").getItem(0),
            F.col("resourcetype"),
            F.col("zim_path"),
            F.col("p_method"),
        )
        got = {
            r.zim_path: r.mode
            for r in content.filter(F.col("rec_type") == "response")
            .select("zim_path", mode.alias("mode"))
            .collect()
        }
        assert got == self.EXPECTED_MODES


class TestSinglePageIncludeDomains:
    """single-page-test.warc with -i reseau-canope.fr (reference :398-418):
    every produced item stays inside the domain (subdomains included) and
    the real landing page is among them."""

    def test_domain_gate(self, spark, tmp_path):
        from warc2zim_spark.operators.items import items_table

        content = _content(spark, tmp_path, "single-page-test.warc")
        paths = sorted(
            r.zim_path
            for r in items_table(content, ["reseau-canope.fr"]).collect()
        )
        assert paths  # the gate keeps the in-domain pages
        assert "lesfondamentaux.reseau-canope.fr/accueil.html" in paths
        assert all("reseau-canope.fr/" in p for p in paths)


class TestVerifyInvariant:
    """The reference's universal ZIM↔WARC invariant (verify_warc_and_zim,
    test_warc_to_zim.py:139-230), applied to the same four captures its
    ``cmdline`` fixture applies it to: every status-200 non-empty response
    record's canonical path must exist as an item; revisits to a DIFFERENT
    url resolve through an alias or an item of their own; zero-length
    bodies never become items."""

    FILES = [
        "example-response.warc",
        "example-revisit.warc.gz",
        "example-utf8.warc",
        "single-page-test.warc",
    ]

    @pytest.mark.parametrize("name", FILES)
    def test_every_200_response_is_an_item(self, spark, tmp_path, name):
        from pyspark.sql import functions as F

        from warc2zim_spark.operators.items import items_table, revisit_aliases

        content = _content(spark, tmp_path, name)
        items_df = items_table(content)
        items = {r.zim_path for r in items_df.collect()}
        resp_paths = {
            r.zim_path
            for r in content.filter(
                (F.col("rec_type") == "response")
                & (F.col("status") == 200)
                & (F.col("payload_len") > 0)
            ).select("zim_path").distinct().collect()
        }
        assert resp_paths <= items
        # zero-length bodies never become items (converter.py:1011-1022)
        empty = {
            r.zim_path
            for r in content.filter(
                (F.col("rec_type") == "response") & (F.col("payload_len") == 0)
            ).select("zim_path").distinct().collect()
        }
        assert not (empty - resp_paths) & items
        # revisits to a different url: alias or own item
        revisit_paths = {
            r.zim_path
            for r in content.filter(
                (F.col("rec_type") == "revisit")
                & F.col("refers_to_url").isNotNull()
                & (F.col("refers_to_url") != F.col("url"))
            ).select("zim_path").distinct().collect()
        }
        aliases = {
            r.alias_path for r in revisit_aliases(content, items_df).collect()
        }
        assert revisit_paths <= (aliases | items)


class TestSolidaritenumPipeline:
    """Full pipeline over the reference's 190-record real-world French
    capture (its custom-css test file, :595-650 + the encodings corpus
    source): the language cascade must land on ``fra`` from the page's own
    declaration, the title comes from the main page's <title>, custom.css
    joins the item sink, and nothing quarantines."""

    def test_end_to_end(self, spark, tmp_path):
        from warc2zim_spark.plans.pipeline import run_pipeline

        d = tmp_path / "warcs"
        d.mkdir()
        shutil.copy(REF_DATA / "solidaritenum.warc.gz", d)
        out = tmp_path / "out"
        metrics = run_pipeline(
            spark, str(d), str(out), name="solidarite",
            custom_css=b"* { background: red }",
        )
        assert metrics["failed_records"] == 0
        assert metrics["items"] > 50
        meta = {
            r.name: r.value
            for r in spark.read.parquet(str(out / "metadata")).collect()
        }
        assert meta["Language"] == "fra"
        assert meta["Title"].startswith("Comprendre les cookies")
        assert meta["Main-Path"].startswith("www.solidarite-numerique.fr/")
        items = {
            r.zim_path for r in spark.read.parquet(str(out / "items")).collect()
        }
        assert "_zim_static/custom.css" in items


class TestKiwixRedirectChain:
    """kiwix-with-redirects.warc.gz: the two-hop www.kiwix.org/ →
    www.kiwix.org/en/ → kiwix.org/en/ chain. Both hops stay in the
    redirect table (the reference adds intermediate redirect entries too),
    and every redirect's target exists in the ZIM — as an item or as
    another kept redirect (a dangling target would 404 inside the ZIM)."""

    def test_chain_kept_and_targets_exist(self, spark, tmp_path):
        from warc2zim_spark.operators.gather import expected_items
        from warc2zim_spark.operators.redirects import (
            kept_redirects,
            redirect_edges,
        )

        content = _content(spark, tmp_path, "kiwix-with-redirects.warc.gz")
        kept = kept_redirects(
            redirect_edges(content), expected_items(content)
        ).collect()
        got = {(r.src_path, r.tgt_path) for r in kept}
        assert got == {
            ("www.kiwix.org/", "www.kiwix.org/en/"),
            ("www.kiwix.org/en/", "kiwix.org/en/"),
        }
        expected = {r.zim_path for r in expected_items(content).collect()}
        kept_sources = {r.src_path for r in kept}
        assert all(t in expected | kept_sources for _, t in got)


class TestExampleUtf8MainUrl:
    """example-utf8.warc with the reference's own percent-encoded ``-u``
    (test_warc_to_zim.py:46-48): the user main URL percent-DECODES into the
    canonical key space (ZIM paths are unquoted, verify_warc_and_zim:184-185),
    Main-Path lands on the ✓-bearing page, and every utf-8 path round-trips
    through the full pipeline."""

    MAIN_URL = "https://httpbin.org/anything/utf8=%E2%9C%93?query=test&a=b&1=%E2%9C%93"
    MAIN_PATH = "httpbin.org/anything/utf8=✓?query=test&a=b&1=✓"

    def test_pipeline_main_path_unquoted(self, spark, tmp_path):
        from warc2zim_spark.plans.pipeline import run_pipeline

        d = tmp_path / "warcs"
        d.mkdir()
        shutil.copy(REF_DATA / "example-utf8.warc", d)
        out = tmp_path / "out"
        run_pipeline(
            spark, str(d), str(out), name="utf8", main_url=self.MAIN_URL
        )
        meta = {
            r.name: r.value
            for r in spark.read.parquet(str(out / "metadata")).collect()
        }
        assert meta["Main-Path"] == self.MAIN_PATH
        items = {
            r.zim_path for r in spark.read.parquet(str(out / "items")).collect()
        }
        assert self.MAIN_PATH in items
        assert "httpbin.org/anything/Saint-Exupéry?foo=bar" in items
        assert "httpbin.org/anything/test?foo=é" in items


class TestReturnCodeRedirectTargets:
    """http-return-codes.warc.gz beyond the exist/ignored matrix: every
    KEPT -ok redirect must resolve (following kept-redirect hops) to an
    item with a non-empty body — the reference's ZIM would otherwise serve
    a dangling redirect (verify_warc_and_zim:193-195 asserts redirects are
    handled; assert_item_exist on each -ok source implies a live target)."""

    def test_kept_redirects_resolve_to_nonempty_items(self, spark, tmp_path):
        from warc2zim_spark.operators.gather import expected_items
        from warc2zim_spark.operators.items import items_table
        from warc2zim_spark.operators.redirects import (
            kept_redirects,
            redirect_edges,
        )

        content = _content(spark, tmp_path, "http-return-codes.warc.gz")
        kept = {
            r.src_path: r.tgt_path
            for r in kept_redirects(
                redirect_edges(content), expected_items(content)
            ).collect()
        }
        # every -ok redirect source from the reference matrix is kept
        ok_sources = {f"{HOST}/{p}" for p in HTTP_CODES_EXIST if "redirect-ok" in p}
        assert ok_sources <= set(kept)
        payload = {
            r.zim_path: r.payload_len for r in items_table(content).collect()
        }
        for src in ok_sources:
            cur, hops = kept[src], 0
            while cur in kept and hops < 8:  # follow kept-redirect hops
                cur, hops = kept[cur], hops + 1
            assert cur in payload and payload[cur] > 0, (src, cur)


class TestIconsHtmlRealLife:
    """data-special/icons.html — the reference's real-world icon-discovery
    fixture (test_icon_finder.py 'real_life' case): extract_icons must find
    the same five icon URLs its icons_in_html pins. Read in place."""

    def test_real_life_icon_set(self):
        from warc2zim_spark.kernels.htmlmeta import extract_icons

        html = (REF_SPECIAL / "icons.html").read_text()
        base = "https://womenshistory.si.edu//sites/default/themes/si_sawhm/favicons/"
        expected = {
            base + "android-chrome-192x192.png",
            base + "favicon-96x96.png",
            base + "favicon-32x32.png",
            base + "favicon.ico",
            base + "favicon-16x16.png",
        }
        assert set(extract_icons(html)) == expected


class TestDirectoryDiscoveryParity:
    """iter_file_or_dir parity (reference cdxj_indexer/main.py:3-17): the
    directory walk recurses, keeps exactly ALLOWED_EXT = (.arc, .arc.gz,
    .warc, .warc.gz), and skips stray files — the reference ships a literal
    ``tests/data/empty-file`` fixture to pin the skip."""

    def test_recursive_walk_and_extension_filter(self, spark, tmp_path):
        from warc2zim_spark.sources.warcbytes import load_warc_records

        root = tmp_path / "inputs"
        nested = root / "crawl-2020" / "wave-1"
        nested.mkdir(parents=True)
        shutil.copy(REF_DATA / "example-response.warc", root / "a.warc")
        # nested dir: must be discovered (os.walk recurses)
        shutil.copy(REF_DATA / "example-response.warc", nested / "b.warc")
        # the reference's own stray-file fixture: must be skipped
        shutil.copy(REF_DATA / "empty-file", root / "empty-file")
        (root / "notes.txt").write_text("not a warc")
        (root / "x.march").write_bytes(b"extension traps the naive glob")

        recs = load_warc_records(spark, str(root))
        base = tmp_path / "single"
        base.mkdir()
        shutil.copy(REF_DATA / "example-response.warc", base / "a.warc")
        n_one = load_warc_records(spark, str(base)).count()
        assert n_one > 0
        # both real warcs parsed (nested included), strays contributed nothing
        assert recs.count() == 2 * n_one
        seqs = {r.file_seq for r in recs.select("file_seq").distinct().collect()}
        assert len(seqs) == 2
