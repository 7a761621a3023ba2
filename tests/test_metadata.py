"""S7/S8 — metadata assembly, fail-fast validation, static assets union."""

import struct
import zlib

import pytest

from warc2zim_spark.operators.metadata import (
    MAX_DESCRIPTION_LENGTH,
    RECOMMENDED_MAX_TITLE_LENGTH,
    STATIC_JS_ASSETS,
    static_asset_items,
    transparent_png,
    validate_metadata,
    zim_metadata,
)


class TestTransparentPng:
    def test_valid_png_structure(self):
        png = transparent_png(48)
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
        # IHDR dims
        w, h = struct.unpack(">II", png[16:24])
        assert (w, h) == (48, 48)
        assert png.endswith(
            b"IEND" + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
        )

    def test_idat_all_transparent(self):
        png = transparent_png(4)
        # single IDAT: locate and decompress
        i = png.index(b"IDAT")
        (length,) = struct.unpack(">I", png[i - 4 : i])
        raw = zlib.decompress(png[i + 4 : i + 4 + length])
        assert set(raw) == {0}


class TestValidation:
    """converter.py:279-294 — reject bad user metadata before any work."""

    def test_title_too_long(self):
        with pytest.raises(ValueError, match="Title"):
            validate_metadata(title="x" * (RECOMMENDED_MAX_TITLE_LENGTH + 1))

    def test_description_too_long(self):
        with pytest.raises(ValueError, match="Description"):
            validate_metadata(description="x" * (MAX_DESCRIPTION_LENGTH + 1))

    def test_long_description_too_long(self):
        with pytest.raises(ValueError, match="LongDescription"):
            validate_metadata(long_description="x" * 4001)

    def test_bad_language(self):
        with pytest.raises(ValueError, match="language"):
            validate_metadata(language="zzz")

    def test_good_language(self):
        validate_metadata(language="en,fr")

    def test_empty_tag(self):
        with pytest.raises(ValueError, match="Tags"):
            validate_metadata(tags="good;;bad")

    def test_ok(self):
        validate_metadata(title="ok", description="ok", language="pt")


class TestStaticAssets:
    def test_paths_and_union_schema(self, spark, webdata):
        from warc2zim_spark.operators.items import items_table
        from warc2zim_spark.operators.metadata import items_with_static
        from warc2zim_spark.operators.records import content_records, load_records

        static = static_asset_items(spark, custom_css=b"body{}")
        rows = {r.zim_path: r for r in static.collect()}
        assert set(rows) == {
            "_zim_static/wombat.js",
            "_zim_static/wombatSetup.js",
            "_zim_static/custom.css",
        }
        assert rows["_zim_static/custom.css"].mime == "text/css"
        items = items_table(content_records(load_records(spark, webdata)))
        merged = items_with_static(items, static)
        assert merged.columns == items.columns
        assert merged.count() == items.count() + 3

    def test_no_custom_css(self, spark):
        assert static_asset_items(spark).count() == len(STATIC_JS_ASSETS)


class TestLiteralFrame:
    """The JVM literal frames behind the S7/S8 sinks match ``createDataFrame``
    over the same rows: same rows, same schema, every field nullable (a
    ``string not null`` column would change the sinks' parquet schema)."""

    @pytest.mark.parametrize(
        "rows,ddl",
        [
            ([("Title", "t"), ("Tags", None)], "name string, value string"),
            (
                [("_zim_static/a.js", None, "text/javascript", None, 5, -1, 0, False)],
                "zim_path string, url string, mime string, status int, "
                "payload_len long, file_seq long, rec_seq long, is_front boolean",
            ),
            ([("u", "p", b"\x89PNG")], "icon_url string, icon_path string, payload binary"),
            ([], "surt_key string"),
        ],
    )
    def test_matches_create_data_frame(self, spark, rows, ddl):
        from warc2zim_spark.functions.expressions import literal_frame

        got = literal_frame(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert all(f.nullable for f in got.schema.fields)
        assert got.collect() == want.collect()


class TestZimMetadata:
    def test_entries_and_cascades(self, spark, webdata):
        from warc2zim_spark.operators.records import content_records, load_records

        records = load_records(spark, webdata)
        content = content_records(records)
        meta = {
            r.name: r.value
            for r in zim_metadata(
                content, records, name="t", title="My Title", language="fr",
                tags="web;crawl", long_description="long",
            ).collect()
        }
        assert meta["Name"] == "t"
        assert meta["Title"] == "My Title"          # user value wins
        assert meta["Language"] == "fra"            # parse_language'd
        assert meta["Tags"] == "web;crawl"
        assert meta["LongDescription"] == "long"
        assert "synthetic-crawler 1.0" in meta["Scraper"]
        assert meta["Scraper"].startswith("warc2zim-spark ")
        assert "," in meta["X-ContentDate"]         # datagen spans days
        assert meta["Illustration_48x48@1"]

    def test_derived_title_truncated(self, spark, webdata):
        from warc2zim_spark.kernels.htmlmeta import truncated_title

        assert truncated_title("x" * 40) == "x" * 29 + "…"
        assert truncated_title("short") == "short"

    def test_no_warcinfo_still_emits_metadata(self, spark, webdata):
        """warcinfo records are OPTIONAL per the WARC spec: without one the
        metadata frame must still carry every entry, with Scraper lacking
        the upstream-software suffix (ref converter.py:366-377 joins only
        non-empty parts) — a 0-row software frame must not crossJoin the
        whole frame to empty."""
        from pyspark.sql import functions as F

        from warc2zim_spark.operators.records import content_records, load_records

        records = load_records(spark, webdata).filter(
            F.col("rec_type") != "warcinfo"
        )
        content = content_records(records)
        meta = {
            r.name: r.value
            for r in zim_metadata(content, records, name="t").collect()
        }
        assert len(meta) == 10
        assert meta["Name"] == "t"
        assert meta["Scraper"].startswith("warc2zim-spark ")
        assert "synthetic-crawler" not in meta["Scraper"]
        assert not meta["Scraper"].endswith(",")


class TestReferenceValidationMatrix:
    """Verbatim cases from reference tests/test_metadata_validation.py."""

    def test_valid_title(self):
        validate_metadata(title="A title")

    def test_invalid_title(self):
        with pytest.raises(ValueError, match="Title"):
            validate_metadata(title="A very very very very long title")

    def test_valid_description(self):
        validate_metadata(description="A description")

    def test_invalid_description(self):
        with pytest.raises(ValueError, match="Description"):
            validate_metadata(
                description="A " + "".join(["very " for _ in range(20)]) + "long description"
            )

    def test_valid_long_description(self):
        validate_metadata(long_description="A long description")

    def test_invalid_long_description(self):
        with pytest.raises(ValueError, match="LongDescription"):
            validate_metadata(
                long_description="A " + "".join(["very " for _ in range(800)]) + "long description"
            )

    def test_valid_tags(self):
        validate_metadata(tags="tag1;tag2")
