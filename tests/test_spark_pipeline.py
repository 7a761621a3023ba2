"""Distributed operators vs the sequential oracle (datagen golden columns +
the pure-python reference-shaped fixpoint). These are the order-dependent
semantics that parallelism most easily breaks (SURVEY §7 hard part (b))."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from warc2zim_spark.operators.gather import (
    date_range,
    expected_items,
    main_page_candidate,
    warcinfo_software,
)
from warc2zim_spark.operators.items import items_table, revisit_aliases
from warc2zim_spark.operators.records import content_records, load_records
from warc2zim_spark.operators.redirects import (
    kept_redirects,
    redirect_edges,
    resolve_fixpoint,
)
from warc2zim_spark.sources.datagen import sequential_redirect_fixpoint


@pytest.fixture(scope="module")
def content(spark, webdata):
    df = content_records(load_records(spark, webdata)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def golden_records(webdata):
    return pq.read_table(f"{webdata}/warc_records.parquet").to_pandas()


class TestCanonicalization:
    def test_zim_path_matches_golden(self, content, golden_records):
        """Engine-computed zim_path (pairing → urlkey → surt UDF) must equal
        the generator's golden column on every content row."""
        got = {
            (r["file_seq"], r["rec_seq"]): r["zim_path"]
            for r in content.select("file_seq", "rec_seq", "zim_path").collect()
        }
        checked = 0
        for _, row in golden_records.iterrows():
            key = (row.file_seq, row.rec_seq)
            if key in got:
                assert got[key] == row.zim_path_g, (key, row.url)
                checked += 1
        assert checked == len(got) > 0

    def test_non_http_and_empty_filtered(self, content):
        urls = [r.url for r in content.select("url").collect()]
        assert all(u.startswith(("http://", "https://")) for u in urls)


class TestFirstWinsDedup:
    def test_no_duplicate_paths(self, spark, content):
        items = items_table(content)
        dup = items.groupBy("zim_path").count().filter(F.col("count") > 1).count()
        assert dup == 0

    def test_first_occurrence_wins(self, content):
        """Duplicate-url late rows (the generator's LATE DUPLICATE payloads)
        must lose: the kept row per path is the min (file_seq, rec_seq)."""
        items = items_table(content)
        firsts = (
            content.filter(F.col("rec_type") == "response")
            .filter(F.col("status").isin(200, 201, 202, 203))
            .filter(F.col("payload_len") > 0)
            .groupBy("zim_path")
            .agg(F.min(F.struct("file_seq", "rec_seq")).alias("first"))
            .select("zim_path", F.col("first.file_seq").alias("ffs"), F.col("first.rec_seq").alias("frs"))
        )
        joined = items.join(firsts, "zim_path")
        mismatches = joined.filter(
            (F.col("file_seq") != F.col("ffs")) | (F.col("rec_seq") != F.col("frs"))
        ).count()
        assert mismatches == 0

    def test_status_gate(self, content):
        items = items_table(content)
        statuses = {r["status"] for r in items.select("status").distinct().collect()}
        assert statuses <= {200, 201, 202, 203}
        paths = {r.zim_path for r in items.select("zim_path").collect()}
        assert "statuses.example/200-response" in paths
        for bad in (204, 206, 300, 303, 304, 305, 306, 400, 404, 500, 0):
            assert f"statuses.example/{bad}-response" not in paths


class TestRedirectFixpoint:
    def test_matches_sequential_reference_algorithm(self, spark, content):
        edges_df = redirect_edges(content).cache()
        expected_df = expected_items(content).cache()
        edges = {r.src_path: r.tgt_path for r in edges_df.collect()}
        expected = {r.zim_path for r in expected_df.collect()}
        kept_seq, expected_seq = sequential_redirect_fixpoint(edges, expected)

        verdicts = resolve_fixpoint(edges_df, expected_df).collect()
        kept_spark = {r.src_path for r in verdicts if r.kept}
        assert kept_spark == set(kept_seq.keys())

        kept_df = kept_redirects(edges_df, expected_df)
        assert {(r.src_path, r.tgt_path) for r in kept_df.collect()} == set(kept_seq.items())

    def test_known_cases(self, content):
        edges_df = redirect_edges(content)
        expected_df = expected_items(content)
        verdict = {r.src_path: r.kept for r in resolve_fixpoint(edges_df, expected_df).collect()}
        assert verdict["redir.example/ok-internal"] is True
        assert verdict["redir.example/chain-a"] is True
        assert verdict["redir.example/loop-a"] is False
        assert verdict["redir.example/loop-b"] is False
        assert verdict["redir.example/external-missing"] is False
        assert verdict["redir.example/also-item"] is False  # src already expected
        # self-redirects never enter the edge map
        assert "redir.example/loop-self" not in verdict
        assert "redir.example/http-to-https" not in verdict


class TestRedirectFixpointProperty:
    """The verdict tail reads the round-0 map's facts (source expected,
    final expected); checked against the sequential reference on 200
    seeded random edge maps in one distributed call (node names carry the
    map id, so the maps never touch)."""

    N_MAPS = 200

    @staticmethod
    def _edge_map(seed: int) -> tuple[dict[str, str], set[str]]:
        import random

        from warc2zim_spark.operators.redirects import MAX_CHAIN

        rng = random.Random(seed)
        nodes = [f"m{seed}/n{j}" for j in range(rng.randint(2, 12))]
        edges: dict[str, str] = {}
        for j, node in enumerate(nodes):
            roll = rng.random()
            if roll < 0.1:
                edges[node] = node  # self-edge, passed in directly
            elif roll < 0.3:
                edges[node] = f"m{seed}/dangling{j}"
            elif roll < 0.8:
                edges[node] = rng.choice(nodes)  # chains, cycles
        expected = {n for n in nodes if rng.random() < 0.3}  # some sources
        if seed % 4 == 0:
            # a chain around MAX_CHAIN hops, ending expected, dangling or
            # looping back into itself
            length = rng.randint(MAX_CHAIN - 2, MAX_CHAIN + 4)
            chain = [f"m{seed}/c{j}" for j in range(length)]
            edges.update(zip(chain, chain[1:]))
            end = rng.choice(("expected", "dangling", "loop"))
            if end == "expected":
                expected.add(chain[-1])
            elif end == "loop":
                edges[chain[-1]] = chain[rng.randrange(len(chain) - 1)]
        return edges, expected

    @staticmethod
    def _chain_end(edges, expected, src) -> tuple[str, int]:
        """How ``src``'s chain ends ('expected', 'dangling', 'self',
        'loop') and after how many hops."""
        seen, node, hops = set(), src, 0
        while node not in expected:
            if node not in edges:
                return "dangling", hops
            if edges[node] == node:
                return "self", hops
            if node in seen:
                return "loop", hops
            seen.add(node)
            node, hops = edges[node], hops + 1
        return "expected", hops

    def test_matches_sequential_reference_on_random_maps(self, spark):
        from warc2zim_spark.operators.redirects import MAX_CHAIN

        maps = [self._edge_map(seed) for seed in range(self.N_MAPS)]
        edges_df = spark.createDataFrame(
            [e for edges, _ in maps for e in edges.items()],
            "src_path string, tgt_path string",
        )
        expected_df = spark.createDataFrame(
            [(p,) for _, expected in maps for p in expected], "zim_path string"
        )
        got = {
            r.src_path: (r.final_path, r.kept)
            for r in resolve_fixpoint(edges_df, expected_df).collect()
        }
        assert set(got) == {src for edges, _ in maps for src in edges}
        shapes = {"src_expected": 0, "long": 0}
        for edges, expected in maps:
            kept_seq, _ = sequential_redirect_fixpoint(edges, expected)
            for src in edges:
                end, hops = self._chain_end(edges, expected, src)
                # the documented bound: chains longer than MAX_CHAIN drop
                want = src in kept_seq and hops <= MAX_CHAIN
                assert got[src][1] is want, (src, end, hops, edges, expected)
                if want:
                    assert got[src][0] in expected
                shapes[end] = shapes.get(end, 0) + 1
                shapes["src_expected"] += src in expected
                shapes["long"] += end == "expected" and hops > MAX_CHAIN
        # every shape the generator aims at actually occurs
        assert len(shapes) == 6 and all(shapes.values()), shapes


class TestPairing:
    def test_post_urlkey_matches_golden(self, content, golden_records):
        """Responses paired with adjacent POST requests get the synthesized
        urlkey — engine pairing (lag window) vs generator golden."""
        golden_urlkeys = {
            (row.file_seq, row.rec_seq): row.urlkey_g
            for _, row in golden_records.iterrows()
            if row.urlkey_g is not None and row.rec_type == "response"
        }
        assert len(golden_urlkeys) > 0
        got = {
            (r["file_seq"], r["rec_seq"]): r["effective_url"]
            for r in content.select("file_seq", "rec_seq", "effective_url").collect()
        }
        for key, urlkey in golden_urlkeys.items():
            assert got.get(key) == urlkey, key


    def test_keys_derived_in_the_record_pass(self, spark):
        """``zim_path`` is picked from the two pre-shuffle canonicalizations
        (the record URL's, and the paired request's urlkey's), and
        ``location_path`` / ``refers_to_path`` are derived after the
        shuffle: per content row they equal the kernels applied to the
        effective url, the Location and the Refers-To url. POST and PUT
        pairs in both orders, an unpaired request, non-http rows, revisits
        with and without Refers-To, and redirects with an empty Location."""
        from urllib.parse import urljoin

        from warc2zim_spark.kernels.posturl import canonical_request_url
        from warc2zim_spark.kernels.surt import canonicalize

        form = ("application/x-www-form-urlencoded", b"a=1&b=two")
        rows = [
            # POST: request before its response, which redirects
            (0, 1, "request", "https://p.example/form", "q0", None, None, None, None, "POST", *form),
            (0, 2, "response", "https://p.example/form", "r0", "q0", 302, "/done?x=1", None, None, None, None),
            # PUT: response before its request
            (1, 1, "response", "https://p.example/put", "r1", None, 200, None, None, None, None, None),
            (1, 2, "request", "https://p.example/put", "q1", "r1", None, None, None, "PUT", "application/json", b'{"k": [1, 2]}'),
            # an unpaired POST request, then a response it does not pair with
            (2, 1, "request", "https://p.example/lonely", "q2", None, None, None, None, "POST", "text/plain", b"hello"),
            (2, 2, "response", "https://p.example/other", "r2", "q9", 200, None, None, None, None, None),
            # non-http and empty urls, a warcinfo row
            (3, 1, "response", "ftp://p.example/file", "r3", None, 200, None, None, None, None, None),
            (3, 2, "response", "intent://p.example/app", "r4", None, 301, "/x", None, None, None, None),
            (3, 3, "response", "", "r5", None, 200, None, None, None, None, None),
            (3, 4, "warcinfo", None, "w0", None, None, None, None, None, None, None),
            # revisits: with, without and self Refers-To, non-http Refers-To
            (4, 1, "revisit", "https://p.example/again", "v0", None, 200, None, "https://p.example/orig", None, None, None),
            (4, 2, "revisit", "https://p.example/again2", "v1", None, 200, None, None, None, None, None),
            (4, 3, "revisit", "https://p.example/self", "v2", None, 200, None, "https://p.example/self", None, None, None),
            (4, 4, "revisit", "https://p.example/ftpref", "v3", None, 200, "/loc", "ftp://p.example/y", None, None, None),
            # redirects, one with an empty Location, one with padding
            (5, 1, "response", "http://p.example/a", "r6", None, 301, "/b", None, None, None, None),
            (5, 2, "response", "http://p.example/c", "r7", None, 302, "", None, None, None, None),
            (5, 3, "response", "http://p.example/d", "r8", None, 307, "  https://q.example/e  ", None, None, None, None),
            (5, 4, "response", "http://p.example/f", "r9", None, 200, None, None, None, None, None),
        ]
        records = spark.createDataFrame(
            rows,
            "file_seq long, rec_seq long, rec_type string, url string, "
            "record_id string, concurrent_to string, status int, "
            "http_location string, refers_to_url string, req_method string, "
            "req_mime string, req_body binary",
        ).withColumn(
            "req_content_length", F.length("req_body").cast("long")
        ).withColumn("mime", F.lit("text/html")).withColumn("payload_len", F.lit(1).cast("long"))
        got = {
            (r.file_seq, r.rec_seq): r
            for r in content_records(records).collect()
        }

        by_pos = {(r[0], r[1]): r for r in rows}
        paired = {(0, 2): (0, 1), (1, 1): (1, 2)}
        expected = {}
        for pos, r in by_pos.items():
            rec_type, url, location, refers = r[2], r[3], r[7], r[8]
            if rec_type not in ("response", "revisit") or not url or not url.startswith(("http://", "https://")):
                continue
            eff = url
            if pos in paired:
                q = by_pos[paired[pos]]
                eff = canonical_request_url(q[3], q[9], q[10], q[11], len(q[11]))
            if canonicalize(eff) is None:
                continue
            loc = None
            if rec_type == "response" and location:
                loc = canonicalize(urljoin(eff, location.strip()))
            expected[pos] = (
                eff, canonicalize(eff), loc,
                canonicalize(refers) if rec_type == "revisit" and refers else None,
            )
        assert set(got) == set(expected)
        for pos, want in expected.items():
            r = got[pos]
            assert (r.effective_url, r.zim_path, r.location_path, r.refers_to_path) == want, pos
        # the fixture exercises every branch of the derivation
        assert got[(0, 2)].effective_url != got[(0, 2)].url
        assert got[(1, 1)].effective_url != got[(1, 1)].url
        assert got[(2, 2)].effective_url == got[(2, 2)].url
        assert got[(0, 2)].location_path == "p.example/done?x=1"
        assert got[(5, 2)].location_path is None
        assert got[(4, 1)].refers_to_path == "p.example/orig"
        assert got[(4, 2)].refers_to_path is None
        assert got[(4, 4)].location_path is None and got[(4, 4)].refers_to_path is None


class TestAliases:
    def test_revisit_aliases(self, content):
        items = items_table(content)
        aliases = revisit_aliases(content, items)
        rows = aliases.collect()
        assert len(rows) > 0
        item_paths = {r.zim_path for r in items.select("zim_path").collect()}
        for r in rows:
            assert r.alias_path not in item_paths  # anti-join holds
            assert r.alias_path != r.target_path   # self-refs skipped


class TestGatherAggregates:
    def test_date_range_spans_days(self, content):
        row = date_range(content).collect()[0]
        assert (row.warc_end - row.warc_start).days >= 2

    def test_main_page(self, content):
        row = main_page_candidate(content).collect()[0]
        assert row.zim_path is not None

    def test_warcinfo_software(self, spark, webdata):
        records = load_records(spark, webdata)
        row = warcinfo_software(records).collect()[0]
        assert row.software == "synthetic-crawler 1.0"


class TestDistributedRewrite:
    """The no-broadcast rewrite path must equal the broadcast-exact one, in
    both membership modes (verdict r01 item 5)."""

    def _frames(self, spark, webdata):
        from warc2zim_spark.operators.rewrite import (
            rewritten_pages,
            rewritten_pages_distributed,
        )

        pages = spark.read.parquet(f"{webdata}/pages.parquet")
        seen = spark.read.parquet(f"{webdata}/pages_golden.parquet").select(
            "zim_path"
        )
        return pages, seen, rewritten_pages, rewritten_pages_distributed

    def test_distributed_exact_equals_broadcast(self, spark, webdata):
        pages, seen, broadcast_fn, dist_fn = self._frames(spark, webdata)
        a = {r.url: r.html_rw for r in broadcast_fn(spark, pages, seen).collect()}
        b = {r.url: r.html_rw for r in dist_fn(pages, seen, mode="exact").collect()}
        assert a == b

    def test_distributed_bloom_equals_exact(self, spark, webdata):
        # deterministic hashing: if this passes once it always passes (any
        # divergence would be a bloom FP re-pointing one extra link — the
        # reference-tolerated direction, asserted separately below)
        pages, seen, _, dist_fn = self._frames(spark, webdata)
        a = {r.url: r.html_rw for r in dist_fn(pages, seen, mode="exact").collect()}
        b = {r.url: r.html_rw for r in dist_fn(pages, seen, mode="bloom").collect()}
        assert a == b

    def test_bloom_hit_direction(self, spark, webdata):
        """No false negatives: every truly-seen key hits, so every internal
        link that should be rewritten IS rewritten; bloom error budget lives
        only on the rewrite-a-missing-path side (fp < 1% at 16 bits/key)."""
        from warc2zim_spark.frontier import seenfilter
        import pyspark.sql.functions as F

        seen = spark.read.parquet(f"{webdata}/pages_golden.parquet").select(
            "zim_path"
        ).distinct()
        flt = seenfilter.build_bloom(seen, key_col="zim_path")
        hits = seenfilter.probe_bloom(
            seen.withColumnRenamed("zim_path", "target"), flt,
            key_col="target", keep="hit",
        )
        assert hits.count() == seen.count()  # zero false negatives
        absent = spark.range(2000).select(
            F.concat(F.lit("never-seen.example/"), F.col("id")).alias("target")
        )
        fp = seenfilter.probe_bloom(absent, flt, key_col="target", keep="hit").count()
        assert fp <= 20  # <1% false-positive budget


class TestMainPageRedirect:
    """J5 — converter.py:586-606: main path re-points through 301/302/307
    Location chains; 308 and non-redirect paths don't fire."""

    def _content(self, spark):
        rows = [
            # (file_seq, rec_seq, rec_type, status, effective_url, zim_path, http_location)
            (0, 1, "response", 302, "https://m.example/start", "m.example/start", "/hop1"),
            (0, 2, "response", 301, "https://m.example/hop1", "m.example/hop1", "/hop2"),
            (0, 3, "response", 307, "https://m.example/hop2", "m.example/hop2", "/final"),
            (0, 4, "response", 200, "https://m.example/final", "m.example/final", None),
            # 308 must NOT participate in the main-page follow
            (0, 5, "response", 308, "https://m.example/perm", "m.example/perm", "/elsewhere"),
            (0, 6, "response", 200, "https://m.example/plain", "m.example/plain", None),
            # cycles: loop-a ↔ loop-b; tail → ring-1 → ring-2 → ring-1
            (0, 7, "response", 302, "https://m.example/loop-a", "m.example/loop-a", "/loop-b"),
            (0, 8, "response", 301, "https://m.example/loop-b", "m.example/loop-b", "/loop-a"),
            (0, 9, "response", 302, "https://m.example/tail", "m.example/tail", "/ring-1"),
            (0, 10, "response", 301, "https://m.example/ring-1", "m.example/ring-1", "/ring-2"),
            (0, 11, "response", 307, "https://m.example/ring-2", "m.example/ring-2", "/ring-1"),
        ]
        from warc2zim_spark.operators.records import with_branch_paths

        return with_branch_paths(
            spark.createDataFrame(
                rows,
                "file_seq long, rec_seq long, rec_type string, status int, "
                "effective_url string, zim_path string, http_location string",
            ).withColumn("refers_to_url", F.lit(None).cast("string"))
        )

    def _main(self, spark, path, url):
        return spark.createDataFrame([(path, url)], "zim_path string, url string")

    def test_chain_followed(self, spark):
        from warc2zim_spark.operators.gather import main_page_resolved

        out = main_page_resolved(
            self._content(spark),
            self._main(spark, "m.example/start", "https://m.example/start"),
        ).collect()
        assert len(out) == 1 and out[0].zim_path == "m.example/final"

    def test_308_not_followed(self, spark):
        from warc2zim_spark.operators.gather import main_page_resolved

        out = main_page_resolved(
            self._content(spark),
            self._main(spark, "m.example/perm", "https://m.example/perm"),
        ).collect()
        assert out[0].zim_path == "m.example/perm"

    def test_cycle_lands_where_pointer_doubling_did(self, spark):
        """A redirect cycle never terminates; the walk stops at f^MAX_CHAIN
        (MAX_CHAIN = 32 = 2^5), the node the former 5-round pointer doubling
        over the whole edge graph landed on."""
        from warc2zim_spark.operators.gather import main_page_resolved

        content = self._content(spark)
        landed = {
            start: main_page_resolved(
                content, self._main(spark, f"m.example/{start}", f"https://m.example/{start}")
            ).collect()[0].zim_path
            for start in ("loop-a", "loop-b", "tail", "ring-1")
        }
        assert landed == {
            "loop-a": "m.example/loop-a",  # even hop count returns home
            "loop-b": "m.example/loop-b",
            "tail": "m.example/ring-2",  # tail, then 31 hops round a 2-ring
            "ring-1": "m.example/ring-1",
        }

    def test_non_redirect_passthrough(self, spark):
        from warc2zim_spark.operators.gather import main_page_resolved

        out = main_page_resolved(
            self._content(spark),
            self._main(spark, "m.example/plain", "https://m.example/plain"),
        ).collect()
        assert out[0].zim_path == "m.example/plain"


class TestIllustration:
    """J3 payload capture + C11 selection (converter.py:548-556, 780-924)."""

    def test_best_illustration_picks_48(self, spark, webdata):
        from warc2zim_spark.operators.favicon import best_illustration
        from warc2zim_spark.operators.gather import main_page_candidate
        from warc2zim_spark.operators.records import content_records, load_records
        from warc2zim_spark.kernels.imagemeta import image_dims

        # narrow stream; payloads fetched from the raw records by position
        records = load_records(spark, webdata)
        content = content_records(records)
        main = main_page_candidate(content).select("zim_path", "url")
        rows = best_illustration(content, main, records=records).collect()
        assert len(rows) == 1
        best = rows[0]
        # datagen fixture: favicon0.ico=96px, alt.ico=48px → exact-48 tier wins
        assert (best.width, best.height) == (48, 48)
        assert best.fmt == "PNG"
        # already PNG 48x48 → byte-identical passthrough of the record payload
        assert image_dims(bytes(best.illustration)) == ("PNG", 48, 48)

    def test_payload_carrying_stream_same_pick(self, spark, webdata):
        """Without ``records`` the stream's own payload column is the fetch
        source — same icon as the positional fetch."""
        from warc2zim_spark.operators.favicon import best_illustration
        from warc2zim_spark.operators.gather import main_page_candidate
        from warc2zim_spark.operators.records import content_records, load_records

        records = load_records(spark, webdata)
        narrow = content_records(records)
        wide = content_records(records, with_payload=True)
        main = main_page_candidate(narrow).select("zim_path", "url")
        assert (
            best_illustration(wide, main).collect()
            == best_illustration(narrow, main, records=records).collect()
        )

    def test_unparseable_payload_skipped(self, spark):
        from warc2zim_spark.operators.favicon import ranked_icons
        from warc2zim_spark.kernels.imagemeta import make_png

        captured = spark.createDataFrame(
            [
                ("https://x.example/a.png", "x.example/a.png", bytearray(make_png(96))),
                ("https://x.example/bad.png", "x.example/bad.png", bytearray(b"junk")),
            ],
            "icon_url string, icon_path string, payload binary",
        )
        rows = ranked_icons(captured).collect()
        assert [r.icon_url for r in rows] == ["https://x.example/a.png"]

    def test_svg_ranks_as_48(self, spark):
        from warc2zim_spark.operators.favicon import ranked_icons
        from warc2zim_spark.kernels.imagemeta import make_png

        captured = spark.createDataFrame(
            [
                ("https://x.example/big.png", "x.example/big.png", bytearray(make_png(96))),
                ("https://x.example/v.svg", "x.example/v.svg",
                 bytearray(b'<svg xmlns="http://www.w3.org/2000/svg" width="64" height="64"/>')),
            ],
            "icon_url string, icon_path string, payload binary",
        )
        rows = {r.icon_url: r for r in ranked_icons(captured).collect()}
        # SVG is size-perfect by definition (icon_finder semantics)
        assert rows["https://x.example/v.svg"].pref_rank == 1
        assert (rows["https://x.example/v.svg"].width,
                rows["https://x.example/v.svg"].height) == (48, 48)
