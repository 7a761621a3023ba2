"""Frontier: determinism vs the sequential oracle, parallelism invariance,
and checkpoint resume (north_rule requirements)."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from warc2zim_spark.frontier.crawl import committed_waves, run_crawl


@pytest.fixture(scope="module")
def web_tables(spark, webdata):
    seeds = spark.read.parquet(f"{webdata}/seeds.parquet").cache()
    robots = spark.read.parquet(f"{webdata}/robots.parquet").cache()
    pages = spark.read.parquet(f"{webdata}/pages.parquet").cache()
    return seeds, robots, pages


def schedule_key(rows):
    return sorted((r.wave, r.surt_key, r.hops, round(r.score, 9)) for r in rows)


class TestDeterminism:
    def test_matches_sequential_oracle(self, spark, webdata, web_tables, tmp_path):
        seeds, robots, pages = web_tables
        got = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "ckpt"),
            max_waves=3, host_budget=4, wave_budget=50,
        ).collect()
        from warc2zim_spark.sources.datagen import sequential_crawl

        golden = sequential_crawl(
            pq.read_table(f"{webdata}/pages.parquet"),
            pq.read_table(f"{webdata}/robots.parquet"),
            pq.read_table(f"{webdata}/seeds.parquet"),
            max_waves=3, host_budget=4, wave_budget=50,
        )
        expected = sorted(
            zip(
                golden.column("wave").to_pylist(),
                golden.column("surt_key").to_pylist(),
                golden.column("hops").to_pylist(),
                [round(s, 9) for s in golden.column("score").to_pylist()],
            )
        )
        assert schedule_key(got) == expected

    def test_parallelism_invariance(self, spark, web_tables, tmp_path):
        """Same schedule with 2 vs 8 shuffle partitions (the sandbox proxy for
        N vs 4N executors at the correctness level)."""
        seeds, robots, pages = web_tables
        a = run_crawl(
            spark, seeds, pages.repartition(2), robots, str(tmp_path / "a"),
            max_waves=2, host_budget=4, wave_budget=50,
        ).collect()
        b = run_crawl(
            spark, seeds, pages.repartition(8), robots, str(tmp_path / "b"),
            max_waves=2, host_budget=4, wave_budget=50,
        ).collect()
        assert schedule_key(a) == schedule_key(b)


class TestResume:
    def test_resume_completes_identically(self, spark, web_tables, tmp_path):
        seeds, robots, pages = web_tables
        full = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "full"),
            max_waves=3, host_budget=4, wave_budget=50,
        ).collect()
        # partial run: 2 waves, then a second call on the same directory
        # continues to 3
        run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "partial"),
            max_waves=2, host_budget=4, wave_budget=50,
        )
        assert committed_waves(str(tmp_path / "partial"))[-1] == 1
        resumed = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "partial"),
            max_waves=3, host_budget=4, wave_budget=50,
        ).collect()
        assert schedule_key(resumed) == schedule_key(full)

    def test_uncommitted_wave_not_read_back(self, spark, web_tables, tmp_path):
        """A wave dir whose write landed but whose _SUCCESS_WAVE marker did
        not (crash in between) is not part of the crawl's result."""
        seeds, robots, pages = web_tables
        ckpt = tmp_path / "stale"
        committed = run_crawl(
            spark, seeds, pages, robots, str(ckpt),
            max_waves=2, host_budget=4, wave_budget=50,
        ).collect()
        spark.createDataFrame(
            [(2, "https://stale.example/x", "stale.example/x", "stale.example", 9, 0.5)],
            "wave int, url string, surt_key string, host string, hops int, score double",
        ).write.parquet(str(ckpt / "wave=2"))
        assert committed_waves(str(ckpt))[-1] == 1
        resumed = run_crawl(
            spark, seeds, pages, robots, str(ckpt),
            max_waves=2, host_budget=4, wave_budget=50,
        ).collect()
        assert all(r.wave != 2 for r in resumed)
        assert schedule_key(resumed) == schedule_key(committed)

    def test_metrics_written(self, spark, web_tables, tmp_path):
        import json

        seeds, robots, pages = web_tables
        run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "m"),
            max_waves=2, host_budget=4, wave_budget=50,
        )
        metrics = json.loads((tmp_path / "m" / "wave=0._metrics.json").read_text())
        assert metrics["scheduled"] > 0 and metrics["hosts"] > 0

    @pytest.mark.parametrize("seen_mode", ["exact", "bloom"])
    def test_stale_unmarked_wave_overwritten(
        self, spark, web_tables, tmp_path, seen_mode
    ):
        """A crash after wave 2's write but before its marker leaves a stale
        ``wave=2`` directory; the next call on the directory runs wave 2
        again over it, and the crawl equals an uninterrupted one."""
        seeds, robots, pages = web_tables
        opts = dict(max_waves=3, host_budget=4, wave_budget=50, seen_mode=seen_mode)
        full = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "full"), **opts
        ).collect()
        ckpt = tmp_path / "crashed"
        run_crawl(spark, seeds, pages, robots, str(ckpt), **{**opts, "max_waves": 2})
        spark.createDataFrame(
            [(2, "https://stale.example/x", "stale.example/x", "stale.example", 9, 0.5)],
            "wave int, url string, surt_key string, host string, hops int, score double",
        ).write.parquet(str(ckpt / "wave=2"))
        resumed = run_crawl(spark, seeds, pages, robots, str(ckpt), **opts).collect()
        assert committed_waves(str(ckpt))[-1] == 2
        assert all(r.surt_key != "stale.example/x" for r in resumed)
        assert schedule_key(resumed) == schedule_key(full)

    @pytest.mark.parametrize("seen_mode", ["exact", "bloom"])
    def test_finished_crawl_reruns_nothing(
        self, spark, web_tables, tmp_path, count_jobs, seen_mode
    ):
        """A second call on a finished crawl's directory runs no job before
        its read-back and touches no file; it returns the same schedule."""
        seeds, robots, pages = web_tables
        ckpt = tmp_path / "done"
        opts = dict(max_waves=2, host_budget=4, wave_budget=50, seen_mode=seen_mode)
        first = run_crawl(spark, seeds, pages, robots, str(ckpt), **opts).collect()
        mtimes = {p: p.stat().st_mtime_ns for p in ckpt.rglob("*")}
        again = []
        _, n_jobs = count_jobs(
            f"rerun_finished_{seen_mode}",
            lambda: again.append(
                run_crawl(spark, seeds, pages, robots, str(ckpt), **opts)
            ),
        )
        assert n_jobs == 0, n_jobs
        assert {p: p.stat().st_mtime_ns for p in ckpt.rglob("*")} == mtimes
        assert schedule_key(again[0].collect()) == schedule_key(first)


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_TOPK_THRESHOLD = "spark.sql.execution.topKSortFallbackThreshold"
_BROADCAST_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


class TestEnvCaps:
    def test_caps_read_at_call_time(self, spark):
        """The crawl's plan thresholds are the session's Spark confs, read
        on each call: a lowered topKSortFallbackThreshold turns the next
        top-k from TakeOrderedAndProject into Spark's sort fallback, and a
        disabled autoBroadcastJoinThreshold drops the fetch join's hint."""
        from warc2zim_spark.frontier.crawl import _normalize_cols, _valid, crawl_wave
        from warc2zim_spark.frontier.politeness import prioritize

        cands = spark.createDataFrame(
            [("a.example/1", 0, 1.0), ("a.example/2", 0, 0.5)],
            "surt_key string, hops int, score double",
        )
        pages = spark.createDataFrame(
            [("https://a.example/p1", bytearray(b"<html></html>"))],
            "url string, html binary",
        )
        frontier = _normalize_cols(spark.createDataFrame(
            [("https://a.example/p1", 0, 1.0)], "url string, hops int, score double"
        )).filter(_valid())
        seen = spark.createDataFrame([], "surt_key string")
        robots = spark.createDataFrame(
            [], "host string, rule_type string, path_prefix string, crawl_delay_ms int"
        )

        def shapes():
            topk = prioritize(cands, wave_budget=1)
            _, nxt = crawl_wave(frontier, seen, pages, robots, wave_budget=1)
            return (
                "TakeOrderedAndProject" in _physical(topk),
                "strategy=broadcast" in _analyzed(nxt),
            )

        assert shapes() == (True, True)
        old = {k: spark.conf.get(k) for k in (_TOPK_THRESHOLD, _BROADCAST_THRESHOLD)}
        try:
            spark.conf.set(_TOPK_THRESHOLD, "1")
            spark.conf.set(_BROADCAST_THRESHOLD, "-1")
            assert shapes() == (False, False)
        finally:
            for key, value in old.items():
                spark.conf.set(key, value)
        assert shapes() == (True, True)


class TestTopKFallback:
    def test_sort_fallback_equals_take_ordered(self, spark, webdata):
        """At or above spark.sql.execution.topKSortFallbackThreshold Spark
        plans the top-k's orderBy+limit as a sort and a limit instead of
        TakeOrderedAndProject; both pick the same rows."""
        from warc2zim_spark.frontier.politeness import prioritize
        from warc2zim_spark.functions import udfs

        # the fixture's zipf-skewed hosts: 30% of pages on one host
        pages = spark.read.parquet(f"{webdata}/pages.parquet")
        cands = (
            pages.select(
                udfs.surt_key(F.col("url")).alias("surt_key"),
                udfs.host_of(F.col("url")).alias("host"),
            )
            .filter(F.col("surt_key").isNotNull())
            .withColumn("hops", (F.xxhash64("surt_key") % 3).cast("int"))
            .withColumn("score", (F.pmod(F.xxhash64("host", "surt_key"), F.lit(100)) / 100.0))
            .distinct()
        )
        take = prioritize(cands, wave_budget=37)
        assert "TakeOrderedAndProject" in _physical(take)
        got_take = sorted(take.collect())
        old = spark.conf.get(_TOPK_THRESHOLD)
        spark.conf.set(_TOPK_THRESHOLD, "10")
        try:
            fallback = prioritize(cands, wave_budget=37)
            plan = _physical(fallback)
            got_fallback = sorted(fallback.collect())
        finally:
            spark.conf.set(_TOPK_THRESHOLD, old)
        assert "TakeOrderedAndProject" not in plan, plan
        assert "Limit 37" in plan, plan
        assert len(got_take) == 37
        assert got_fallback == got_take


class TestPoliteness:
    def test_host_budget_enforced(self, spark, web_tables, tmp_path):
        seeds, robots, pages = web_tables
        schedule = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "pb"),
            max_waves=3, host_budget=2, wave_budget=1000,
        )
        over = (
            schedule.groupBy("wave", "host")
            .count()
            .filter(F.col("count") > 2)
            .count()
        )
        assert over == 0

    def test_denied_host_never_scheduled(self, spark, webdata, web_tables, tmp_path):
        seeds, robots, pages = web_tables
        deny_hosts = {
            r.host
            for r in robots.filter(
                (F.col("rule_type") == "disallow") & (F.col("path_prefix") == "/")
            ).collect()
        }
        if not deny_hosts:
            pytest.skip("no deny-all hosts at this scale")
        schedule = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "deny"),
            max_waves=3, host_budget=8, wave_budget=1000,
        )
        scheduled_hosts = {r.host for r in schedule.select("host").distinct().collect()}
        assert not (deny_hosts & scheduled_hosts)


class TestDedupFrontier:
    def test_keeps_min_url_and_its_host(self, spark):
        """Several urls per key, on differing hosts: the dedup keeps the
        least url and that url's host, the same pair as re-deriving the host
        with ``host_of(min(url))`` — also where another url of the key has
        the least host."""
        from warc2zim_spark.frontier.crawl import dedup_frontier
        from warc2zim_spark.functions import udfs
        from warc2zim_spark.kernels.surt import url_host

        urls = {
            "k1": ["https://a.example/x", "http://b.example/x", "http://www.c.example/x"],
            "k2": ["HTTPS://Z.example/p?q=1", "https://y.example/p"],
            "k3": ["http://solo.example/"],
        }
        frontier = spark.createDataFrame(
            [
                (u, key, url_host(u), i, 1.0 / (i + 1))
                for key, us in urls.items() for i, u in enumerate(us)
            ],
            "url string, surt_key string, host string, hops int, score double",
        )
        reference = (
            frontier.groupBy("surt_key")
            .agg(
                F.min("hops").alias("hops"),
                F.max("score").alias("score"),
                F.min("url").alias("url"),
            )
            .withColumn("host", udfs.host_of(F.col("url")))
        )
        got = dedup_frontier(frontier)
        assert got.columns == reference.columns
        rows = sorted(tuple(r) for r in got.collect())
        assert rows == sorted(tuple(r) for r in reference.collect())
        # min(host) alone would pick a.example and y.example
        assert rows == [
            ("k1", 0, 1.0, "http://b.example/x", "b.example"),
            ("k2", 0, 1.0, "HTTPS://Z.example/p?q=1", "z.example"),
            ("k3", 0, 1.0, "http://solo.example/", "solo.example"),
        ]


class TestCrawlJobCount:
    @pytest.mark.parametrize("seen_mode,ceiling", [("exact", 34), ("bloom", 44)])
    def test_cold_crawl_job_count_pinned(
        self, spark, webdata, tmp_path, count_jobs, seen_mode, ceiling
    ):
        """Each schedule and each frontier is materialized by one eager
        checkpoint job, with no count beside it, and the last wave builds no
        frontier; robots is aggregated once per crawl; bloom mode builds no
        filter before wave 0 and updates it in one pass per wave, written
        once; the empty seen set of wave 0 is a JVM literal frame; exact
        mode's seen set is a scan of the written waves, copied never; waves
        are read with their schema, inferring none. A cold 3-wave crawl on
        this fixture runs 34 (exact) / 44 (bloom) jobs, the pool threads'
        wave writes, bloom updates and lookup warm-up included. Every job
        carries the caller's job group, pool threads' too."""
        seeds = spark.read.parquet(f"{webdata}/seeds.parquet")
        robots = spark.read.parquet(f"{webdata}/robots.parquet")
        pages = spark.read.parquet(f"{webdata}/pages.parquet")
        n_group, n_jobs = count_jobs(
            f"run_crawl_jobs_{seen_mode}",
            lambda: run_crawl(
                spark, seeds, pages, robots, str(tmp_path / "jobs"),
                max_waves=3, host_budget=4, wave_budget=50, seen_mode=seen_mode,
            ),
        )
        assert n_group == n_jobs
        assert 0 < n_jobs <= ceiling, n_jobs


class TestBloomModeCrawl:
    def test_bloom_schedule_equals_exact(self, spark, web_tables, tmp_path):
        """The bloom-driven crawl (north_star headline mode) schedules the
        same set as exact membership at this scale (deterministic hashing:
        a divergence would be a bloom FP dropping one URL — none at this
        fp budget/key count, and the run is reproducible)."""
        seeds, robots, pages = web_tables
        exact = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "ex"),
            max_waves=3, host_budget=4, wave_budget=50,
        ).collect()
        bloom = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bl"),
            max_waves=3, host_budget=4, wave_budget=50, seen_mode="bloom",
        ).collect()
        assert schedule_key(bloom) == schedule_key(exact)
        # and the filter itself was persisted for resume
        assert any((tmp_path / "bl").glob("seen_bloom_wave=*"))

    def test_bloom_resume_from_persisted_filter(self, spark, web_tables, tmp_path):
        """north_rule resumability in the headline mode: restart picks up
        the persisted bloom parquet, not a key rebuild."""
        seeds, robots, pages = web_tables
        full = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bf"),
            max_waves=3, host_budget=4, wave_budget=50, seen_mode="bloom",
        ).collect()
        run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bp"),
            max_waves=2, host_budget=4, wave_budget=50, seen_mode="bloom",
        )
        resumed = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bp"),
            max_waves=3, host_budget=4, wave_budget=50, seen_mode="bloom",
        ).collect()
        assert schedule_key(resumed) == schedule_key(full)

    def test_bloom_resume_after_partial_filter_write(self, spark, web_tables, tmp_path):
        """The filter update runs beside the wave's write and marker, so a
        crash can leave the last committed wave's filter directory partly
        written (no _SUCCESS). Resume then rebuilds the filter from the
        committed waves' keys instead of reading the partial directory."""
        import shutil

        seeds, robots, pages = web_tables
        full = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bf"),
            max_waves=3, host_budget=4, wave_budget=50, seen_mode="bloom",
        ).collect()
        run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bp"),
            max_waves=2, host_budget=4, wave_budget=50, seen_mode="bloom",
        )
        partial = tmp_path / "bp" / "seen_bloom_wave=1"
        assert (partial / "_SUCCESS").exists()
        shutil.rmtree(partial)
        partial.mkdir()
        resumed = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bp"),
            max_waves=3, host_budget=4, wave_budget=50, seen_mode="bloom",
        ).collect()
        assert schedule_key(resumed) == schedule_key(full)


def _bloom_rows(df):
    return sorted(
        (r.part_id, r.num_parts, r.n_keys, bytes(r.bitmap)) for r in df.collect()
    )


class TestBloomUpdate:
    """``add_to_bloom`` is ``merge_blooms(bloom, build_bloom(keys))`` in one
    pass: same rows, same bytes."""

    P, M = 4, 1 << 12

    @pytest.fixture(scope="class")
    def keys_by_part(self, spark):
        from warc2zim_spark.frontier.seenfilter import partition_of

        rows = (
            spark.range(0, 400)
            .select(F.concat(F.lit("h.example/p"), F.col("id")).alias("surt_key"))
            .withColumn("part", partition_of(F.col("surt_key"), self.P))
            .collect()
        )
        out = {}
        for r in rows:
            out.setdefault(r.part, []).append(r.surt_key)
        assert set(out) == set(range(self.P))
        return out

    def _keys(self, spark, keys):
        return spark.createDataFrame([(k,) for k in keys], "surt_key string")

    def test_equals_build_then_merge(self, spark, keys_by_part):
        from warc2zim_spark.frontier.seenfilter import (
            add_to_bloom,
            build_bloom,
            merge_blooms,
        )

        # partition 0: filter only; 1: both; 2: keys only; 3: neither
        prior = build_bloom(
            self._keys(spark, keys_by_part[0] + keys_by_part[1][::2]),
            num_partitions=self.P, m_bits=self.M,
        )
        new = self._keys(spark, keys_by_part[1][1::2] + keys_by_part[2])
        got = _bloom_rows(add_to_bloom(prior, new, num_partitions=self.P, m_bits=self.M))
        want = _bloom_rows(merge_blooms(
            prior, build_bloom(new, num_partitions=self.P, m_bits=self.M)
        ))
        assert got == want
        assert [r[0] for r in got] == [0, 1, 2]
        assert got[1][2] == len(keys_by_part[1])

    def test_empty_or_absent_filter(self, spark, keys_by_part):
        from warc2zim_spark.frontier.seenfilter import (
            _BLOOM_SCHEMA,
            add_to_bloom,
            build_bloom,
            merge_blooms,
        )

        new = self._keys(spark, keys_by_part[1] + keys_by_part[3])
        built = build_bloom(new, num_partitions=self.P, m_bits=self.M)
        empty = spark.createDataFrame([], _BLOOM_SCHEMA)
        want = _bloom_rows(merge_blooms(empty, built))
        assert want == _bloom_rows(built)
        for prior in (empty, None):
            got = add_to_bloom(prior, new, num_partitions=self.P, m_bits=self.M)
            assert _bloom_rows(got) == want

    @pytest.mark.parametrize(
        "num_parts,m_bits,message",
        [(2, M, "partition-count mismatch"), (P, 2 * M, "size mismatch")],
        ids=["num_parts", "m_bits"],
    )
    def test_mismatch_raises(self, spark, keys_by_part, num_parts, m_bits, message):
        from warc2zim_spark.frontier.seenfilter import add_to_bloom, build_bloom

        keys = self._keys(spark, keys_by_part[0] + keys_by_part[1])
        prior = build_bloom(keys, num_partitions=self.P, m_bits=self.M)
        with pytest.raises(Exception, match=message):
            add_to_bloom(prior, keys, num_partitions=num_parts, m_bits=m_bits).collect()


class TestHostPolicy:
    """The gates give the same rows with a prebuilt ``host_policy`` as
    with the 2-argument calls that derive it from ``robots``."""

    @pytest.fixture(scope="class")
    def robots(self, spark):
        return spark.createDataFrame(
            [
                ("delay.example", None, None, 15000),           # delay only
                ("rules.example", "disallow", "/private", None),  # rules only
                ("both.example", "disallow", "/x", 10000),       # both
                ("both.example", "allow", "/x/ok", 10000),
            ],
            "host string, rule_type string, path_prefix string, crawl_delay_ms int",
        )

    @pytest.fixture(scope="class")
    def cands(self, spark):
        paths = ["/a", "/b", "/c", "/d", "/private/1", "/x/1", "/x/ok/1"]
        hosts = ["delay.example", "rules.example", "both.example", "free.example"]
        rows = [
            (f"{h}{p}", h, i % 2, 1.0 / (i + 1))
            for h in hosts for i, p in enumerate(paths)
        ]
        return spark.createDataFrame(
            rows, "surt_key string, host string, hops int, score double"
        )

    def test_prebuilt_policy_same_rows(self, spark, robots, cands):
        from warc2zim_spark.frontier.politeness import (
            host_policy,
            politeness_budget,
            robots_allowed,
        )

        policy = host_policy(robots).localCheckpoint(eager=True)
        allowed = sorted(robots_allowed(cands, robots).collect())
        assert sorted(robots_allowed(cands, robots, policy=policy).collect()) == allowed
        denied = {r.surt_key for r in cands.collect()} - {r.surt_key for r in allowed}
        assert denied == {
            "rules.example/private/1", "both.example/x/1",
        }
        polite = sorted(politeness_budget(cands, robots, host_budget=4).collect())
        assert sorted(
            politeness_budget(cands, robots, host_budget=4, policy=policy).collect()
        ) == polite
        per_host = {}
        for r in polite:
            per_host[r.host] = per_host.get(r.host, 0) + 1
        # 30 s waves: 15 s delay → 2, 10 s delay → 3, no delay → host_budget
        assert per_host == {
            "delay.example": 2, "both.example": 3,
            "rules.example": 4, "free.example": 4,
        }
