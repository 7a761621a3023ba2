"""Frontier: determinism vs the sequential oracle, parallelism invariance,
and checkpoint resume (north_rule requirements)."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from warc2zim_spark.frontier.crawl import last_committed_wave, resume_crawl, run_crawl


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
        # partial run: 2 waves, then resume to 3
        run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "partial"),
            max_waves=2, host_budget=4, wave_budget=50,
        )
        assert last_committed_wave(str(tmp_path / "partial")) == 1
        resumed = resume_crawl(
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
        assert last_committed_wave(str(ckpt)) == 1
        resumed = resume_crawl(
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


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


class TestEnvCaps:
    def test_caps_read_at_call_time(self, spark, monkeypatch):
        """A changed cap takes effect on the next call, without a re-import:
        the top-k leaves orderBy+limit for the windowed rank, and the fetch
        join loses its broadcast hint."""
        from warc2zim_spark.frontier.crawl import _normalize, crawl_wave
        from warc2zim_spark.frontier.politeness import prioritize

        cands = spark.createDataFrame(
            [("a.example/1", 0, 1.0), ("a.example/2", 0, 0.5)],
            "surt_key string, hops int, score double",
        )
        pages = spark.createDataFrame(
            [("https://a.example/p1", bytearray(b"<html></html>"))],
            "url string, html binary",
        )
        frontier = _normalize(spark.createDataFrame(
            [("https://a.example/p1", 0, 1.0)], "url string, hops int, score double"
        ))
        seen = spark.createDataFrame([], "surt_key string")
        robots = spark.createDataFrame(
            [], "host string, rule_type string, path_prefix string, crawl_delay_ms int"
        )

        def shapes():
            topk = prioritize(cands, wave_budget=1)
            _, nxt = crawl_wave(frontier, seen, pages, robots, wave_budget=1)
            return (
                "GlobalLimit" in _analyzed(topk),
                "strategy=broadcast" in _analyzed(nxt),
            )

        monkeypatch.delenv("W2ZS_TOPK_LIMIT_MAX", raising=False)
        monkeypatch.delenv("W2ZS_FETCH_BROADCAST_MAX", raising=False)
        assert shapes() == (True, True)
        monkeypatch.setenv("W2ZS_TOPK_LIMIT_MAX", "0")
        monkeypatch.setenv("W2ZS_FETCH_BROADCAST_MAX", "0")
        assert shapes() == (False, False)


class TestTopKFallback:
    def test_windowed_rank_equals_take_ordered(self, spark, webdata, monkeypatch):
        """Above W2ZS_TOPK_LIMIT_MAX the global top-k is a windowed rank
        instead of orderBy+limit; both pick the same rows."""
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
        monkeypatch.delenv("W2ZS_TOPK_LIMIT_MAX", raising=False)
        take = prioritize(cands, wave_budget=37)
        monkeypatch.setenv("W2ZS_TOPK_LIMIT_MAX", "0")
        ranked = prioritize(cands, wave_budget=37)
        assert "GlobalLimit" in _analyzed(take)
        assert "GlobalLimit" not in _analyzed(ranked)
        got_take, got_ranked = sorted(take.collect()), sorted(ranked.collect())
        assert len(got_take) == 37
        assert got_ranked == got_take


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


class TestCrawlJobCount:
    @pytest.mark.parametrize("seen_mode,ceiling", [("exact", 43), ("bloom", 60)])
    def test_cold_crawl_job_count_pinned(
        self, spark, webdata, tmp_path, count_jobs, seen_mode, ceiling
    ):
        """Each frontier is materialized by one eager checkpoint job, with no
        count beside it. A cold 3-wave crawl on this fixture runs 43 (exact)
        / 60 (bloom) jobs, the pool thread's wave writes and lookup warm-up
        included (36 / 53 of them on the calling thread). Every job carries
        the caller's job group, pool threads' too."""
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
        resumed = resume_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bp"),
            max_waves=3, host_budget=4, wave_budget=50, seen_mode="bloom",
        ).collect()
        assert schedule_key(resumed) == schedule_key(full)
