"""BFS crawl-wave loop: the north-star frontier driver.

Iterative batch (NOT Structured Streaming — SURVEY §2.8). The checkpoint
directory is the crawl's only state: ``run_crawl`` reads the waves committed
there and starts at the next one, so a fresh, a resumed and an extended
crawl run the same code. On entry the frontier is the seeds (nothing
committed) or the links of the last committed wave — the next frontier is a
function of a wave's scheduled rows and the page table alone, so no frontier
snapshot is written. Once per crawl, the page lookup and the per-host robots
policy (``host_policy``) are built; then each wave
  1. candidates = frontier rows (url, surt_key, host, hops, score), deduped
     per key, no UDF (``dedup_frontier``), and probed against the seen filter
  2. robots gate → politeness budget → global priority + wave budget
     (``schedule_wave``); the schedule is materialized eagerly (one job)
  3. three independent jobs start from the finished schedule at once, a
     and b as branches (``plans.branches``), joined before the wave ends:
     a. the wave write (parquet + metrics), then its commit marker;
     b. bloom mode: the seen-filter update — the wave's keys ORed into the
        prior bitmaps in one pass (``add_to_bloom``), persisted as
        ``seen_bloom_wave=N``;
     c. ``wave_links``: "fetch" = join scheduled URLs against the page table
        (the sandbox's stand-in for HTTP; at production scale this is the
        fetcher boundary), extract links → next frontier (hops+1, inherited
        score decayed), checkpointed. The last wave skips it.
  4. exact mode: the seen set is the committed waves' ``surt_key`` columns,
     so it grows by the scan of the wave just written. Bloom mode: the next
     wave's probe reads the filter 3b returned.

Determinism contract (north_rule): the scheduled set + ordering per wave is
a pure function of (seed list, politeness budget, page table) — independent
of parallelism. Everything order-sensitive goes through explicit sort keys;
ties broken by surt_key.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from warc2zim_spark.frontier.politeness import (
    host_policy,
    politeness_budget,
    prioritize,
    robots_allowed,
)
from warc2zim_spark.frontier.seenfilter import (
    add_to_bloom,
    build_bloom,
    probe_bloom,
    read_bloom,
    unseen_exact,
)
from warc2zim_spark.functions import udfs
from warc2zim_spark.functions.expressions import literal_frame
from warc2zim_spark.plans.branches import branches

SCORE_DECAY = 0.5

# one committed wave's rows, as written and read back (an explicit schema:
# no schema-inference job per read)
_WAVE_SCHEMA = "wave int, url string, surt_key string, host string, hops int, score double"

# the broadcast fast paths are decided in bytes, by the session's
# spark.sql.autoBroadcastJoinThreshold: the exact seen set (no hint — the
# optimizer's estimate of the committed waves' scan decides) and the fetch's
# hit set (hinted while the schedule's estimate fits, see _fits_broadcast).
# Beyond it the shuffle joins (and, for seen, the partitioned-bloom mode —
# the actual 10^10-key design point) take over. The seen scan's estimate
# counts compressed parquet bytes, ~7.5 B per surt key against ~230 B per
# key in the built hash relation, so the threshold admits millions of
# exact keys before it switches.


def _fits_broadcast(df: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``df`` is within the
    session's ``autoBroadcastJoinThreshold`` — Spark's own broadcast rule.
    The threshold is read from the JVM SQLConf, so ``64m`` parses and
    ``-1`` disables it. Reading the estimate runs no job."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return 0 <= size <= conf.autoBroadcastJoinThreshold()


# rows whose url failed canonicalization or host extraction (UDFs return
# null) — applied AFTER each frontier checkpoint so the filter reads the
# materialized columns (the UDF rule, SURVEY §4.2: a filter over a UDF
# column re-runs the UDF in a second Python node)
def _valid():
    return F.col("surt_key").isNotNull() & F.col("host").isNotNull()


def _normalize_cols(frontier: DataFrame) -> DataFrame:
    """Attach surt_key + host (one UDF pass each, NO null filter — callers
    filter ``_valid()`` after a materialization barrier)."""
    return frontier.withColumn("surt_key", udfs.surt_key(F.col("url"))).withColumn(
        "host", udfs.host_of(F.col("url"))
    )


def page_lookup(pages: DataFrame) -> DataFrame:
    """(surt_key, page_url) with exactly one page per canonical key — the
    lexicographically-first url wins (first-wins analogue of A2, needed
    because fuzzy rules/cache-busters fold several urls onto one key).
    Compute ONCE per crawl and cache.

    NARROW (r06, guide §8): the lookup is a *decision* table of keys only —
    ``min(page_url)`` over a map-side-aggregating groupBy is exactly the
    former window's first-wins pick, but the dedup shuffle and the per-crawl
    cache now carry ~100 B/row instead of the whole html payload.
    ``wave_links`` re-attaches html at fetch time by streaming the page
    table through a broadcast probe of the scheduled keys, so the heavy
    bytes are never shuffled or cached at all."""
    return (
        pages.select(
            udfs.surt_key(F.col("url")).alias("surt_key"),
            F.col("url").alias("page_url"),
        )
        .groupBy("surt_key")
        .agg(F.min("page_url").alias("page_url"))
    )


def dedup_frontier(frontier: DataFrame) -> DataFrame:
    """One candidate per key: best (hops, score) and the least url with its
    own host, ``min(struct(url, host))`` — every row's host is ``url_host``
    of its url, so this is ``host_of(min(url))`` without a Python stage.
    Deterministic: parallelism must not change the result (never F.first)."""
    return frontier.groupBy("surt_key").agg(
        F.min("hops").alias("hops"),
        F.max("score").alias("score"),
        F.min(F.struct("url", "host")).alias("_first"),
    ).select("surt_key", "hops", "score", "_first.url", "_first.host")


def schedule_wave(
    frontier: DataFrame,
    seen: DataFrame | None,
    robots: DataFrame,
    host_budget: int = 8,
    wave_budget: int = 1000,
    seen_bloom: DataFrame | None = None,
    bloom_partitions: int = 32,
    policy: DataFrame | None = None,
) -> DataFrame:
    """One wave's schedule, lazily: dedup → seen probe → robots →
    politeness → global priority + wave budget.
    ``frontier``: (url, surt_key, host, hops, score) candidates.
    ``seen``: one column ``surt_key``; unused when ``seen_bloom`` is given.
    ``bloom_partitions`` must match the partition count ``seen_bloom`` was
    built with (probe_bloom validates against the filter rows and raises on
    mismatch — a silent mismatch would pair candidates with the wrong
    bitmaps and re-crawl seen URLs every wave).
    ``policy``: optional pre-built ``host_policy(robots)`` (checkpointed
    once per crawl by the driver); derived from ``robots`` when absent."""
    best = dedup_frontier(frontier)
    if seen_bloom is not None:
        # partitioned-bloom membership (the 10^10-key mode): candidates hash
        # to bitmap partitions, cogrouped probe, no exact key set anywhere.
        # A bloom FP drops an unseen URL — the crawl-safe direction.
        unseen = probe_bloom(
            best, seen_bloom, num_partitions=bloom_partitions, keep="miss"
        )
    else:
        unseen = unseen_exact(best, seen)
    allowed = robots_allowed(unseen, robots, policy=policy)
    polite = politeness_budget(
        allowed, robots, host_budget=host_budget, policy=policy
    )
    return prioritize(polite, wave_budget=wave_budget)


def wave_links(
    scheduled: DataFrame,
    pages: DataFrame,
    pages_keyed: DataFrame | None = None,
) -> DataFrame:
    """Next-frontier candidates of the ``scheduled`` rows (url, surt_key,
    hops, score): fetched from the page table, links extracted (hops+1,
    score decayed). ``pages_keyed``: optional pre-built (cached)
    ``page_lookup(pages)``. The hit set is broadcast while the optimizer's
    size estimate of ``scheduled`` is within ``autoBroadcastJoinThreshold``
    (a checkpointed schedule carries its limit's estimate, ~80 B × budget).
    The hint is what keeps the html still: without it Spark's own size
    rule can pick the page table as the build side."""
    # "fetch": canonical-key join against the page table; extract links.
    # The scheduled keys pick their winning page_url on the NARROW lookup,
    # then html is attached by streaming the page table through a hash probe
    # of that (small) hit set: the html bytes move ZERO times — they stay in
    # the scan stage that feeds the link-extraction UDFs, at the scan's own
    # parallelism (the former left join against a (surt_key, html) lookup
    # either broadcast ~100 MB of html per wave or probed it from the
    # single-partition schedule side, serializing the whole HTML parse into
    # one task — guide §8: decide with small rows, move big rows once).
    page_keyed = pages_keyed if pages_keyed is not None else page_lookup(pages)
    hits = scheduled.join(page_keyed, "surt_key")
    if _fits_broadcast(scheduled):
        hits = F.broadcast(hits)
    fetched = hits.join(
        pages.select(F.col("url").alias("page_url"), "html"), "page_url"
    )
    return (
        fetched.filter(F.col("html").isNotNull())
        .select(
            "hops", "score",
            # decode + extract + resolve + canonicalize fused into ONE Arrow
            # stage over the raw bytes (extract_wave_links) — the former
            # chain round-tripped the page through Python for decode, again
            # for the parse, and the exploded link frame twice more (Spark
            # plans even chained pandas UDFs as separate eval nodes).
            # *_outer: plain explode's implicit non-empty guard is a
            # predicate on the UDF output and made Catalyst run the parse
            # TWICE per page; a linkless page yields one null row that dies
            # in the frontier's _valid() filter.
            F.explode_outer(
                udfs.extract_wave_links(F.col("html"), F.col("url"))
            ).alias("l"),
        )
        .select(
            F.col("l.url").alias("url"),
            (F.col("hops") + 1).alias("hops"),
            (F.col("score") * SCORE_DECAY).alias("score"),
            F.col("l.surt_key").alias("surt_key"),
            F.col("l.host").alias("host"),
        )
    )


def crawl_wave(
    frontier: DataFrame,
    seen: DataFrame | None,
    pages: DataFrame,
    robots: DataFrame,
    wave_budget: int = 1000,
    pages_keyed: DataFrame | None = None,
    **schedule_opts,
) -> tuple[DataFrame, DataFrame]:
    """One wave → (scheduled, next_frontier_candidates): ``schedule_wave``
    materialized by an eager checkpoint, and its lazy ``wave_links``. The
    schedule feeds up to three jobs — the driver's write and bloom update
    and the link extraction — each of which would recompute the scheduling
    windows without the barrier. Eager, because those jobs run concurrently
    on branch threads: a lazy checkpoint whose first readers are two
    threads' jobs at once can deadlock the scheduler (one job marks the RDD
    checkpointed while the other's stage walk holds its lock)."""
    scheduled = schedule_wave(
        frontier, seen, robots, wave_budget=wave_budget, **schedule_opts
    ).localCheckpoint(eager=True)
    return scheduled, wave_links(scheduled, pages, pages_keyed=pages_keyed)


def committed_waves(checkpoint_dir: str) -> list[int]:
    """Waves with a ``_SUCCESS_WAVE`` marker, ascending. A wave dir whose
    write finished but whose marker never landed (crash in between) is not
    part of the crawl; the next run overwrites it."""
    marker = "._SUCCESS_WAVE"
    return sorted(
        int(p.name[len("wave="):-len(marker)])
        for p in Path(checkpoint_dir).glob(f"wave=*{marker}")
    )


def _read_waves(spark: SparkSession, ckpt: Path, waves: list[int]) -> DataFrame:
    if not waves:
        return literal_frame(spark, [], _WAVE_SCHEMA)
    return spark.read.schema(_WAVE_SCHEMA).parquet(
        *[str(ckpt / f"wave={w}") for w in waves]
    )


def run_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    checkpoint_dir: str,
    max_waves: int = 4,
    host_budget: int = 8,
    wave_budget: int = 1000,
    seen_mode: str = "exact",
    bloom_partitions: int = 32,
    bloom_m_bits: int = 1 << 20,
) -> DataFrame:
    """Run the BFS crawl through wave ``max_waves - 1``; returns the full
    schedule (wave, url, surt_key, host, hops, score) read back from the
    checkpoint directory — the durable artifact, matching what a restarted
    job sees. ``seeds``: (url, score double, hops int).

    The directory is the crawl's state: a second call on it continues after
    the last committed wave rather than restarting — a resumed crawl after a
    crash, or an extended one with a larger ``max_waves`` — and ignores its
    ``seeds``; a finished crawl (``max_waves`` reached, or a wave that
    scheduled nothing) runs no job. A fresh crawl needs a fresh directory.

    ``seen_mode="bloom"`` drives the seen-filter as the partitioned bloom
    (north_star headline): each wave's scheduled keys are ORed into the
    running filter's per-partition bitmaps (``add_to_bloom``), and the
    filter persists to parquet next to each wave (the next wave's probe and
    a continued crawl read it back). The exact key set never materializes.
    A fresh crawl has no filter before wave 0, whose seen set is empty.
    ``bloom_m_bits`` is the per-partition capacity plan: at 16 bits/key,
    2^20 bits ≈ 65k keys/partition — size it to (expected keys) × 16 /
    partitions at production scale.

    Hot-host skew needs no option here: ``politeness_budget``'s partial
    ``WindowGroupLimit`` caps each host before the host exchange."""
    if seen_mode not in ("exact", "bloom"):
        raise ValueError(f"seen_mode must be 'exact' or 'bloom', got {seen_mode!r}")
    ckpt = Path(checkpoint_dir)
    ckpt.mkdir(parents=True, exist_ok=True)
    done = committed_waves(checkpoint_dir)
    start = done[-1] + 1 if done else 0
    # a committed wave that scheduled nothing ends the crawl
    ended = done and json.loads(
        (ckpt / f"wave={done[-1]}._metrics.json").read_text()
    )["scheduled"] == 0
    if start >= max_waves or ended:
        return _read_waves(spark, ckpt, done)
    pages_keyed = page_lookup(pages).cache()
    try:
        if done:
            # the frontier the last committed wave produced: its links,
            # derived from its rows as the run loop derives them from the
            # schedule. This job fills the lookup cache, before any other
            # reader exists
            frontier = wave_links(
                _read_waves(spark, ckpt, done[-1:]).drop("wave"), pages,
                pages_keyed=pages_keyed,
            )
        else:
            # spread the seed pass (r06): seeds routinely arrive as ONE
            # partition (a limit, a list, a tiny file), which would run the
            # UDF pass — and everything until the first exchange — in one
            # task; a round-robin repartition of the tiny rows restores
            # parallelism (order is re-established by every downstream sort
            # key)
            frontier = _normalize_cols(
                seeds.repartition(spark.sparkContext.defaultParallelism)
            )
        frontier = frontier.localCheckpoint(eager=True).filter(_valid())
        # bloom mode starts from the persisted filter — if completely
        # written: the update runs beside the wave's write and marker, so a
        # crash can leave it partial (no _SUCCESS); it is then rebuilt from
        # the committed keys. A fresh crawl has none until wave 0's update
        seen_bloom = None
        if seen_mode == "bloom" and done:
            bloom_path = ckpt / f"seen_bloom_wave={done[-1]}"
            if (bloom_path / "_SUCCESS").exists():
                seen_bloom = read_bloom(spark, str(bloom_path))
            else:
                seen_bloom = build_bloom(
                    _read_waves(spark, ckpt, done).select("surt_key"),
                    num_partitions=bloom_partitions, m_bits=bloom_m_bits,
                ).localCheckpoint(eager=True)
        # robots aggregated once per crawl: every wave's gates broadcast
        # projections of these finished blocks
        policy = host_policy(robots).localCheckpoint(eager=True)

        def write_wave(out, wave):
            """Idempotent wave write (overwrite → safe re-run after partial
            failure), its metrics, then its commit marker → the scheduled
            count. The metrics ride the write job as an Observation (r06):
            count + distinct hosts (size(collect_set) ≡ countDistinct) are
            collected while the rows stream to parquet."""
            obs = Observation(f"wave={wave}")
            out.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.size(F.collect_set("host")).alias("hosts"),
            ).write.mode("overwrite").parquet(str(ckpt / f"wave={wave}"))
            stats = obs.get
            metrics = {"wave": wave, "scheduled": stats["n"], "hosts": stats["hosts"]}
            (ckpt / f"wave={wave}._metrics.json").write_text(json.dumps(metrics))
            (ckpt / f"wave={wave}._SUCCESS_WAVE").write_text("ok")
            return stats["n"]

        def update_bloom(prior, keys, wave):
            """The filter with the wave's keys ORed in, persisted once per
            wave (north_rule); an empty wave persists it unchanged."""
            path = str(ckpt / f"seen_bloom_wave={wave}")
            add_to_bloom(
                prior, keys, num_partitions=bloom_partitions, m_bits=bloom_m_bits,
            ).write.mode("overwrite").parquet(path)
            return read_bloom(spark, path)

        # per wave, the write and the bloom update run as branches beside
        # the next frontier's checkpoint here (guide §2.6): all three read
        # the SAME materialized schedule and nothing else of each other, and
        # both branches are joined before the wave ends. A fresh crawl's
        # lookup-cache build overlaps wave 0's scheduling chain, which does
        # not read it; the first link extraction waits for it
        with branches(spark) as branch:
            warm_lookup = None if done else branch(pages_keyed.count)
            for wave in range(start, max_waves):
                seen = None
                if seen_bloom is None:  # exact mode, or bloom mode's wave 0
                    # no hint: the byte threshold decides from the scan
                    seen = _read_waves(spark, ckpt, done).select("surt_key")
                scheduled, next_frontier = crawl_wave(
                    frontier, seen, pages, robots,
                    host_budget=host_budget, wave_budget=wave_budget,
                    pages_keyed=pages_keyed, seen_bloom=seen_bloom,
                    bloom_partitions=bloom_partitions, policy=policy,
                )
                # no cache: its readers project the checkpointed schedule
                out = scheduled.select(
                    F.lit(wave).alias("wave"), "url", "surt_key", "host", "hops",
                    F.round("score", 9).alias("score"),
                )
                written = branch(write_wave, out, wave)
                bloom = None
                if seen_mode == "bloom":
                    bloom = branch(update_bloom, seen_bloom, out.select("surt_key"), wave)
                if wave + 1 < max_waves:
                    # eager checkpoint: one job (a lazy one + count is two
                    # under AQE), from the unrounded schedule. The last
                    # wave's frontier has no reader: a later call with a
                    # larger max_waves derives it on entry
                    if warm_lookup is not None:
                        warm_lookup.result()
                    frontier = next_frontier.localCheckpoint(eager=True).filter(_valid())
                if bloom is not None:
                    seen_bloom = bloom.result()
                n_scheduled = written.result()
                done.append(wave)
                if n_scheduled == 0:
                    break
    finally:
        pages_keyed.unpersist()
    return _read_waves(spark, ckpt, done)
