"""BFS crawl-wave loop: the north-star frontier driver.

Iterative batch (NOT Structured Streaming — SURVEY §2.8). Once per crawl,
the page lookup and the per-host robots policy (``host_policy``) are built;
then each wave
  1. candidates = frontier rows (url, surt_key, host, hops, score), deduped
     per key, no UDF (``dedup_frontier``), and probed against the seen filter
  2. robots gate → politeness budget → global priority + wave budget; the
     schedule is materialized eagerly (one job)
  3. three independent jobs start from the finished schedule at once:
     a. the wave write (parquet + metrics), then its commit marker;
     b. bloom mode: the seen-filter update — the wave's keys ORed into the
        prior bitmaps in one pass (``add_to_bloom``), persisted as
        ``seen_bloom_wave=N``;
     c. "fetch" = join scheduled URLs against the page table (the sandbox's
        stand-in for HTTP; at production scale this is the fetcher
        boundary), extract links → next frontier (hops+1, inherited score
        decayed), checkpointed.
  4. exact mode: scheduled keys enter the seen set. Bloom mode: the next
     wave's probe reads the filter file written by 3b, waiting for it first.
Resumable: ``resume_crawl`` restarts from the last committed wave.

Determinism contract (north_rule): the scheduled set + ordering per wave is
a pure function of (seed list, politeness budget, page table) — independent
of parallelism. Everything order-sensitive goes through explicit sort keys;
ties broken by surt_key.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warc2zim_spark.frontier.politeness import (
    env_cap,
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

SCORE_DECAY = 0.5

# scale guards for the broadcast fast paths (r06), read per call with
# env_cap: wave schedules (W2ZS_FETCH_BROADCAST_MAX) and exact-mode seen sets
# (W2ZS_SEEN_BROADCAST_MAX) are broadcast-joined while they provably fit
# (keys only, ~100 B/row → ≤ a few hundred MB at the default caps); beyond
# them the plain shuffle joins (and, for seen, the partitioned-bloom mode —
# the actual 10^10-key design point) take over. Env-overridable for cluster
# tiers with more executor memory.


# rows whose url failed canonicalization or host extraction (UDFs return
# null) — applied AFTER each frontier checkpoint so the filter reads the
# materialized columns: a Filter directly over a UDF Project makes Catalyst
# evaluate the UDF once for the predicate and once for the projection
def _valid():
    return F.col("surt_key").isNotNull() & F.col("host").isNotNull()


def _normalize_cols(frontier: DataFrame) -> DataFrame:
    """Attach surt_key + host (one UDF pass each, NO null filter — callers
    filter ``_VALID`` after a materialization barrier)."""
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
    ``crawl_wave`` re-attaches html at fetch time by streaming the page
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


def crawl_wave(
    frontier: DataFrame,
    seen: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    host_budget: int = 8,
    wave_budget: int = 1000,
    pages_keyed: DataFrame | None = None,
    seen_bloom: DataFrame | None = None,
    bloom_partitions: int = 32,
    policy: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One wave → (scheduled, next_frontier_candidates).

    ``frontier``: (url, surt_key, host, hops, score) candidates.
    ``seen``: one column ``surt_key``.
    ``pages``: the web-page table (url, html, ...) standing in for fetches.
    ``pages_keyed``: optional pre-built ``page_lookup(pages)`` — the NARROW
    (surt_key, page_url) decision table (cached by the crawl driver so the
    surt pass over the page table happens once, not per wave).
    ``bloom_partitions`` must match the partition count ``seen_bloom`` was
    built with (probe_bloom validates against the filter rows and raises on
    mismatch — a silent mismatch would pair candidates with the wrong
    bitmaps and re-crawl seen URLs every wave).
    ``policy``: optional pre-built ``host_policy(robots)`` (checkpointed
    once per crawl by the driver); derived from ``robots`` when absent.

    ``scheduled`` comes back materialized (an eager checkpoint), so every
    consumer — the driver's write and seen update, and the link extraction
    behind ``next_frontier_candidates`` — reads finished blocks.
    """
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
    scheduled = prioritize(polite, wave_budget=wave_budget).localCheckpoint(
        eager=True
    )
    # ^ checkpoint: the wave output is consumed by up to three jobs — the
    # driver's write and bloom update and the link extraction (whose result
    # materializes one wave LATER) — without the barrier each would recompute
    # the scheduling windows. Eager, because those jobs run concurrently: a
    # lazy checkpoint whose first readers are two threads' jobs at once can
    # deadlock the scheduler (one job marks the RDD checkpointed while the
    # other's stage walk holds its lock)

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
    if wave_budget is not None and wave_budget <= env_cap("W2ZS_FETCH_BROADCAST_MAX"):
        hits = F.broadcast(hits)
    fetched = hits.join(
        pages.select(F.col("url").alias("page_url"), "html"), "page_url"
    )
    links = (
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
            # in the frontier's _VALID filter.
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
    return scheduled, links


def run_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    checkpoint_dir: str,
    max_waves: int = 4,
    host_budget: int = 8,
    wave_budget: int = 1000,
    start_wave: int = 0,
    initial_seen: DataFrame | None = None,
    initial_frontier: DataFrame | None = None,
    seen_mode: str = "exact",
    bloom_partitions: int = 32,
    bloom_m_bits: int = 1 << 20,
    initial_bloom: DataFrame | None = None,
) -> DataFrame:
    """Run (or resume) the BFS crawl; returns the full schedule
    (wave, url, surt_key, host, hops, score) read back from the checkpoint
    directory — the durable artifact, matching what a restarted job sees.

    ``seen_mode="bloom"`` drives the seen-filter as the partitioned bloom
    (north_star headline): each wave's scheduled keys are ORed into the
    running filter's per-partition bitmaps (``add_to_bloom``), and the
    filter persists to parquet next to each wave (the next wave's probe and
    a resume read it back). The exact key set never materializes. A fresh
    crawl has no filter before wave 0, whose seen set is empty.
    ``bloom_m_bits`` is the per-partition capacity plan: at 16 bits/key,
    2^20 bits ≈ 65k keys/partition — size it to (expected keys) × 16 /
    partitions at production scale.

    Hot-host skew needs no option here: ``politeness_budget``'s partial
    ``WindowGroupLimit`` caps each host before the host exchange."""
    if seen_mode not in ("exact", "bloom"):
        raise ValueError(f"seen_mode must be 'exact' or 'bloom', got {seen_mode!r}")
    ckpt = Path(checkpoint_dir)
    ckpt.mkdir(parents=True, exist_ok=True)
    # spread the seed pass: seeds routinely arrive as ONE partition (a limit,
    # a collected list, a tiny file), which would run the surt/host UDF pass
    # — and everything until the first exchange — in a single task. A
    # round-robin repartition of the (tiny, urls-only) seed rows costs
    # nothing and restores wave-0 parallelism (r06; set identical, order
    # explicitly re-established by every downstream sort key).
    n_parts = spark.sparkContext.defaultParallelism
    if initial_frontier is None:
        initial_frontier = _normalize_cols(seeds.repartition(n_parts))
    frontier = initial_frontier.localCheckpoint(eager=True).filter(_valid())
    seen = initial_seen if initial_seen is not None else literal_frame(
        spark, [], "surt_key string"
    )
    # exact-mode seen keys are counted as they accumulate (each wave adds
    # exactly n_scheduled NEW keys — the anti-join guarantees disjointness),
    # so the wave can broadcast the probe side while it provably fits
    seen_count = initial_seen.count() if initial_seen is not None else 0
    # bloom mode starts from the persisted filter, or from one rebuilt from
    # a resume's seen keys; a fresh crawl has none until wave 0's update
    seen_bloom = initial_bloom
    if seen_mode == "bloom" and seen_bloom is None and initial_seen is not None:
        seen_bloom = build_bloom(
            seen, num_partitions=bloom_partitions, m_bits=bloom_m_bits
        ).localCheckpoint(eager=True)
    pages_keyed = page_lookup(pages).cache()
    # robots aggregated once per crawl: every wave's gates broadcast
    # projections of these finished blocks
    policy = host_policy(robots).localCheckpoint(eager=True)
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import Observation

    # overlap independent driver-submitted jobs (guide §2.6): actions are
    # only sequential because the driver calls them sequentially. Per wave,
    # the schedule's parquet write, the bloom update and the next frontier's
    # checkpoint all read the SAME materialized schedule and depend on
    # nothing else of each other — the pool runs the write and the update
    # beside the checkpoint, so the link extraction back-fills the executor
    # slots their tails leave idle and the update leaves the wave's critical
    # path. The lookup-cache build likewise overlaps wave-0's scheduling
    # chain (it is first needed only at the mid-wave fetch join). Pool jobs
    # carry the caller's job group and description, like the calling
    # thread's.
    with ThreadPoolExecutor(max_workers=3) as pool:

        def submit(fn):
            return pool.submit(inheritable_thread_target(spark)(fn))

        def update_bloom(prior, keys, path):
            add_to_bloom(
                prior, keys,
                num_partitions=bloom_partitions, m_bits=bloom_m_bits,
            ).write.mode("overwrite").parquet(path)
            return read_bloom(spark, path)

        warm_lookup = submit(pages_keyed.count)
        bloom_fut = None
        for wave in range(start_wave, max_waves):
            if bloom_fut is not None:
                seen_bloom = bloom_fut.result()
            seen_for_wave = (
                F.broadcast(seen)
                if seen_count <= env_cap("W2ZS_SEEN_BROADCAST_MAX")
                else seen
            )
            scheduled, next_frontier = crawl_wave(
                frontier, seen_for_wave, pages, robots,
                host_budget=host_budget, wave_budget=wave_budget,
                pages_keyed=pages_keyed, seen_bloom=seen_bloom,
                bloom_partitions=bloom_partitions, policy=policy,
            )
            out = scheduled.select(
                F.lit(wave).alias("wave"), "url", "surt_key", "host", "hops",
                F.round("score", 9).alias("score"),
            )
            # wave metrics ride the write job as an Observation (r06): count
            # + distinct hosts (size(collect_set) ≡ countDistinct) are
            # collected while the rows stream to parquet, replacing the
            # separate aggregation job per wave; out needs no cache — its
            # other consumers (the seen update) are column projections of
            # the already-checkpointed schedule
            obs = Observation(f"wave={wave}")
            observed = out.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.size(F.collect_set("host")).alias("hosts"),
            )
            # idempotent wave write (overwrite → safe re-run after partial
            # failure), submitted to the pool so the next-frontier
            # checkpoint below runs concurrently
            write_fut = submit(
                lambda df=observed, w=wave: df.write.mode("overwrite").parquet(
                    str(ckpt / f"wave={w}")
                )
            )
            if seen_mode == "bloom":
                # the filter persists once per wave (north_rule: resumable
                # without re-reading every wave's keys); an empty wave
                # persists its unchanged filter. Submitted before the wave's
                # size is known, so the update overlaps the write and the
                # checkpoint below
                bloom_fut = submit(
                    lambda prior=seen_bloom, keys=out.select("surt_key"), w=wave:
                    update_bloom(prior, keys, str(ckpt / f"seen_bloom_wave={w}"))
                )
            # eager checkpoint: one job (a lazy checkpoint + count is two
            # under AQE), concurrent with the pool's jobs above
            frontier = next_frontier.localCheckpoint(eager=True).filter(_valid())
            write_fut.result()
            stats = obs.get
            n_scheduled = stats["n"]
            metrics = {
                "wave": wave,
                "scheduled": n_scheduled,
                "hosts": stats["hosts"],
            }
            (ckpt / f"wave={wave}._metrics.json").write_text(json.dumps(metrics))
            (ckpt / f"wave={wave}._SUCCESS_WAVE").write_text("ok")
            if n_scheduled == 0:
                break
            if seen_mode == "exact":
                # no distinct (r06): this wave's keys are disjoint from seen
                # by construction (they survived the anti-join) and unique
                # within the wave (dedup groupBy), so the union IS the exact
                # seen set — the distinct was one full seen-set shuffle per
                # wave for nothing
                seen = seen.union(out.select("surt_key")).localCheckpoint(
                    eager=True
                )
                seen_count += n_scheduled
        if bloom_fut is not None:
            bloom_fut.result()
        warm_lookup.result()
    pages_keyed.unpersist()
    # committed waves only: a wave dir whose write finished but whose marker
    # never landed (crash in between) is not part of the crawl
    waves = sorted(
        int(p.name.split("=")[1]) for p in ckpt.glob("wave=*")
        if p.is_dir() and (ckpt / f"{p.name}._SUCCESS_WAVE").exists()
    )
    return (
        spark.read.parquet(*[str(ckpt / f"wave={w}") for w in waves])
        if waves
        else literal_frame(spark, [], "wave int, url string, surt_key string, host string, hops int, score double")
    )


def last_committed_wave(checkpoint_dir: str) -> int:
    """Resume point: highest wave with a success marker, or -1."""
    ckpt = Path(checkpoint_dir)
    done = [
        int(p.name.split("=")[1].split(".")[0])
        for p in ckpt.glob("wave=*._SUCCESS_WAVE")
    ]
    return max(done) if done else -1


def resume_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    checkpoint_dir: str,
    max_waves: int = 4,
    **kwargs,
) -> DataFrame:
    """Restart after interruption: rebuild seen-set + frontier from committed
    waves, continue from the next wave (north_rule resumability)."""
    last = last_committed_wave(checkpoint_dir)
    if last < 0:
        return run_crawl(spark, seeds, pages, robots, checkpoint_dir,
                         max_waves=max_waves, **kwargs)
    ckpt = Path(checkpoint_dir)
    done = spark.read.parquet(*[str(ckpt / f"wave={w}") for w in range(last + 1)])
    seen = done.select("surt_key").distinct()
    # bloom mode: resume from the persisted FILTER (written beside each
    # wave) instead of rebuilding it from every committed wave's keys — but
    # only a completely written one: the update runs beside the wave's
    # write and marker, so a crash can leave the directory partial (no
    # _SUCCESS); run_crawl then rebuilds the filter from ``seen``
    if kwargs.get("seen_mode") == "bloom":
        bloom_path = ckpt / f"seen_bloom_wave={last}"
        if (bloom_path / "_SUCCESS").exists():
            kwargs = {**kwargs, "initial_bloom": read_bloom(spark, str(bloom_path))}
    # recompute the frontier produced by the last committed wave
    _, frontier = crawl_wave(
        done.filter(F.col("wave") == last).select("url", "surt_key", "host", "hops", "score"),
        seen.join(done.filter(F.col("wave") == last).select("surt_key"), "surt_key", "left_anti"),
        pages, robots, **{k: v for k, v in kwargs.items() if k in ("host_budget", "wave_budget")},
    )
    return run_crawl(
        spark, seeds, pages, robots, checkpoint_dir, max_waves=max_waves,
        start_wave=last + 1, initial_seen=seen, initial_frontier=frontier, **kwargs,
    )
