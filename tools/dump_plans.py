"""Dump `.explain("formatted")` for the headline queries into plans/<tag>/.

Usage: python tools/dump_plans.py <repo_root> <out_dir> <suffix>

The static queries get their full plan; w_frontier (an iterative driver
loop — no single plan exists) is decomposed into its two per-wave
sub-plans: the scheduling chain (dedup → seen → robots → politeness →
prioritize) and the fetch + link-extraction chain.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    root, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    sys.path.insert(0, root)
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from warc2zim_spark.session import get_spark

    os.makedirs(out_dir, exist_ok=True)
    sf = "/root/testdata/sf0.1"
    web = entry._web(sf)
    spark = get_spark("plans", master="local[4]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    for name in ("w_items", "w_text_extract", "w_rewrite_mode",
                 "d_minhash_pairs", "e_ann_brute", "t_pricing_summary"):
        with open(f"{out_dir}/{name}_{suffix}.txt", "w") as fh:
            fh.write(plan_of(qs[name](spark, sf)))

    # frontier decomposition (bench-scale budgets, wave 0: its empty seen set
    # is pruned at plan time). The scheduling chain is rebuilt from the same
    # operators crawl_wave composes, WITHOUT the final localCheckpoint — a
    # checkpointed frame explains as a bare RDD scan and would hide the chain.
    from warc2zim_spark.frontier.crawl import (
        _normalize_cols, _valid, crawl_wave, dedup_frontier, page_lookup,
    )
    from warc2zim_spark.frontier.politeness import (
        politeness_budget, prioritize, robots_allowed,
    )
    from warc2zim_spark.frontier.seenfilter import unseen_exact
    from warc2zim_spark.functions.expressions import literal_frame

    pages = spark.read.parquet(f"{web}/pages.parquet")
    robots = spark.read.parquet(f"{web}/robots.parquet")
    seeds = pages.limit(20_000).select(
        "url", F.lit(1.0).alias("score"), F.lit(0).alias("hops")
    )
    frontier = _normalize_cols(seeds).localCheckpoint(eager=True).filter(_valid())
    seen = literal_frame(spark, [], "surt_key string")
    best = dedup_frontier(frontier)
    sched_chain = prioritize(
        politeness_budget(
            robots_allowed(unseen_exact(best, seen), robots),
            robots, host_budget=500,
        ),
        wave_budget=100_000,
    )
    with open(f"{out_dir}/w_frontier_schedule_{suffix}.txt", "w") as fh:
        fh.write(plan_of(sched_chain))
    pages_keyed = page_lookup(pages)
    _, next_frontier = crawl_wave(
        frontier, seen, pages, robots, host_budget=500, wave_budget=100_000,
        pages_keyed=pages_keyed,
    )
    with open(f"{out_dir}/w_frontier_links_{suffix}.txt", "w") as fh:
        fh.write(plan_of(next_frontier))
    spark.stop()


if __name__ == "__main__":
    main()
