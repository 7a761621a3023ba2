"""The traced run: each workload re-driven layer by layer through the
engine's public functions, in the order ``run_crawl`` / ``run_pipeline``
call them, with every layer's output materialized before the next span
starts, so a span's duration is that layer's self time. Spark's event log
(enabled for the traced session only) supplies task time, shuffle bytes,
Python-worker bytes and task skew; jobs and tasks are assigned to spans by
time window, which also catches jobs submitted from other threads.

Spans are recorded from the benchmark around calls into the engine; the
engine itself is not instrumented.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

CRAWL_LAYERS = [
    "frontier.crawl.page_lookup",
    "frontier.crawl.normalize",
    "frontier.seenfilter.unseen",
    "frontier.seenfilter.bloom_update",
    "frontier.politeness.robots_allowed",
    "frontier.politeness.politeness_budget",
    "frontier.politeness.prioritize",
    "frontier.crawl.fetch",
    "functions.udfs.extract_wave_links",
    "frontier.crawl.wave_write",
]
CONVERT_LAYERS = [
    "operators.records.content_records",
    "operators.gather.expected_items",
    "operators.redirects",
    "operators.quarantine",
    "operators.items.items_table",
    "operators.items.revisit_aliases",
    "operators.metadata",
    "plans.pipeline.sinks",
    "functions.udfs.extract_text_from_bytes",
]
LAYERS = CRAWL_LAYERS + CONVERT_LAYERS
# layers that run Python UDFs (pandas UDFs or applyInPandas)
UDF_LAYERS = {
    "frontier.crawl.page_lookup",
    "frontier.crawl.normalize",
    "frontier.seenfilter.unseen",
    "frontier.seenfilter.bloom_update",
    "functions.udfs.extract_wave_links",
    "operators.records.content_records",
    "operators.redirects",
    "operators.quarantine",
    "operators.items.revisit_aliases",
    "operators.metadata",
    "functions.udfs.extract_text_from_bytes",
}
FUNNEL = ["candidates", "unseen", "allowed", "polite", "scheduled", "fetched", "links"]

_PER_LAYER_UNITS = {
    "self_s": "s", "task_s": "s", "rows_out": "count",
    "shuffle_mb": "MB", "python_mb": "MB", "skew": "ratio",
}
_WORKLOAD_UNITS = {
    "spark.jobs": "count",
    "spark.jobs_per_wave": "jobs/wave",
    "spark.error_lines": "count",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
    "host.calib_s": "s",
}
_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    units: dict[str, str] = {}
    for layer in LAYERS:
        for key, unit in _PER_LAYER_UNITS.items():
            if key == "python_mb" and layer not in UDF_LAYERS:
                continue
            units[f"{layer}.{key}"] = unit
    units.update(_WORKLOAD_UNITS)
    for stage in FUNNEL:
        units[f"frontier.funnel.{stage}"] = "count"
    for base, stage in zip(FUNNEL, FUNNEL[1:]):
        units[f"frontier.funnel.{stage}_of_{base}"] = "ratio"
    return units


class Spans:
    """Flat layer spans (name, start, end in epoch ms, rows out)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int]] = []

    @contextmanager
    def span(self, layer: str):
        out = {"rows": 0}
        t0 = time.time() * 1000
        yield out
        self.spans.append((layer, t0, time.time() * 1000, int(out["rows"])))


def _mat(df):
    """Materialize ``df`` in one job; returns (checkpointed frame, rows)."""
    ck = df.localCheckpoint(eager=False)
    return ck, ck.count()


def _valid():
    return F.col("surt_key").isNotNull() & F.col("host").isNotNull()


# -- crawl --------------------------------------------------------------------

def traced_crawl(spark, tables, wl, ckpt: Path, spans: Spans) -> dict[str, int]:
    """``run_crawl`` (fresh start) layer by layer; returns the funnel."""
    from warc2zim_spark.frontier.crawl import page_lookup
    from warc2zim_spark.frontier.politeness import (
        politeness_budget,
        prioritize,
        robots_allowed,
    )
    from warc2zim_spark.frontier.seenfilter import (
        build_bloom,
        merge_blooms,
        probe_bloom,
        unseen_exact,
    )
    from warc2zim_spark.functions import udfs

    bloom_parts, bloom_bits = wl.bloom_partitions, wl.bloom_m_bits
    pages, robots = tables["pages"], tables["robots"]
    ckpt.mkdir(parents=True, exist_ok=True)
    funnel = dict.fromkeys(FUNNEL, 0)

    with spans.span("frontier.crawl.page_lookup") as s:
        lookup = page_lookup(pages).cache()
        s["rows"] = lookup.count()
    seen = spark.createDataFrame([], "surt_key string")
    bloom = None
    if wl.seen_mode == "bloom":
        with spans.span("frontier.seenfilter.bloom_update") as s:
            bloom = build_bloom(
                seen, num_partitions=bloom_parts, m_bits=bloom_bits
            ).localCheckpoint(eager=True)
            s["rows"] = bloom_parts
    links, n_links = None, 0
    for wave in range(wl.max_waves):
        with spans.span("frontier.crawl.normalize") as s:
            if links is None:
                seeds = tables["seeds"].repartition(spark.sparkContext.defaultParallelism)
                frontier, _ = _mat(
                    seeds.withColumn("surt_key", udfs.surt_key(F.col("url")))
                    .withColumn("host", udfs.host_of(F.col("url")))
                )
                frontier = frontier.filter(_valid())
                funnel["candidates"] += frontier.count()
            else:
                frontier = links.filter(_valid())
                funnel["candidates"] += n_links
            best, s["rows"] = _mat(
                frontier.groupBy("surt_key")
                .agg(
                    F.min("hops").alias("hops"),
                    F.max("score").alias("score"),
                    F.min("url").alias("url"),
                )
                .withColumn("host", udfs.host_of(F.col("url")))
            )
        with spans.span("frontier.seenfilter.unseen") as s:
            if bloom is not None:
                unseen = probe_bloom(best, bloom, num_partitions=bloom_parts, keep="miss")
            else:
                unseen = unseen_exact(best, F.broadcast(seen))
            unseen, s["rows"] = _mat(unseen)
            funnel["unseen"] += s["rows"]
        with spans.span("frontier.politeness.robots_allowed") as s:
            allowed, s["rows"] = _mat(robots_allowed(unseen, robots))
            funnel["allowed"] += s["rows"]
        with spans.span("frontier.politeness.politeness_budget") as s:
            polite, s["rows"] = _mat(
                politeness_budget(allowed, robots, host_budget=wl.host_budget)
            )
            funnel["polite"] += s["rows"]
        with spans.span("frontier.politeness.prioritize") as s:
            scheduled, s["rows"] = _mat(prioritize(polite, wave_budget=wl.wave_budget))
            funnel["scheduled"] += s["rows"]
        with spans.span("frontier.crawl.fetch") as s:
            hits = F.broadcast(scheduled.join(lookup, "surt_key"))
            fetched, s["rows"] = _mat(
                hits.join(pages.select(F.col("url").alias("page_url"), "html"), "page_url")
            )
            funnel["fetched"] += s["rows"]
        with spans.span("functions.udfs.extract_wave_links") as s:
            links, s["rows"] = _mat(
                fetched.filter(F.col("html").isNotNull())
                .select(
                    "hops", "score",
                    F.explode_outer(
                        udfs.extract_wave_links(F.col("html"), F.col("url"))
                    ).alias("l"),
                )
                .select(
                    F.col("l.url").alias("url"),
                    (F.col("hops") + 1).alias("hops"),
                    (F.col("score") * 0.5).alias("score"),
                    F.col("l.surt_key").alias("surt_key"),
                    F.col("l.host").alias("host"),
                )
            )
            n_links = links.filter(_valid()).count()
            funnel["links"] += n_links
        with spans.span("frontier.crawl.wave_write") as s:
            out = scheduled.select(
                F.lit(wave).alias("wave"), "url", "surt_key", "host", "hops",
                F.round("score", 9).alias("score"),
            )
            obs = Observation(f"wave={wave}")
            out.observe(
                obs, F.count(F.lit(1)).alias("n"), F.size(F.collect_set("host")).alias("hosts")
            ).write.mode("overwrite").parquet(str(ckpt / f"wave={wave}"))
            s["rows"] = obs.get["n"]
            (ckpt / f"wave={wave}._metrics.json").write_text(
                json.dumps({"wave": wave, "scheduled": s["rows"], "hosts": obs.get["hosts"]})
            )
            (ckpt / f"wave={wave}._SUCCESS_WAVE").write_text("ok")
            if bloom is None and s["rows"]:
                # exact mode commits the wave's keys to the seen set here
                seen = seen.union(out.select("surt_key")).localCheckpoint(eager=True)
        if s["rows"] == 0:
            break
        if bloom is not None:
            with spans.span("frontier.seenfilter.bloom_update") as s:
                wave_bloom = build_bloom(
                    out.select("surt_key"), num_partitions=bloom_parts, m_bits=bloom_bits
                )
                bloom = merge_blooms(bloom, wave_bloom).localCheckpoint(eager=True)
                bloom.write.mode("overwrite").parquet(str(ckpt / f"seen_bloom_wave={wave}"))
                s["rows"] = bloom_parts
    lookup.unpersist()
    return funnel


# -- convert ------------------------------------------------------------------

def traced_convert(spark, tables, web: Path, out: Path, spans: Spans) -> None:
    """``run_pipeline(continue_on_error=True)`` with default options, then
    the text sink, layer by layer."""
    from warc2zim_spark.functions import udfs
    from warc2zim_spark.operators.favicon import best_illustration
    from warc2zim_spark.operators.gather import (
        expected_items,
        main_page_candidate,
        main_page_resolved,
    )
    from warc2zim_spark.operators.items import items_table, revisit_aliases
    from warc2zim_spark.operators.metadata import (
        items_with_static,
        static_asset_items,
        zim_metadata,
    )
    from warc2zim_spark.operators.quarantine import (
        exclude_failed_records,
        quarantined_records,
    )
    from warc2zim_spark.operators.records import content_records, load_records
    from warc2zim_spark.operators.redirects import (
        expected_with_redirects,
        kept_redirects,
        redirect_edges,
    )

    out.mkdir(parents=True, exist_ok=True)
    records = load_records(spark, str(web))
    with spans.span("operators.records.content_records") as s:
        content = content_records(records).cache()
        s["rows"] = content.count()
    with spans.span("operators.gather.expected_items") as s:
        expected = expected_items(content).cache()
        s["rows"] = expected.count()
    with spans.span("operators.redirects") as s:
        edges = redirect_edges(content).cache()
        edges.count()
        redirects, s["rows"] = _mat(kept_redirects(edges, expected))
        full_expected, _ = _mat(expected_with_redirects(edges, expected))
    with spans.span("operators.quarantine") as s:
        fails = quarantined_records(content_records(records, with_head=True)).cache()
        fails.write.mode("overwrite").parquet(str(out / "fails"))
        s["rows"] = n_fails = fails.count()
    with spans.span("operators.items.items_table") as s:
        source = exclude_failed_records(content, fails) if n_fails else content
        items = items_table(source, None).cache()
        s["rows"] = items.count()
    with spans.span("operators.items.revisit_aliases") as s:
        aliases, s["rows"] = _mat(revisit_aliases(content, items))
    with spans.span("plans.pipeline.sinks") as s:
        obs = Observation("items_sink")
        items_with_static(items, static_asset_items(spark, None)).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum("payload_len").alias("bytes"),
            F.approx_count_distinct("mime").alias("mimes"),
        ).write.mode("overwrite").parquet(str(out / "items"))
        redirects.write.mode("overwrite").parquet(str(out / "redirects"))
        aliases.write.mode("overwrite").parquet(str(out / "aliases"))
        full_expected.write.mode("overwrite").parquet(str(out / "expected"))
        n_items = s["rows"] = obs.get["rows"]
    with spans.span("operators.metadata") as s:
        main_df = main_page_candidate(content)
        resolved = main_page_resolved(content, main_df).limit(1).collect()[0]
        best = best_illustration(
            content_records(records, with_payload=True),
            spark.createDataFrame(
                [(resolved.zim_path, resolved.url)], "zim_path string, url string"
            ),
        )
        illu = best.select("illustration").limit(1).collect()
        meta_args = {"illustration": bytes(illu[0].illustration)} if illu else {}
        meta = zim_metadata(
            content, records, name="warc2zim-spark-output", main=main_df, **meta_args
        )
        extra = spark.createDataFrame(
            [("Main-Path", resolved.zim_path), ("Counter-Items", str(n_items))],
            "name string, value string",
        )
        meta, s["rows"] = _mat(meta.unionByName(extra))
        meta.write.mode("overwrite").parquet(str(out / "metadata"))
        static_asset_items(spark, None).count()
    with spans.span("functions.udfs.extract_text_from_bytes") as s:
        obs = Observation("text_sink")
        tables["pages"].select(
            "url", udfs.extract_text_from_bytes(F.col("html")).alias("text")
        ).observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(str(out / "text"))
        s["rows"] = obs.get["rows"]
    content.unpersist()
    fails.unpersist()
    items.unpersist()
    expected.unpersist()
    edges.unpersist()


# -- event-log rollup ---------------------------------------------------------

def read_event_log(path: Path) -> tuple[list[float], list[dict]]:
    """→ (job submission times, tasks) from a plain-JSON Spark event log.
    Each task: launch/finish (epoch ms), run_ms, shuffle_b, python_b."""
    jobs, tasks = [], []
    with open(path, "rb") as f:
        for line in f:
            if b'"SparkListenerJobStart"' in line[:60]:
                jobs.append(json.loads(line)["Submission Time"])
            elif b'"SparkListenerTaskEnd"' in line[:60]:
                e = json.loads(line)
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                python_b = sum(
                    int(a.get("Update", 0))
                    for a in info.get("Accumulables", [])
                    if a.get("Name") in _PYTHON_BYTES
                )
                tasks.append({
                    "launch": info["Launch Time"],
                    "finish": info["Finish Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_b": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "python_b": python_b,
                })
    return jobs, tasks


def layer_table(spans: Spans, tasks: list[dict]) -> dict[str, dict[str, float]]:
    """Per layer: self time, task time, rows out, shuffle and Python-worker
    MB, and max/median task duration. Layers with no span report zeros."""
    rows = {layer: {"self_s": 0.0, "task_s": 0.0, "rows_out": 0, "shuffle_mb": 0.0,
                    "python_mb": 0.0, "skew": 0.0} for layer in LAYERS}
    durations: dict[str, list[float]] = {layer: [] for layer in LAYERS}
    for layer, start, end, n in spans.spans:
        row = rows[layer]
        row["self_s"] += (end - start) / 1000.0
        row["rows_out"] += n
    for task in tasks:
        for layer, start, end, _ in spans.spans:
            if start <= task["launch"] <= end:
                row = rows[layer]
                row["task_s"] += task["run_ms"] / 1000.0
                row["shuffle_mb"] += task["shuffle_b"] / 2**20
                row["python_mb"] += task["python_b"] / 2**20
                durations[layer].append(task["finish"] - task["launch"])
                break
    for layer, d in durations.items():
        if d:
            rows[layer]["skew"] = max(d) / max(statistics.median(d), 1.0)
    return rows


def jobs_in(jobs: list[float], start: float, end: float) -> int:
    return sum(1 for t in jobs if start <= t <= end)
