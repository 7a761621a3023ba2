"""Attribute the scaling probe's sub-linear term: engine vs host.

Round-5 answer to the r04 verdict's question "which stage carries the
sub-linear term, and is the wave barrier the cause?" — three measurements,
all engine-free where they need to be:

1. ``evlog items|crawl CPUS`` — run the exact bench scaling stage under the
   real ``get_spark`` session with Spark event logs on, then account wall
   time into per-stage task-slot utilization (span vs sum(run)/cpus), JVM
   CPU vs off-CPU (Python-worker wait), GC, and 1-task serial stages.
2. ``jvm CPUS`` — an engine-free whole-stage-codegen workload (iterated
   xxhash64 over the same parquet scan, no Python, no shuffle): the HOST's
   parallel-scaling ceiling for JVM work.
3. ``py`` — an engine-free ``multiprocessing.Pool`` running the surt kernel
   (fixed work per job, jobs scaled with procs): the HOST's ceiling for
   pure-Python work, which bounds every pandas-UDF stage.

Usage:
    python tools/scaling_attribution.py evlog items 16
    python tools/scaling_attribution.py evlog crawl 4
    python tools/scaling_attribution.py jvm 16
    python tools/scaling_attribution.py py

Round-5 measured results are written up in BENCH/BASELINE.md ("Round-5:
the sub-linear term is the host, not the engine").
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _agg(df):
    from pyspark.sql import functions as F

    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(F.struct(*df.columns)), F.lit(1_000_000_007))).alias("h"),
    )


def _big_inputs(spark, web):
    big = os.path.join(web, "bench_big_k20")
    if not os.path.exists(os.path.join(big, "_DONE")):
        raise SystemExit("run `python bench.py --scaling` once first to materialize bench_big_k20")
    return big


def _items_frame(spark, big):
    from warc2zim_spark.operators.items import items_table
    from warc2zim_spark.operators.records import content_records

    records_big = spark.read.parquet(f"{big}/records")
    return lambda: items_table(content_records(records_big))


def _crawl_frame(spark, big, web):
    from pyspark.sql import functions as F

    from warc2zim_spark.frontier.politeness import politeness_budget, prioritize, robots_allowed
    from warc2zim_spark.frontier.seenfilter import unseen_exact
    from warc2zim_spark.functions import udfs

    pages_big = spark.read.parquet(f"{big}/pages")
    robots = spark.read.parquet(f"{web}/robots.parquet")

    from warc2zim_spark.frontier.crawl import _normalize_cols, _valid

    def mk():
        # mirrors bench.py's crawl stage (engine deferred-filter pattern)
        candidates = (
            _normalize_cols(pages_big.select("url"))
            .withColumn("hops", F.pmod(F.xxhash64("surt_key"), F.lit(4)).cast("int"))
            .withColumn("score", F.pmod(F.xxhash64("host", "surt_key"), F.lit(1000)) / 1000.0)
            .localCheckpoint(eager=False)
            .filter(_valid())
        )
        seen = pages_big.limit(300_000).select(udfs.surt_key(F.col("url")).alias("surt_key"))
        unseen = unseen_exact(candidates, seen)
        allowed = robots_allowed(unseen, robots)
        polite = politeness_budget(allowed, robots, host_budget=100)
        return prioritize(polite, wave_budget=500_000)

    return mk


def evlog(stage_name: str, cpus: int) -> dict:
    import __spark_entry__ as entry
    from warc2zim_spark.session import get_spark

    evdir = f"/tmp/spark-events-{cpus}"
    os.makedirs(evdir, exist_ok=True)
    for f in glob.glob(evdir + "/*"):
        shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)
    web = entry._web(SF_DIR)
    spark = get_spark(
        "scaling-attrib",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    big = _big_inputs(spark, web)
    mk = _items_frame(spark, big) if stage_name == "items" else _crawl_frame(spark, big, web)

    _agg(mk()).collect()  # trial 0: python-worker fork + codegen warmup
    t_start_ms = time.time() * 1000
    t0 = time.time()
    _agg(mk()).collect()
    wall = time.time() - t0
    spark.stop()

    evs = sorted(glob.glob(evdir + "/**/events_*", recursive=True) or glob.glob(evdir + "/*"))
    ev = [p for p in evs if os.path.isfile(p)][-1]
    stages: dict[int, dict] = {}
    for line in open(ev):
        e = json.loads(line)
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        if e["Task Info"]["Launch Time"] < t_start_ms:
            continue
        m = e.get("Task Metrics") or {}
        d = stages.setdefault(
            e["Stage ID"],
            {"run": 0.0, "gc": 0.0, "cpu": 0.0, "tasks": 0, "launch_min": None, "finish_max": None},
        )
        d["run"] += m.get("Executor Run Time", 0) / 1e3
        d["cpu"] += m.get("Executor CPU Time", 0) / 1e9
        d["gc"] += m.get("JVM GC Time", 0) / 1e3
        d["tasks"] += 1
        ti = e["Task Info"]
        lt, ft = ti["Launch Time"], ti["Finish Time"]
        d["launch_min"] = lt if d["launch_min"] is None else min(d["launch_min"], lt)
        d["finish_max"] = ft if d["finish_max"] is None else max(d["finish_max"], ft)

    out = {"stage": stage_name, "cpus": cpus, "wall_s": round(wall, 2), "stages": []}
    tot_run = 0.0
    for sid in sorted(stages):
        d = stages[sid]
        tot_run += d["run"]
        span = (d["finish_max"] - d["launch_min"]) / 1e3
        out["stages"].append(
            {
                "stage": sid,
                "tasks": d["tasks"],
                "sum_run_s": round(d["run"], 1),
                "sum_jvm_cpu_s": round(d["cpu"], 1),
                "sum_gc_s": round(d["gc"], 1),
                "span_s": round(span, 2),
                "ideal_s": round(d["run"] / cpus, 2),
            }
        )
    out["sum_run_s"] = round(tot_run, 1)
    out["ideal_wall_s"] = round(tot_run / cpus, 2)
    return out


def jvm_ceiling(cpus: int) -> dict:
    """Engine-free JVM control: 64-deep xxhash64 chain over the big records
    scan (column-pruned, 4x row-exploded, no Python, no shuffle). Depth is
    kept under codegen's huge-method limit — a 200-deep chain falls back to
    interpreted mode and measures GC, not CPU (observed: 0.45 'efficiency')."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from warc2zim_spark.session import get_spark

    web = entry._web(SF_DIR)
    spark = get_spark("jvm-ceiling", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    big = _big_inputs(spark, web)
    rec = spark.read.parquet(f"{big}/records").select("url", "payload_len")
    rec = rec.withColumn("rep", F.explode(F.array(*[F.lit(i) for i in range(4)])))

    def job():
        c = F.col("url")
        h = F.xxhash64("url", "payload_len", "rep")
        for _ in range(64):
            h = F.xxhash64(h, c)
        return rec.select(F.sum(F.pmod(h, F.lit(1_000_000_007))).alias("s")).collect()[0]["s"]

    job()
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        job()
        best = min(best, time.time() - t0)
    spark.stop()
    return {"mode": "jvm", "cpus": cpus, "secs": round(best, 2)}


def _surt_work(seed):
    from warc2zim_spark.kernels import surt

    tot = 0
    for i in range(120_000):
        k = surt.canonicalize(f"https://sub{i % 97}.example{seed}.com/path/{i}?b={i % 13}&a=1")
        tot += len(k)
    return tot


def py_ceiling() -> dict:
    """Engine-free Python control: a multiprocessing pool running the surt
    kernel, fixed work per job, job count scaled with procs — the host's
    throughput-scaling ceiling for any Python-worker-bound stage."""
    import multiprocessing as mp

    work = _surt_work
    out = {"mode": "py"}
    for procs in (4, 16):
        n_jobs = procs * 4
        with mp.Pool(procs) as p:
            p.map(work, range(procs))  # warm
        best = float("inf")
        for _ in range(2):
            with mp.Pool(procs) as p:
                t0 = time.time()
                p.map(work, range(n_jobs))
                best = min(best, time.time() - t0)
        out[f"py_{procs}"] = {
            "procs": procs,
            "jobs": n_jobs,
            "secs": round(best, 2),
            "throughput_calls_s": round(n_jobs * 120_000 / best),
        }
    e = out["py_4"]["throughput_calls_s"] and out["py_16"]["throughput_calls_s"] / out["py_4"]["throughput_calls_s"] / 4
    out["efficiency_4_to_16"] = round(e, 3)
    return out


def main() -> None:
    mode = sys.argv[1]
    if mode == "evlog":
        print(json.dumps(evlog(sys.argv[2], int(sys.argv[3]))))
    elif mode == "jvm":
        print(json.dumps(jvm_ceiling(int(sys.argv[2]))))
    elif mode == "py":
        print(json.dumps(py_ceiling()))
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
