"""Crawl-and-convert benchmark for the warc2zim_spark engine.

    python3 perfbench/run.py --workload crawl --seed 7 --seconds 5 --trace 0

Builds the workload's inputs from ``--seed`` (cached, outside every timed
region), starts one Spark driver at ``local[nproc]``, and runs the workload
as a closed loop of whole jobs for ``--seconds``: each call goes through the
engine's public entry points (``run_crawl``; ``run_pipeline`` plus the
``extract_text_from_bytes`` text sink) and its output is checked against an
oracle computed independently of the engine.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced call and one traced call (perfbench/layers.py) and prints the
per-layer metrics. Every call prints one JSON record line (with the host
calibration stamp beside it); the last stdout line is the result object.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
WORK = HERE / ".work"

SETUP_REPS = 5
DRIVER_MEM = "2g"  # far below physical memory; the engine defaults to 16g


@dataclasses.dataclass(frozen=True)
class Crawl:
    pages: int
    n_seeds: int
    max_waves: int
    host_budget: int
    wave_budget: int
    seen_mode: str
    # bloom sized from outside the engine, as run_crawl documents: far above
    # 16 bits per scheduled key, so a false positive cannot drop a URL
    bloom_partitions: int = 4
    bloom_m_bits: int = 1 << 16


@dataclasses.dataclass(frozen=True)
class Convert:
    pages: int


WORKLOADS: dict[str, Crawl | Convert] = {
    # per-row frontier work (thousands of URLs per wave, a 30% hot host held
    # to its host budget) and per-wave fixed cost (3 waves, bloom seen filter)
    "crawl": Crawl(pages=5000, n_seeds=2500, max_waves=3, host_budget=300,
                   wave_budget=3000, seen_mode="bloom"),
    # WARC records → item/redirect/alias/metadata sinks + text sink
    "convert": Convert(pages=2000),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "first_output_s": "s",
    "peak_rss_mb": "MB",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env() -> None:
    """Keep Spark, its Python workers and temp files inside the checkout,
    and size the Spark driver below physical memory."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM otherwise writes its perf-counter file to /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_spark(event_log: Path | None = None):
    from warc2zim_spark.session import get_spark

    n = _cpus()
    conf = {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # a fixed heap and young generation: the JVM's peak RSS then follows
        # the data it retains, not G1's timing-dependent heap resizing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -Xms{DRIVER_MEM} -Xmn512m"
        ),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def register(spark, inputs, wl: Crawl | Convert) -> dict:
    """Input registration: the generated tables as DataFrames."""
    tables = {
        "pages": spark.read.parquet(str(inputs.web / "pages.parquet")),
        "robots": spark.read.parquet(str(inputs.web / "robots.parquet")),
    }
    if isinstance(wl, Crawl):
        tables["seeds"] = spark.read.parquet(str(inputs.crawl_seeds(wl.n_seeds)))
    return tables


def warm_udfs(spark, tables, wl: Crawl | Convert) -> None:
    """Start the Python workers and import the workload's UDF kernels."""
    from pyspark.sql import functions as F

    from probes import calibrate

    from warc2zim_spark.functions import udfs

    sample = tables["pages"].limit(256).repartition(spark.sparkContext.defaultParallelism)
    if isinstance(wl, Crawl):
        cols = [udfs.surt_key(F.col("url")), udfs.host_of(F.col("url")),
                udfs.extract_wave_links(F.col("html"), F.col("url"))]
    else:
        cols = [udfs.surt_key(F.col("url")), udfs.extract_text_from_bytes(F.col("html"))]
    sample.select(*cols).write.format("noop").mode("overwrite").save()
    calibrate(spark)  # the stamp is taken warm, like the calls it sits beside


def setup(inputs, wl: Crawl | Convert, event_log: Path | None, reps: int):
    """Session start, input registration and UDF warm-up, ``reps`` times:
    the first start launches the JVM; later ones open a new session on it.
    → (spark, tables, per-rep seconds)."""
    spark, tables, times = None, None, []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark = start_spark(event_log) if spark is None else spark.newSession()
        tables = register(spark, inputs, wl)
        warm_udfs(spark, tables, wl)
        times.append(time.perf_counter() - t0)
    return spark, tables, times


# -- one call per workload ----------------------------------------------------

def crawl_call(spark, tables, wl: Crawl, inputs, out: Path, tamper=None) -> dict:
    from warc2zim_spark.frontier.crawl import run_crawl

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    run_crawl(
        spark, tables["seeds"], tables["pages"],
        tables["robots"], str(out), max_waves=wl.max_waves,
        host_budget=wl.host_budget, wave_budget=wl.wave_budget,
        seen_mode=wl.seen_mode, bloom_partitions=wl.bloom_partitions,
        bloom_m_bits=wl.bloom_m_bits,
    )
    wall = time.time() - t0
    first = (out / "wave=0._SUCCESS_WAVE").stat().st_mtime - t0
    if tamper is not None:
        tamper(out)
    n = check_output(wl, inputs, out)
    return {"wall_s": wall, "first_output_s": first, "rows": n, "rows_per_s": n / wall}


def check_output(wl, inputs, out: Path) -> int:
    """Check a call's output against the seed's oracle (raises
    ``OracleMismatch``) → rows: scheduled URLs, or input records."""
    from inputs import check_convert, check_schedule

    if isinstance(wl, Convert):
        check_convert(out, inputs)
        return inputs.record_count()
    return check_schedule(f"{out}/wave=*/*.parquet", inputs.crawl_oracle(wl))


def text_sink(tables, out: Path) -> None:
    from pyspark.sql import functions as F

    from warc2zim_spark.functions import udfs

    tables["pages"].select(
        "url", udfs.extract_text_from_bytes(F.col("html")).alias("text")
    ).write.mode("overwrite").parquet(str(out / "text"))


def convert_call(spark, tables, wl: Convert, inputs, out: Path, tamper=None) -> dict:
    from warc2zim_spark.plans.pipeline import run_pipeline

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    run_pipeline(spark, str(inputs.web), str(out), continue_on_error=True)
    text_sink(tables, out)
    wall = time.time() - t0
    first = (out / "items" / "_SUCCESS").stat().st_mtime - t0
    if tamper is not None:
        tamper(out)
    n = check_output(wl, inputs, out)
    return {"wall_s": wall, "first_output_s": first, "rows": n, "rows_per_s": n / wall}


def call(spark, tables, wl, inputs, out: Path, tamper=None) -> dict:
    """One whole job, timed and oracle-checked. ``tamper(out_dir)``, a
    self-test hook, may corrupt the output between the job and the check."""
    if isinstance(wl, Convert):
        return convert_call(spark, tables, wl, inputs, out, tamper)
    return crawl_call(spark, tables, wl, inputs, out, tamper)


# -- run modes ----------------------------------------------------------------

def _emit(record: dict) -> None:
    print(json.dumps(record), flush=True)


def _measured_call(spark, tables, wl, inputs, out, log, index, tamper=None) -> dict:
    """One closed-loop call with its calibration stamp, RSS peak and
    ERROR-line count; never raises. ``record["window"]`` holds the call's
    epoch-ms interval."""
    from probes import calibrate, peak_rss_mb

    from inputs import OracleMismatch

    record = {"call": index, "calib_s": calibrate(spark)}
    log.error_lines()
    start = time.time() * 1000
    try:
        res = call(spark, tables, wl, inputs, out, tamper)
        total, jvm, procs = peak_rss_mb(os.getpid())
        record.update(res, peak_rss_mb=total, jvm_rss_mb=jvm, procs=procs, ok=True)
    except OracleMismatch as e:
        record.update(ok=False, error=f"oracle: {e}")
    except Exception as e:  # a failing engine call is a counted failure
        record.update(ok=False, error=f"{type(e).__name__}: {e}")
        traceback.print_exc()
    record["window"] = (start, time.time() * 1000)
    record["error_lines"] = log.error_lines()
    return record


def measure(spark, tables, wl, inputs, seconds: float, log, tamper=None) -> list[dict]:
    calls: list[dict] = []
    t_start = time.perf_counter()
    while not calls or time.perf_counter() - t_start < seconds:
        record = _measured_call(spark, tables, wl, inputs, WORK / f"call{len(calls)}",
                                log, len(calls), tamper)
        shutil.rmtree(WORK / f"call{len(calls)}", ignore_errors=True)
        record.pop("window")
        _emit(record)
        calls.append(record)
    return calls


def summarize(setup_times: list[float], calls: list[dict]) -> dict:
    """The result object: medians over the calls that passed the oracle."""
    done = [c for c in calls if c["ok"]]
    values = {"setup_s": statistics.median(setup_times)}
    for key in ("wall_s", "rows_per_s", "first_output_s", "peak_rss_mb"):
        values[key] = statistics.median(c[key] for c in done) if done else 0.0
    failed = len(calls) - len(done)
    return {"correct": failed == 0, "attempted": len(calls), "failed": failed,
            "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                        for k, v in values.items()}}


def run_untraced(args, inputs, wl, log) -> dict:
    spark, tables, setup_times = setup(inputs, wl, None, SETUP_REPS)
    _emit({"setup_s": setup_times})
    calls = measure(spark, tables, wl, inputs, args.seconds, log)
    stop_spark(spark)
    return summarize(setup_times, calls)


def run_traced(args, inputs, wl, log) -> dict:
    import layers as tr
    from probes import calibrate

    from inputs import OracleMismatch

    evdir = WORK / "eventlog"
    shutil.rmtree(evdir, ignore_errors=True)
    spark, tables, _ = setup(inputs, wl, evdir, 1)
    plain = _measured_call(spark, tables, wl, inputs, WORK / "untraced", log, 0)
    window = plain.pop("window")  # the engine's own jobs are counted in it
    _emit(plain)
    shutil.rmtree(WORK / "untraced", ignore_errors=True)

    spans = tr.Spans()
    out = WORK / "traced"
    shutil.rmtree(out, ignore_errors=True)
    traced = {"call": 1}
    funnel = dict.fromkeys(tr.FUNNEL, 0)
    t0 = time.time()
    try:
        if isinstance(wl, Convert):
            tr.traced_convert(spark, tables, inputs.web, out, spans)
        else:
            funnel = tr.traced_crawl(spark, tables, wl, out, spans)
        traced["wall_s"] = time.time() - t0
        check_output(wl, inputs, out)
        traced["ok"] = True
    except OracleMismatch as e:
        traced.update(ok=False, error=f"oracle: {e}")
    except Exception as e:
        traced.update(ok=False, error=f"{type(e).__name__}: {e}")
        traceback.print_exc()
    traced_wall = traced.setdefault("wall_s", time.time() - t0)
    traced["calib_s"] = calibrate(spark)
    _emit(traced)
    shutil.rmtree(out, ignore_errors=True)
    # a second untraced call, warm like the traced one: the overhead base
    again = _measured_call(spark, tables, wl, inputs, WORK / "untraced", log, 2)
    again.pop("window")
    _emit(again)
    shutil.rmtree(WORK / "untraced", ignore_errors=True)
    stop_spark(spark)

    logs = [p for p in evdir.iterdir() if p.is_file()]
    jobs, tasks = tr.read_event_log(logs[0])
    shutil.rmtree(evdir, ignore_errors=True)
    table = tr.layer_table(spans, tasks)
    waves = 1 if isinstance(wl, Convert) else max(1, sum(1 for s in spans.spans
                                           if s[0] == "frontier.crawl.wave_write"))
    n_jobs = tr.jobs_in(jobs, *window)
    values: dict[str, float] = {}
    for name in tr.per_layer_units():
        layer, _, key = name.rpartition(".")
        if layer in table:
            values[name] = table[layer][key]
    coverage = sum(r["self_s"] for r in table.values()) / traced_wall
    values.update({
        "spark.jobs": n_jobs,
        "spark.jobs_per_wave": n_jobs / waves,
        "spark.error_lines": plain.get("error_lines", 0),
        "trace.coverage": coverage,
        "trace.overhead": traced_wall / again["wall_s"] if again.get("wall_s") else 0.0,
        "host.calib_s": statistics.median(c["calib_s"] for c in (plain, traced, again)),
    })
    for stage in tr.FUNNEL:
        values[f"frontier.funnel.{stage}"] = funnel[stage]
    for base, stage in zip(tr.FUNNEL, tr.FUNNEL[1:]):
        values[f"frontier.funnel.{stage}_of_{base}"] = (
            funnel[stage] / funnel[base] if funnel[base] else 0.0)
    units = tr.per_layer_units()
    failed = sum(1 for c in (plain, traced, again) if not c["ok"])
    return {"correct": failed == 0, "attempted": 3, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--pages", type=int, default=None,
                        help="override the workload's page count (the self-test "
                             "uses a tiny web)")
    args = parser.parse_args(argv)

    if not (ROOT / "warc2zim_spark" / "__init__.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    _prepare_env()

    from inputs import Inputs
    from probes import SparkLog

    wl = WORKLOADS[args.workload]
    if args.pages is not None:
        wl = dataclasses.replace(wl, pages=args.pages)
    inputs = Inputs(CACHE, args.seed, wl.pages).ensure()
    if isinstance(wl, Convert):
        inputs.items_oracle()
    else:
        inputs.crawl_oracle(wl)

    log = SparkLog(WORK / "spark-stderr.log")
    log.start()
    try:
        result = (run_traced if args.trace else run_untraced)(args, inputs, wl, log)
    except BaseException:
        log.restore()
        traceback.print_exc()
        raise
    log.restore()
    _emit(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
