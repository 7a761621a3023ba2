"""Fault injection: a failed job on any branch of either driver raises its
own error within a deadline, and leaves no job running and nothing cached.

Each driver case makes one frame that only one branch reads carry a pandas
UDF that raises; ``convert:content`` fails the build of the content stream
that every branch reads, the shape in which a failed cache build can
deadlock with a build over it. ``branches:running`` fails a branch while
another branch and the calling thread run endless jobs. The cases run in
one child process (this file run as a script, so the nested UDFs are
pickled by value) under a per-case watchdog: a call that outlives the
deadline prints the child JVM's ``jstack`` and ends the child, so a hang
fails here instead of stalling the suite.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

DEADLINE_S = 90
MARK = "injected branch failure"
CASES = [
    "convert:redirects",  # branch (a): the redirects sink
    "convert:items",  # branch (b), the calling thread: the items sink
    "convert:metadata",  # branch (c): the metadata rows
    "convert:content",  # the content stream every branch reads
    "crawl:write",  # the wave write branch
    "crawl:bloom",  # the bloom update branch
    "crawl:frontier",  # the next frontier, on the calling thread
    "branches:running",  # a branch fails while two endless jobs run
]
REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def outcomes(tmp_path_factory):
    env = dict(os.environ, PYTHONPATH=str(REPO))
    cmd = [sys.executable, __file__, str(tmp_path_factory.mktemp("inject"))]
    try:
        proc = subprocess.run(
            cmd, cwd=REPO, env=env, capture_output=True, text=True,
            timeout=DEADLINE_S * len(CASES) + 180,
        )
        out, log = proc.stdout, proc.stderr
    except subprocess.TimeoutExpired as exc:
        out, log = exc.stdout or "", exc.stderr or ""
        out = out.decode() if isinstance(out, bytes) else out
        log = log.decode() if isinstance(log, bytes) else log
    results = {}
    for line in out.splitlines():
        if line.startswith("{"):
            r = json.loads(line)
            results[r["case"]] = r
    return results, log[-4000:]


@pytest.mark.parametrize("case", CASES)
def test_branch_failure_raises_its_error(outcomes, case):
    results, log = outcomes
    assert case in results, log
    r = results[case]
    assert "jstack" not in r, f"{case} hung past {DEADLINE_S} s:\n{r['jstack']}"
    assert r["error"] is not None, r
    assert MARK in r["error"], r["error"]  # the injected error, not a cancellation
    assert r["seconds"] < DEADLINE_S, r
    assert r["active_jobs"] == [], r
    assert r["cache_empty"], r


def test_many_failing_branches_raise_one_error(spark):
    """The shared failure state under contention: 16 branches, more than
    the cores, fail at once under a short switch interval. The block raises
    one of their errors once every branch has returned, and drops its job
    tag."""
    from warc2zim_spark.plans.branches import branches

    def fail(i):
        raise ValueError(i)

    futures = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pytest.raises(ValueError) as info:
            with branches(spark) as branch:
                futures += [branch(fail, i) for i in range(16)]
    finally:
        sys.setswitchinterval(interval)
    assert info.value.args[0] in range(16)
    assert all(f.done() for f in futures)
    assert not [t for t in spark.sparkContext.getJobTags() if t.startswith("branches-")]


def _endless_jobs_and_a_failure(spark, case):
    """A branch raises while another branch and the calling thread each run
    a job that would take hours: both jobs must be cancelled."""
    from warc2zim_spark.plans.branches import branches

    def endless():
        spark.range(0, 1 << 50, numPartitions=4).selectExpr("max(id)").collect()

    def fail():
        time.sleep(2)
        raise RuntimeError(f"{MARK}: {case}")

    with branches(spark) as branch:
        branch(endless)
        branch(fail)
        endless()


def _boom(case):
    """A column whose pandas UDF raises on its first batch."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def boom(s):
        raise RuntimeError(f"{MARK}: {case}")

    return boom(F.lit("x"))


def _poisoned(df, case):
    return df.filter(_boom(case).isNull())


def _run_case(spark, webdata, out, case):
    """Inject ``case``, call its driver, and undo the injection."""
    from pyspark.sql import functions as F

    from warc2zim_spark.frontier import crawl
    from warc2zim_spark.plans import pipeline

    if case == "branches:running":
        return _endless_jobs_and_a_failure(spark, case)
    module, name = {
        "convert:redirects": (pipeline, "kept_redirects"),
        "convert:items": (pipeline, "items_table"),
        "convert:metadata": (pipeline, "zim_metadata"),
        "convert:content": (pipeline, "content_records"),
        "crawl:write": (crawl, "F"),
        "crawl:bloom": (crawl, "add_to_bloom"),
        "crawl:frontier": (crawl, "wave_links"),
    }[case]
    original = getattr(module, name)
    if name == "F":
        # the wave write alone reads the rounded score
        class _Functions:
            def __getattr__(self, attr):
                return getattr(F, attr)

            def round(self, *args):
                return F.when(_boom(case).isNull(), F.round(*args))

        setattr(module, name, _Functions())
    else:
        setattr(module, name, lambda *a, **k: _poisoned(original(*a, **k), case))
    try:
        if module is pipeline:
            pipeline.run_pipeline(
                spark, webdata, out, name="n", continue_on_error=True
            )
        else:
            crawl.run_crawl(
                spark,
                *(spark.read.parquet(f"{webdata}/{t}.parquet")
                  for t in ("seeds", "pages", "robots")),
                out, max_waves=3, host_budget=4, wave_budget=50,
                seen_mode="bloom",
            )
    finally:
        setattr(module, name, original)


def _main(tmp: str) -> None:
    from warc2zim_spark.session import get_spark
    from warc2zim_spark.sources.datagen import ensure_webdata

    webdata = str(ensure_webdata("sf0.001"))
    spark = get_spark("inject", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("OFF")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for case in CASES:

        def hang(case=case):
            stack = subprocess.run(
                ["jstack", str(jvm_pid)], capture_output=True, text=True
            ).stdout
            print(json.dumps({"case": case, "jstack": stack}), flush=True)
            os._exit(3)

        watchdog = threading.Timer(DEADLINE_S, hang)
        watchdog.start()
        t0 = time.time()
        error = None
        try:
            _run_case(spark, webdata, f"{tmp}/{case.replace(':', '_')}", case)
        except Exception as exc:  # noqa: BLE001 — the outcome under test
            error = f"{type(exc).__name__}: {exc}"
        seconds = time.time() - t0
        watchdog.cancel()
        # job ends reach the status tracker through the listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        print(json.dumps({
            "case": case,
            "seconds": round(seconds, 1),
            "error": error,
            "active_jobs": list(spark.sparkContext.statusTracker().getActiveJobsIds()),
            "cache_empty": spark._jsparkSession.sharedState().cacheManager().isEmpty(),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    _main(sys.argv[1])
