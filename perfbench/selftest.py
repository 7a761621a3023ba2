"""Self-test of the benchmark on a tiny web (a few hundred pages).

    python3 perfbench/selftest.py

1. Runs ``run.py`` on every workload with ``--trace 0`` and ``--trace 1``
   and checks that the last stdout line is the result object, that it
   passed its oracle, and that it names exactly the metrics of
   ``BENCHMARK.json`` with their units.
2. Runs one crawl call whose schedule loses a row between the job and the
   check, and checks that the call is counted as failed.

Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PAGES = 400
SEED = 3


def _result(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--pages", str(PAGES)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_reports(spec: dict) -> None:
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, want in expected.items():
            res = _result(workload, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (workload, trace, set(got) ^ set(want))
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values()), res
            print(f"ok  {workload} trace={trace}: {len(got)} metrics", flush=True)


def drop_one_row(out: Path) -> None:
    """Rewrite wave 0 of a crawl checkpoint without its first row."""
    import pyarrow.parquet as pq

    for part in sorted((out / "wave=0").glob("*.parquet")):
        table = pq.read_table(part)
        if table.num_rows:
            pq.write_table(table.slice(1), part)
            return
    raise AssertionError("wave 0 wrote no rows")


def check_corruption_counted() -> None:
    sys.path.insert(0, str(HERE))
    import dataclasses

    import run

    sys.path.insert(0, str(ROOT))
    run._prepare_env()
    from inputs import Inputs
    from probes import SparkLog

    wl = dataclasses.replace(run.WORKLOADS["crawl"], pages=PAGES)
    inputs = Inputs(run.CACHE, SEED, wl.pages).ensure()
    log = SparkLog(run.WORK / "selftest-stderr.log")
    log.start()
    try:
        spark, tables, setup_times = run.setup(inputs, wl, None, 1)
        calls = run.measure(spark, tables, wl, inputs, 0, log, tamper=drop_one_row)
        run.stop_spark(spark)
    finally:
        log.restore()
    res = run.summarize(setup_times, calls)
    assert res["attempted"] == 1 and res["failed"] == 1 and not res["correct"], res
    assert calls[0]["error"].startswith("oracle:"), calls[0]
    print("ok  a dropped schedule row is counted as failed", flush=True)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_corruption_counted()
    check_reports(spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
