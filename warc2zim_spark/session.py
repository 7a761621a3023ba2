"""SparkSession factory with scale-appropriate defaults.

Single place for the engine's Spark configuration so tests, bench, and the
driver entry agree: AQE on (runtime re-plan + skew-join splitting), Arrow
transfers on (all our UDFs are pandas UDFs), shuffle partitions sized with
cores (local mode) — at cluster scale these come from spark-submit conf.
The crawl's fast paths are decided by two Spark thresholds set here (the
broadcast byte threshold and the top-k sort fallback), not by options of
its own.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "warc2zim_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # date_format/X-ContentDate must agree with the (naive-timestamp)
        # DuckDB oracles regardless of host TZ
        .config("spark.sql.session.timeZone", "UTC")
        # local bench tier: tables are a few hundred MB in single files, so
        # the 128m default gives 1-2 scan partitions and serializes every
        # pre-shuffle UDF stage; 16m ≈ cores×(file/16m) tasks. At cluster
        # scale with thousands of files, set this back via spark-submit conf.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # at least core-count file splits (r06; the hot tables are single
        # ~100 MB parquet files, 16m splits alone give ~6-7) — not a floor on
        # scan parallelism: a split reads only the row groups whose midpoint
        # it holds, so a file of ONE row group is read by one task however
        # many splits it gets (perfbench's pages and warc_records files: the
        # crawl's page lookup and link extraction, convert's record scan).
        # Derived from the core count, not a constant.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        # the crawl's plan choices are Spark's own thresholds. Broadcast: by
        # the optimizer's byte estimate (the exact seen probe with no hint;
        # wave_links gates its fetch hint on the same threshold)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # top-k (prioritize's orderBy + limit): TakeOrderedAndProject below
        # this limit, a range-partitioned sort + limit at or above it. Spark's
        # threshold counts ROWS and has no byte form; each task's priority
        # queue holds `limit` rows, so this bounds per-task memory at
        # ~limit × row size (keys only, ~100 B/row here). The default
        # (2,147,483,632) would not bound it
        .config("spark.sql.execution.topKSortFallbackThreshold", "2000000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
