"""SparkSession factory with scale-appropriate defaults.

Single place for the engine's Spark configuration so tests, bench, and the
driver entry agree: AQE on (runtime re-plan + skew-join splitting), Arrow
transfers on (all our UDFs are pandas UDFs), shuffle partitions sized with
cores (local mode) — at cluster scale these come from spark-submit conf.
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
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
