"""Incremental items ingest over a growing record directory.

Semantics vs the batch pipeline: identical output when record files arrive
in (file_seq) order — which is how a crawler appends them. Within a
micro-batch, first-wins dedup is the A2 window; across batches, a path that
already reached the sink wins over any later arrival. For a truly
out-of-order tail, ``dedup_mode="watermark"`` runs
``dropDuplicatesWithinWatermark`` on zim_path with a warc_date event-time
bound (see below).

Three cross-batch membership modes:

* ``dedup_mode="exact"`` — anti-join against the sink's key projection (a
  narrow parquet scan, no payloads). Zero false positives, but the scan is
  O(total sink items) per micro-batch — O(n²) over a long ingest. The
  correctness mode.
* ``dedup_mode="bloom"`` — the partitioned bloom from frontier/seenfilter
  persisted next to the stream checkpoint; each batch's keys are ORed into
  it in one pass (``add_to_bloom``): probe
  cost is O(batch) regardless of sink size — the 10^10-item mode. A bloom
  false positive drops a genuinely-new item (fpp budget set by
  ``bloom_m_bits``; 16 bits/key ≈ 0.05%) — the same tolerance class as the
  frontier's seen filter, and the reason exact stays the default.
* ``dedup_mode="watermark"`` — Structured Streaming's own
  ``dropDuplicatesWithinWatermark`` on zim_path with a warc_date
  event-time watermark: state is bounded by the watermark delay (not by
  sink size), and dedup is correct for any arrival reordering within that
  delay. DOCUMENTED DIVERGENCE from batch: the surviving record per path
  is the first ARRIVAL, not the global (file_seq, rec_seq) minimum — the
  item-path SET equals the batch pipeline's under any file shuffle
  (pinned in tests), but a reordered duplicate's attribute row may differ.
  A duplicate arriving after its key's state expired re-appends, and a
  NEW row arriving with event time older than the watermark is dropped as
  late data (standard Structured Streaming semantics) — so the delay MUST
  be sized to the source's real reordering bound, event-time span
  included, or unique late paths are silently lost. The sink is laid out
  as per-batch-id subdirectories written with overwrite (replay-
  idempotent under foreachBatch's at-least-once contract); read it with
  ``recursiveFileLookup``.

A missing sink/filter on the first batch is detected explicitly
(AnalysisException path-not-found only) — any OTHER read failure (corrupt
sink parquet, permissions) raises instead of silently disabling dedup and
appending duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from warc2zim_spark.operators.items import items_table
from warc2zim_spark.operators.records import content_records


def _read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Parquet read that treats ONLY path-not-found as 'no data yet'."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def stream_items(
    spark: SparkSession,
    records_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    include_domains: list[str] | None = None,
    dedup_mode: str = "exact",
    bloom_partitions: int = 32,
    bloom_m_bits: int = 1 << 20,
    watermark_delay: str = "1 hour",
) -> int:
    """Drain all currently-available record files into the items sink;
    returns the number of micro-batches processed. Re-invoking after more
    files land (or after a crash — checkpointed offsets) continues where it
    left off. ``watermark_delay`` only applies to ``dedup_mode="watermark"``
    — set it to the source's real reordering bound."""
    if dedup_mode not in ("exact", "bloom", "watermark"):
        raise ValueError(
            f"dedup_mode must be 'exact', 'bloom' or 'watermark', got {dedup_mode!r}"
        )
    schema = spark.read.parquet(records_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(records_dir)

    bloom_path = f"{checkpoint_dir}/seen_bloom"
    n_batches = {"n": 0}

    if dedup_mode == "watermark":
        from pyspark.sql import functions as F

        from warc2zim_spark.operators.items import item_rows

        # two chained availableNow queries: the J1 pairing window inside
        # content_records is not streaming-legal, so stage 1 runs it in
        # batch context per micro-batch (file-based triggers deliver whole
        # WARC files, and pairing is per-file — same invariant as the batch
        # path) into a staging dir; stage 2 is the streaming-native dedup
        # whose per-key state the watermark BOUNDS (the point of the mode).
        # The staging dir grows with total ingest (narrow item rows, no
        # payloads); a production deployment TTLs files older than the
        # watermark delay — stage 2's checkpoint never re-reads them.
        staging = f"{checkpoint_dir}/staging"

        # foreachBatch is at-least-once: a crash between a sink write and
        # the checkpoint commit re-delivers the batch. Both stages
        # therefore write to a PER-BATCH-ID subdirectory with
        # mode("overwrite") — a replayed batch rewrites its own directory
        # instead of appending duplicates (the standard idempotent-sink
        # pattern; exact/bloom modes self-heal differently, via their
        # sink anti-join). Readers use recursiveFileLookup.
        def stage_batch(batch_df, batch_id: int) -> None:
            item_rows(
                content_records(batch_df), include_domains, keep_cols=("warc_date",)
            ).write.mode("overwrite").parquet(f"{staging}/batch_{batch_id}")

        q1 = (
            stream.writeStream.foreachBatch(stage_batch)
            .option("checkpointLocation", f"{checkpoint_dir}/stage")
            .trigger(availableNow=True)
            .start()
        )
        q1.awaitTermination()

        try:
            staged = spark.read.option("recursiveFileLookup", "true").parquet(staging)
        except Exception as exc:  # AnalysisException: nothing staged yet
            if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
                return 0
            raise
        reader2 = spark.readStream.schema(staged.schema).option(
            "recursiveFileLookup", "true"
        )
        if max_files_per_trigger is not None:
            reader2 = reader2.option("maxFilesPerTrigger", max_files_per_trigger)
        deduped = (
            reader2.parquet(staging)
            # ingest stores WARC-Date as TIMESTAMP_NTZ (it is UTC by spec);
            # the event-time watermark requires TIMESTAMP
            .withColumn("_evt", F.col("warc_date").cast("timestamp"))
            .withWatermark("_evt", watermark_delay)
            .dropDuplicatesWithinWatermark(["zim_path"])
        )

        def append_batch(batch_df, batch_id: int) -> None:
            batch_df.drop("warc_date", "_evt").write.mode("overwrite").parquet(
                f"{out_dir}/batch_{batch_id}"
            )
            n_batches["n"] += 1

        q2 = (
            deduped.writeStream.foreachBatch(append_batch)
            .option("checkpointLocation", f"{checkpoint_dir}/dedup")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        return n_batches["n"]

    def process_batch(batch_df, batch_id: int) -> None:
        from warc2zim_spark.frontier.seenfilter import add_to_bloom, probe_bloom

        items = items_table(content_records(batch_df), include_domains)
        bloom = None
        if dedup_mode == "exact":
            existing = _read_parquet_if_exists(spark, out_dir)
            if existing is not None:
                items = items.join(
                    existing.select("zim_path"), "zim_path", "left_anti"
                )
        else:
            bloom = _read_parquet_if_exists(spark, bloom_path)
            if bloom is not None:
                items = probe_bloom(
                    items, bloom, key_col="zim_path",
                    num_partitions=bloom_partitions, keep="miss",
                )
        items = items.localCheckpoint(eager=True)  # write + filter-update reuse
        items.write.mode("append").parquet(out_dir)
        if dedup_mode == "bloom":
            # the batch's keys ORed into the prior filter in one pass
            updated = add_to_bloom(
                bloom, items.select("zim_path"), key_col="zim_path",
                num_partitions=bloom_partitions, m_bits=bloom_m_bits,
            )
            # materialize before overwriting the path being read
            updated = updated.localCheckpoint(eager=True)
            updated.write.mode("overwrite").parquet(bloom_path)
        n_batches["n"] += 1

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return n_batches["n"]
