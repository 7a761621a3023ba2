"""Streaming ingest: micro-batched items == batch items; resume picks up
only new files."""

import pyarrow.parquet as pq
import pytest


@pytest.fixture()
def split_records(webdata, tmp_path):
    """The record table split into per-file_seq parquet files with
    increasing mtimes (the crawler-append order)."""
    import os
    import time

    table = pq.read_table(f"{webdata}/warc_records.parquet")
    d = tmp_path / "landing"
    d.mkdir()
    # split into ~4 row chunks in stream order (sf0.001 is a single
    # file_seq, so chunk by rec_seq range) — never between an adjacent
    # request/response pair (a WARC writer closes files at pair boundaries;
    # the per-file pairing window relies on it)
    n = table.num_rows
    rec_types = table.column("rec_type").to_pylist()
    step = (n + 3) // 4
    cuts = [0]
    for i in range(1, 4):
        c = min(i * step, n)
        while 0 < c < n and rec_types[c - 1] == "request":
            c += 1
        if c > cuts[-1]:
            cuts.append(c)
    cuts.append(n)
    paths = []
    for i in range(len(cuts) - 1):
        part = table.slice(cuts[i], cuts[i + 1] - cuts[i])
        if part.num_rows == 0:
            continue
        p = d / f"part-{i:04d}.parquet"
        pq.write_table(part, p)
        mtime = time.time() - 4 + i
        os.utime(p, (mtime, mtime))
        paths.append(p)
    return d, paths


class TestStreamItems:
    def test_equals_batch_items(self, spark, webdata, split_records, tmp_path):
        from warc2zim_spark.operators.items import items_table
        from warc2zim_spark.operators.records import content_records, load_records
        from warc2zim_spark.streaming import stream_items

        landing, _ = split_records
        out = tmp_path / "items_sink"
        ckpt = tmp_path / "ckpt"
        n = stream_items(
            spark, str(landing), str(out), str(ckpt), max_files_per_trigger=1
        )
        assert n >= 2  # genuinely micro-batched

        batch = items_table(content_records(load_records(spark, webdata)))
        key = lambda r: (r.zim_path, r.url, r.mime, r.status, r.payload_len)
        got = sorted(map(key, spark.read.parquet(str(out)).collect()))
        want = sorted(map(key, batch.collect()))
        assert got == want

    def test_bloom_mode_equals_exact(self, spark, webdata, split_records, tmp_path):
        """Cross-batch dedup via the persisted partitioned bloom (O(batch)
        membership instead of an O(sink) scan per batch) must reproduce the
        exact-mode sink at test scale (fpp ≪ 1/corpus)."""
        from warc2zim_spark.streaming import stream_items

        landing, _ = split_records
        out_e = tmp_path / "sink_exact"
        out_b = tmp_path / "sink_bloom"
        stream_items(
            spark, str(landing), str(out_e), str(tmp_path / "ck_e"),
            max_files_per_trigger=1,
        )
        n = stream_items(
            spark, str(landing), str(out_b), str(tmp_path / "ck_b"),
            max_files_per_trigger=1, dedup_mode="bloom",
        )
        assert n >= 2
        key = lambda r: (r.zim_path, r.url, r.mime, r.status, r.payload_len)
        got = sorted(map(key, spark.read.parquet(str(out_b)).collect()))
        want = sorted(map(key, spark.read.parquet(str(out_e)).collect()))
        assert got == want
        # the filter itself persisted for the next invocation
        assert (tmp_path / "ck_b" / "seen_bloom").exists()

    def test_corrupted_sink_raises(self, spark, split_records, tmp_path):
        """A sink that EXISTS but cannot be read must fail the batch loudly —
        silently skipping the anti-join would re-append duplicates."""
        from warc2zim_spark.streaming import stream_items

        landing, _ = split_records
        out = tmp_path / "sink_corrupt"
        out.mkdir()
        (out / "part-00000.parquet").write_bytes(b"this is not parquet")
        with pytest.raises(Exception):
            stream_items(
                spark, str(landing), str(out), str(tmp_path / "ck_c"),
            )

    def test_resume_is_incremental(self, spark, split_records, tmp_path):
        import shutil

        from warc2zim_spark.streaming import stream_items

        landing, paths = split_records
        held_back = paths[-1]
        staged = tmp_path / "staged.parquet"
        shutil.move(str(held_back), str(staged))

        out = tmp_path / "items_sink2"
        ckpt = tmp_path / "ckpt2"
        n1 = stream_items(spark, str(landing), str(out), str(ckpt))
        count1 = spark.read.parquet(str(out)).count()

        shutil.move(str(staged), str(held_back))
        n2 = stream_items(spark, str(landing), str(out), str(ckpt))
        count2 = spark.read.parquet(str(out)).count()
        assert n1 >= 1 and n2 >= 1
        assert count2 > count1  # the late file's new paths landed
        # and nothing got double-written
        paths_df = spark.read.parquet(str(out)).select("zim_path")
        assert paths_df.count() == paths_df.distinct().count()


class TestWatermarkMode:
    def test_shuffled_file_order_same_item_set(self, spark, webdata, split_records, tmp_path):
        """dedup_mode='watermark' (dropDuplicatesWithinWatermark on zim_path
        + warc_date watermark): under a SHUFFLED file arrival order, the item
        path set must equal the batch pipeline's, with zero duplicate paths
        — the bounded-state out-of-order mode the r03 verdict asked for."""
        import os
        import shutil
        import time

        from warc2zim_spark.operators.items import items_table
        from warc2zim_spark.operators.records import content_records, load_records
        from warc2zim_spark.streaming import stream_items

        landing, paths = split_records
        # reverse arrival order: last chunk lands first
        shuffled = tmp_path / "landing_shuffled"
        shuffled.mkdir()
        for i, p in enumerate(reversed(list(paths))):
            dst = shuffled / f"arr-{i:04d}.parquet"
            shutil.copy(p, dst)
            mtime = time.time() - 4 + i
            os.utime(dst, (mtime, mtime))

        out = tmp_path / "items_wm"
        ckpt = tmp_path / "ckpt_wm"
        n = stream_items(
            spark, str(shuffled), str(out), str(ckpt),
            max_files_per_trigger=1, dedup_mode="watermark",
            watermark_delay="96 hours",
        )
        assert n >= 2  # genuinely micro-batched

        got_df = spark.read.option("recursiveFileLookup", "true").parquet(str(out))
        got_paths = [r.zim_path for r in got_df.select("zim_path").collect()]
        assert len(got_paths) == len(set(got_paths)), "duplicate paths in sink"
        batch = items_table(content_records(load_records(spark, webdata)))
        want_paths = {r.zim_path for r in batch.select("zim_path").collect()}
        assert set(got_paths) == want_paths
        # schema parity with the other modes (minus nothing: warc_date dropped)
        assert set(got_df.columns) == {
            "zim_path", "url", "mime", "status", "payload_len",
            "file_seq", "rec_seq", "is_front",
        }

    def test_watermark_state_survives_reinvocation(self, spark, webdata, split_records, tmp_path):
        """The dedup state store is checkpointed: a duplicate of an
        already-emitted path arriving in a LATER invocation (same
        checkpoint) must be suppressed, while genuinely new paths pass."""
        import shutil

        import pyarrow.parquet as pq

        from warc2zim_spark.streaming import stream_items

        landing, paths = split_records
        staged = tmp_path / "landing_restart"
        staged.mkdir()
        first = list(paths)[0]
        shutil.copy(first, staged / "batch1.parquet")
        out = tmp_path / "items_wm_restart"
        ckpt = tmp_path / "ckpt_wm_restart"
        kwargs = dict(dedup_mode="watermark", watermark_delay="240 hours")
        stream_items(spark, str(staged), str(out), str(ckpt), **kwargs)
        rd = lambda: spark.read.option("recursiveFileLookup", "true").parquet(str(out))
        n1 = rd().count()
        # second invocation: re-deliver the SAME records (duplicates of
        # everything already emitted) plus the remaining chunks (new paths)
        shutil.copy(first, staged / "batch2_dup.parquet")
        for i, p in enumerate(list(paths)[1:]):
            shutil.copy(p, staged / f"batch3_{i}.parquet")
        stream_items(spark, str(staged), str(out), str(ckpt), **kwargs)
        got = rd()
        all_paths = [r.zim_path for r in got.select("zim_path").collect()]
        assert len(all_paths) == len(set(all_paths)), "cross-invocation duplicate"
        assert got.count() > n1  # the new chunks' paths landed
