"""Streaming ingest — the record-tail scenario (WARCs landing continuously).

The reference is strictly batch: two passes over a finite input, no
watermarks, no event-time windows (SURVEY.md §2.8; reference
converter.py:303,411). The north-star frontier loop stays *iterative batch* —
BFS waves with checkpoint/restart (frontier/crawl.py) — because every wave
needs the COMPLETE previous wave's seen-set before scheduling (a hard
barrier) that Structured Streaming's incremental model cannot express
without abusing stateful operators for a global synchronization.

What IS a streaming problem is the ingest tail: a crawler appending WARC
batches while conversion runs. ``stream_items`` (ingest.py) implements that:
``readStream`` over the landing directory → the SAME stateless operators
(content_records → items_table) per micro-batch → cross-batch first-wins via
an anti-join against the already-materialized sink (or the persisted
partitioned bloom, ``dedup_mode="bloom"``) → checkpointed ``foreachBatch``
append, resumable mid-stream (Trigger.AvailableNow drains what exists and
stops, the batch-friendly production pattern).
"""

from warc2zim_spark.streaming.ingest import stream_items

__all__ = ["stream_items"]
