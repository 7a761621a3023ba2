"""Partitioned URL-seen filter (north_rule core).

Two modes behind one interface:

* **exact** — a DataFrame of seen ``surt_key`` values; membership = left-anti
  join. Zero false positives; used for correctness tests and small scale.
* **bloom** — hash-partitioned Bloom filter built per partition with
  ``applyInPandas``; at 10^10 URLs an exact distinct set is ~1 TB of keys,
  while a 1%-fpp Bloom is ~12 GiB total, ~95 MiB per partition across 128
  partitions, each probe-able without shuffling the candidate side more than
  once by the same hash partitioning.

The Bloom variant stores (partition_id, bitmap bytes) rows — persisted to
parquet for resume (north_rule resumability). Candidates are probed in a
cogrouped ``applyInPandas``: candidate rows hash to the same
``hash(surt_key) % P`` as the bitmaps, so each task probes exactly one
bitmap. A batch of new keys (a crawl wave, an ingest micro-batch) enters
the filter the same way: ``add_to_bloom`` cogroups the keys with the prior
bitmaps and ORs their bits in place — one Python-worker stage, where a
build of the batch's own filter followed by ``merge_blooms`` is two.

Neither mode deletes keys: a seen URL stays seen for the whole crawl.

False-positive budget: configurable bits-per-key (default 16 → ~0.05% fpp);
correctness mode for tests is exact (SURVEY §7 hard-part (e)).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_BLOOM_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("num_parts", IntegerType(), False),
        StructField("n_keys", LongType(), False),
        StructField("bitmap", BinaryType(), False),
    ]
)

K_HASHES = 7  # optimal for ~16 bits/key

# Per-key hashing is JVM-side: two independent xxhash64 columns (salted with
# distinct literal prefixes so they are independent of each other AND of
# partition_of's unsalted xxhash64) computed BEFORE the applyInPandas; Python
# only does numpy bitmap math. At the 10^10-key design point the former
# per-key hashlib.blake2b loop was ~10^10 Python-level calls in the filter's
# hot path (VERDICT r02 "What's wrong" #3).
_H1_SALT = "w2zs-seen-h1"
_H2_SALT = "w2zs-seen-h2"


def key_hash_cols(col):
    """(h1, h2) 64-bit hash Column pair for a key column — whole-stage
    codegen, no Python. Kirsch-Mitzenmacher double hashing uses
    h_i = h1 + i*h2 downstream (h2 forced odd numpy-side so the probe walk
    covers the full power-of-two bitmap)."""
    return (
        F.xxhash64(F.lit(_H1_SALT), col),
        F.xxhash64(F.lit(_H2_SALT), col),
    )


def _uint64(series: pd.Series) -> np.ndarray:
    """Signed JVM long column → uint64 view (bit-identical reinterpret)."""
    return series.to_numpy(dtype=np.int64).view(np.uint64)


def partition_of(col, num_partitions: int):
    """Deterministic partition id from xxhash64 (JVM-side, no UDF)."""
    return F.pmod(F.xxhash64(col), F.lit(num_partitions)).cast("int")


def _bit_indexes(pdf: pd.DataFrame, bitmap: np.ndarray):
    """The K_HASHES bits of every (_h1, _h2) row of ``pdf`` in ``bitmap``
    (uint8, power-of-two bit count), one (byte index, bit in byte) array
    pair per round: the one index walk shared by setting and probing."""
    h1 = _uint64(pdf["_h1"])
    h2 = _uint64(pdf["_h2"]) | np.uint64(1)  # odd stride covers 2^k bitmap
    mask = np.uint64(len(bitmap) * 8 - 1)
    for i in range(K_HASHES):
        idx = (h1 + np.uint64(i) * h2) & mask
        yield (idx >> np.uint64(3)).astype(np.int64), (idx & np.uint64(7)).astype(np.uint8)


def _set_bits(bitmap: np.ndarray, pdf: pd.DataFrame) -> None:
    """OR the bits of every row of ``pdf`` into ``bitmap`` (writable) in
    place — shared by ``build_bloom`` and ``add_to_bloom``."""
    for byte, bit in _bit_indexes(pdf, bitmap):
        np.bitwise_or.at(bitmap, byte, (1 << bit).astype(np.uint8))


def _check_m_bits(m_bits: int | None) -> None:
    if m_bits is not None and m_bits & (m_bits - 1):
        raise ValueError("m_bits must be a power of two")


def _hashed_keys(keys: DataFrame, key_col: str, num_partitions: int) -> DataFrame:
    """(part_id, _h1, _h2) per key — all hashing JVM-side."""
    h1, h2 = key_hash_cols(F.col(key_col))
    return keys.select(
        partition_of(F.col(key_col), num_partitions).alias("part_id"),
        h1.alias("_h1"),
        h2.alias("_h2"),
    )


def build_bloom(
    seen: DataFrame,
    key_col: str = "surt_key",
    num_partitions: int = 32,
    bits_per_key: int = 16,
    m_bits: int | None = None,
) -> DataFrame:
    """Seen keys → (part_id, n_keys, bitmap) rows; one bitmap per hash
    partition, built partition-locally with applyInPandas.

    ``m_bits`` (power of two) fixes the per-partition bitmap size —
    capacity-planned mode, required when filters from successive waves will
    be OR-merged incrementally (``add_to_bloom``, ``merge_blooms``)."""
    _check_m_bits(m_bits)
    fixed_bits = m_bits
    keyed = _hashed_keys(seen, key_col, num_partitions).repartition(
        num_partitions, "part_id"
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        part_id = int(pdf["part_id"].iloc[0]) if len(pdf) else 0
        n = max(len(pdf), 1)
        m_bits = fixed_bits or (1 << max(10, math.ceil(math.log2(n * bits_per_key))))
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        _set_bits(bitmap, pdf)
        return pd.DataFrame(
            {"part_id": [part_id], "num_parts": [num_partitions],
             "n_keys": [len(pdf)], "bitmap": [bitmap.tobytes()]}
        )

    return keyed.groupBy("part_id").applyInPandas(build, _BLOOM_SCHEMA)


def add_to_bloom(
    bloom: DataFrame | None,
    keys: DataFrame,
    key_col: str = "surt_key",
    num_partitions: int = 32,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """The filter after adding ``keys``: one cogrouped pass that ORs each
    key's bits straight into the prior bitmap of its partition. Output is
    byte-identical to ``merge_blooms(bloom, build_bloom(keys, ...,
    m_bits=m_bits))`` — same rows, bitmaps and ``n_keys`` — without the
    intermediate per-wave filter and its second Python-worker stage.

    A partition with keys but no prior bitmap starts from an empty one; a
    prior bitmap with no new keys passes through. ``bloom=None`` (no filter
    yet) is ``build_bloom``. The prior filter must have been built with
    ``num_partitions`` partitions of ``m_bits`` bits each: either mismatch
    raises, as in ``merge_blooms``."""
    if bloom is None:
        return build_bloom(keys, key_col=key_col, num_partitions=num_partitions,
                           m_bits=m_bits)
    _check_m_bits(m_bits)

    def add(keys_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if keys_pdf.empty:
            return bloom_pdf
        if bloom_pdf.empty:
            prior_keys, bitmap = 0, np.zeros(m_bits // 8, dtype=np.uint8)
        else:
            built_parts = int(bloom_pdf["num_parts"].iloc[0])
            if built_parts != num_partitions:
                raise ValueError(
                    f"bloom partition-count mismatch: {built_parts}"
                    f" vs {num_partitions}"
                )
            bitmap = np.frombuffer(bloom_pdf["bitmap"].iloc[0], dtype=np.uint8).copy()
            if len(bitmap) != m_bits // 8:
                raise ValueError(
                    f"bloom size mismatch: {len(bitmap)} vs {m_bits // 8} bytes — "
                    "build both with a fixed m_bits"
                )
            prior_keys = int(bloom_pdf["n_keys"].iloc[0])
        _set_bits(bitmap, keys_pdf)
        return pd.DataFrame(
            {"part_id": [int(keys_pdf["part_id"].iloc[0])],
             "num_parts": [num_partitions],
             "n_keys": [prior_keys + len(keys_pdf)], "bitmap": [bitmap.tobytes()]}
        )

    return (
        _hashed_keys(keys, key_col, num_partitions)
        .groupBy("part_id")
        .cogroup(bloom.groupBy("part_id"))
        .applyInPandas(add, _BLOOM_SCHEMA)
    )


def read_bloom(spark, path: str) -> DataFrame:
    """A filter persisted with ``DataFrame.write.parquet``, read with the
    filter's own schema (no schema-inference job)."""
    return spark.read.schema(_BLOOM_SCHEMA).parquet(path)


def merge_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two partitioned blooms of the SAME per-partition size.
    Cogrouped per part_id; a partition present on one side only passes
    through. Growing a filter by a batch of keys is ``add_to_bloom`` (one
    pass, same bytes as merging with ``build_bloom`` of the batch)."""
    def merge(a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        if a_pdf.empty:
            return b_pdf
        if b_pdf.empty:
            return a_pdf
        if int(a_pdf["num_parts"].iloc[0]) != int(b_pdf["num_parts"].iloc[0]):
            raise ValueError(
                f"bloom partition-count mismatch: {int(a_pdf['num_parts'].iloc[0])}"
                f" vs {int(b_pdf['num_parts'].iloc[0])}"
            )
        bm_a = np.frombuffer(a_pdf["bitmap"].iloc[0], dtype=np.uint8)
        bm_b = np.frombuffer(b_pdf["bitmap"].iloc[0], dtype=np.uint8)
        if len(bm_a) != len(bm_b):
            raise ValueError(
                f"bloom size mismatch: {len(bm_a)} vs {len(bm_b)} bytes — "
                "build both with a fixed m_bits"
            )
        out = a_pdf.iloc[[0]].copy()
        out["bitmap"] = [(bm_a | bm_b).tobytes()]
        out["n_keys"] = [int(a_pdf["n_keys"].iloc[0]) + int(b_pdf["n_keys"].iloc[0])]
        return out

    return (
        a.groupBy("part_id").cogroup(b.groupBy("part_id")).applyInPandas(
            merge, _BLOOM_SCHEMA
        )
    )


def probe_bloom(
    candidates: DataFrame,
    bloom: DataFrame,
    key_col: str = "surt_key",
    num_partitions: int = 32,
    keep: str = "miss",
) -> DataFrame:
    """Probe candidate keys against the partitioned filter.

    ``keep="miss"`` (default) returns rows whose key is NOT (probably) in
    the filter — the unseen frontier. Bloom false positives drop unseen URLs
    (never re-crawl a seen one): the crawl-safe direction.

    ``keep="hit"`` returns rows whose key IS (probably) in the filter — the
    rewrite path's direction (only re-point links to paths believed present).
    A false positive there rewrites a link to a path that won't exist, the
    same failure class the reference tolerates via ``missing_zim_paths``
    (rewriting.py:81).

    Implementation is a **cogrouped** applyInPandas on part_id: candidates
    hash to the same partition key as the bitmaps, so each task sees (its
    candidate batch, its single bitmap row) executor-side — no driver
    collect, no bitmap broadcast, no per-row duplication. This is the piece
    that must hold at 10^10 keys: total bitmap bytes stay sharded."""
    if keep not in ("miss", "hit"):
        raise ValueError(f"keep must be 'miss' or 'hit', got {keep!r}")
    keep_hits = keep == "hit"
    out_schema = candidates.schema
    h1c, h2c = key_hash_cols(F.col(key_col))
    with_part = (
        candidates.withColumn("_part_id", partition_of(F.col(key_col), num_partitions))
        .withColumn("_h1", h1c)
        .withColumn("_h2", h2c)
    )
    cols = [f.name for f in out_schema.fields]

    def probe(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return cand_pdf[cols]
        if bloom_pdf.empty or int(bloom_pdf["n_keys"].iloc[0]) == 0:
            # empty filter: nothing is a member
            return cand_pdf[cols].iloc[0:0] if keep_hits else cand_pdf[cols]
        built_parts = int(bloom_pdf["num_parts"].iloc[0])
        if built_parts != num_partitions:
            # a silent mismatch pairs candidates with the WRONG bitmaps and
            # every membership answer is garbage — fail loudly instead
            raise ValueError(
                f"probe num_partitions={num_partitions} but the filter was "
                f"built with {built_parts}"
            )
        bitmap = np.frombuffer(bloom_pdf["bitmap"].iloc[0], dtype=np.uint8)
        hit = np.ones(len(cand_pdf), dtype=bool)
        for byte, bit in _bit_indexes(cand_pdf, bitmap):
            hit &= ((bitmap[byte] >> bit) & 1).astype(bool)
        return cand_pdf[hit][cols] if keep_hits else cand_pdf[~hit][cols]

    return (
        with_part.groupBy("_part_id")
        .cogroup(bloom.groupBy("part_id"))
        .applyInPandas(probe, out_schema)
    )


def unseen_exact(candidates: DataFrame, seen: DataFrame, key_col: str = "surt_key") -> DataFrame:
    """Exact-mode membership: left-anti join. No ``distinct`` on the seen
    side (r06): anti-join results are invariant to duplicate build keys, so
    the dedup was a pure extra shuffle of the seen set every wave (guide
    §2.4 — a distinct on data used only for an existence probe). Callers
    that know the seen side is small may pass it wrapped in
    ``F.broadcast(...)`` to skip shuffling the candidate side entirely."""
    return candidates.join(seen.select(F.col(key_col)), key_col, "left_anti")
