"""Deterministic sampling operators for training-data curation.

A corpus pipeline samples constantly — per-language balancing, eval
holdouts, quality-tier quotas. Spark's built-ins are the wrong contract at
100 TB: ``sampleBy`` is Bernoulli (approximate counts, per-partition RNG →
results change with parallelism), ``orderBy(rand()).limit(n)`` is a global
sort with a nondeterministic key. These operators are exact and
seed-deterministic: the sampling key is ``xxhash64(seed, id)`` — a pure
column function, so the same (input, seed) selects the same rows at any
parallelism, and re-runs are reproducible without storing state.

Shapes:
* ``stratified_sample_exact`` — exactly min(n_per_stratum, |stratum|) rows
  per stratum via a per-stratum window over the hash order: one shuffle on
  the stratum key. Skew note: a hot stratum serializes its own window
  task; at zipf-like strata sizes pre-filter with
  ``approx_fraction_prefilter`` below (hash-threshold cut that needs no
  window) and window only the survivors.
* ``approx_fraction_prefilter`` — keep rows whose hash falls under
  fraction × 2^63: exact-in-expectation, zero shuffles, deterministic;
  the standard first phase for huge strata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SALT = "w2zs-sample"


def sample_key(id_col, seed: int, key: str = "xxhash64"):
    """Deterministic per-row sampling key.

    ``xxhash64`` (default): uniform 64-bit, JVM-side — the production path.
    ``md5``: hex-string key reproducible bit-for-bit in other engines
    (DuckDB's ``md5()`` yields the same hex for the same string) — used by
    the driver's cross-engine oracle check; same window logic, slower hash."""
    if key == "xxhash64":
        return F.xxhash64(F.lit(_SALT), F.lit(int(seed)), id_col)
    if key == "md5":
        return F.md5(
            F.concat_ws(
                ":", F.lit(_SALT), F.lit(str(int(seed))), id_col.cast("string")
            ).cast("binary")
        )
    raise ValueError(f"unknown sample key {key!r}: xxhash64 | md5")


def approx_fraction_prefilter(
    df: DataFrame, id_col: str, fraction: float, seed: int = 42
) -> DataFrame:
    """Keep ≈``fraction`` of rows, exactly reproducibly: hash-threshold on
    the non-negative half of the 64-bit key space. No shuffle, no RNG
    state — a pure pushdown-friendly filter."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    threshold = int(fraction * ((1 << 63) - 1))
    key = sample_key(F.col(id_col), seed)
    return df.filter(F.abs(key) <= F.lit(threshold))


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str,
    seed: int = 42,
    prefilter_fraction: float | None = None,
    key: str = "xxhash64",
) -> DataFrame:
    """Exactly min(n_per_stratum, |stratum|) rows per stratum, chosen by
    the deterministic hash order (ties impossible: the id disambiguates).

    ``prefilter_fraction`` enables the two-phase hot-stratum shape: cut
    each stratum to ≈fraction first (no shuffle), then run the exact
    window on survivors. CORRECTNESS CAVEAT, by design: the prefilter
    drops hash-order suffixes, so it must be sized to keep ≥ n_per_stratum
    rows in every stratum (fraction ≥ n_per_stratum / min_stratum_size ×
    safety); the selected rows are IDENTICAL to the unprefiltered result
    whenever that holds, because the hash order is the same — pinned in
    tests."""
    work = df
    if prefilter_fraction is not None:
        if key != "xxhash64":
            raise ValueError("prefilter_fraction requires the xxhash64 key")
        work = approx_fraction_prefilter(work, id_col, prefilter_fraction, seed)
    # order by |key| so the prefilter (|key| ≤ threshold) keeps exactly a
    # prefix of the same order — two-phase ≡ one-phase whenever sized right
    key_col = sample_key(F.col(id_col), seed, key)
    if key == "xxhash64":
        key_col = F.abs(key_col)
    w = Window.partitionBy(strata_col).orderBy(key_col.asc(), F.col(id_col).asc())
    return (
        work.withColumn("_sample_rank", F.row_number().over(w))
        .filter(F.col("_sample_rank") <= n_per_stratum)
        .drop("_sample_rank")
    )
