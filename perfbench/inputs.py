"""Seeded benchmark inputs and their oracles, cached on disk per
(seed, page count, datagen FIXTURE_VERSION).

Everything here runs before any timed region: the engine only ever receives
the parquet tables written below. The oracles are computed once per seed,
independently of the engine (datagen's sequential crawl and DuckDB SQL over
the golden columns), and every benchmark call is checked against them.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from warc2zim_spark.sources import datagen

# the generator plants these undecodable records in every record table; the
# pipeline must quarantine exactly them and skip them under continue-on-error
POISON_URL_PREFIX = "https://statuses.example/poison-"
POISON_RECORDS = 2

# cached seed directories kept on disk (each is a few tens of MB)
KEEP_SEEDS = 6


def _write(table: pa.Table, path: Path) -> None:
    tmp = path.with_name(path.name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _seed_rows(pages: pa.Table, n: int) -> pa.Table:
    """The first ``n`` page urls as hop-0 crawl seeds of equal score."""
    urls = pages.column("url").slice(0, n)
    return pa.table(
        {
            "url": urls,
            "score": pa.array([1.0] * len(urls), pa.float64()),
            "hops": pa.array([0] * len(urls), pa.int32()),
        }
    )


class Inputs:
    """One seed's generated web: ``web/`` holds ``pages.parquet``,
    ``robots.parquet`` and ``warc_records.parquet`` (the layout
    ``run_pipeline`` reads); crawl seeds and oracles sit beside it."""

    def __init__(self, cache_root: Path, seed: int, pages: int):
        self.seed = seed
        self.pages = pages
        self.scale = f"perfbench-{pages}"
        self.dir = cache_root / f"seed{seed}-p{pages}-{datagen.FIXTURE_VERSION}"
        self.web = self.dir / "web"

    # -- generation ---------------------------------------------------------
    def ensure(self) -> "Inputs":
        """Generate the seed's web once; later runs reuse the cached files."""
        marker = self.dir / "_COMPLETE"
        if marker.exists():
            marker.touch()  # recency for eviction
            return self
        shutil.rmtree(self.dir, ignore_errors=True)
        self.web.mkdir(parents=True)
        # datagen sizes its webs by named scale; register this benchmark's
        # page count under its own name
        datagen.SCALE_PAGES.setdefault(self.scale, self.pages)
        pages, golden = datagen.generate_pages(self.scale, self.seed)
        _write(pages, self.web / "pages.parquet")
        _write(datagen.generate_robots(golden, self.seed), self.web / "robots.parquet")
        _write(
            datagen.generate_warc_records(pages, self.seed),
            self.web / "warc_records.parquet",
        )
        marker.write_text(datagen.FIXTURE_VERSION)
        self._evict_old()
        return self

    def _evict_old(self) -> None:
        done = sorted(
            (p for p in self.dir.parent.iterdir() if (p / "_COMPLETE").exists()),
            key=lambda p: (p / "_COMPLETE").stat().st_mtime,
        )
        for old in done[:-KEEP_SEEDS]:
            if old != self.dir:
                shutil.rmtree(old, ignore_errors=True)

    def crawl_seeds(self, n: int) -> Path:
        path = self.dir / f"seeds_{n}.parquet"
        if not path.exists():
            _write(_seed_rows(pq.read_table(self.web / "pages.parquet"), n), path)
        return path

    def record_count(self) -> int:
        return pq.ParquetFile(self.web / "warc_records.parquet").metadata.num_rows

    # -- oracles ------------------------------------------------------------
    def crawl_oracle(self, wl) -> Path:
        """The sequential reference crawl for a crawl workload's seeds and
        budgets."""
        path = self.dir / (
            f"oracle_crawl_s{wl.n_seeds}_w{wl.max_waves}_h{wl.host_budget}"
            f"_b{wl.wave_budget}.parquet"
        )
        if not path.exists():
            _write(
                datagen.sequential_crawl(
                    pq.read_table(self.web / "pages.parquet", columns=["url", "html"]),
                    pq.read_table(self.web / "robots.parquet"),
                    pq.read_table(self.crawl_seeds(wl.n_seeds)),
                    max_waves=wl.max_waves,
                    host_budget=wl.host_budget,
                    wave_budget=wl.wave_budget,
                ),
                path,
            )
        return path

    def items_oracle(self) -> Path:
        """First record per golden ``zim_path_g`` in (file_seq, rec_seq)
        order among processable non-empty responses, with the planted
        undecodable records skipped (continue-on-error semantics)."""
        path = self.dir / "oracle_items.parquet"
        if not path.exists():
            rec = self.web / "warc_records.parquet"
            sql = f"""
              WITH content AS (
                SELECT *, coalesce(urlkey_g, url) AS eff_url
                FROM read_parquet('{rec}')
                WHERE rec_type IN ('response', 'revisit')
                  AND url IS NOT NULL AND url <> ''
                  AND (url LIKE 'http://%' OR url LIKE 'https://%')
                  AND zim_path_g IS NOT NULL
                  AND NOT starts_with(url, '{POISON_URL_PREFIX}')
              ),
              cand AS (
                SELECT zim_path_g AS zim_path, eff_url AS url, mime, status,
                       octet_length(payload) AS payload_len, file_seq, rec_seq,
                       (coalesce(mime, '') LIKE 'text/html%'
                        OR coalesce(mime, '') LIKE 'application/pdf%') AS is_front,
                       row_number() OVER (
                         PARTITION BY zim_path_g ORDER BY file_seq, rec_seq) AS rn
                FROM content
                WHERE rec_type = 'response' AND status IN (200, 201, 202, 203)
                  AND octet_length(payload) > 0
              )
              SELECT zim_path, url, mime, status, payload_len, file_seq,
                     rec_seq, is_front
              FROM cand WHERE rn = 1
            """
            with duckdb.connect() as con:
                _write(con.sql(sql).arrow(), path)
        return path


# -- output checks (each returns the number of rows checked, or raises) ------

class OracleMismatch(AssertionError):
    pass


def _diff_count(con, a: str, b: str) -> int:
    return con.sql(
        f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b})))"
        f"     + (SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))"
    ).fetchone()[0]


def check_schedule(schedule_glob: str, oracle: Path) -> int:
    """The crawl schedule must equal the sequential oracle row for row,
    including wave, hops and score."""
    cols = "wave, url, surt_key, host, hops, round(score, 9) AS score"
    with duckdb.connect() as con:
        got = f"SELECT {cols} FROM read_parquet('{schedule_glob}', hive_partitioning = false)"
        want = f"SELECT {cols} FROM read_parquet('{oracle}')"
        diff = _diff_count(con, got, want)
        n = con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
    if diff:
        raise OracleMismatch(f"schedule differs from oracle in {diff} row(s)")
    return n


def check_convert(out_dir: Path, inputs: Inputs) -> int:
    """Items equal the first-wins oracle, the fails sink holds exactly the
    planted records, and the text sink is byte-identical to ``pages.text``."""
    item_cols = "zim_path, url, mime, status, payload_len, file_seq, rec_seq, is_front"
    with duckdb.connect() as con:
        got = (
            f"SELECT {item_cols} FROM read_parquet('{out_dir}/items/*.parquet') "
            "WHERE file_seq >= 0"
        )
        want = f"SELECT {item_cols} FROM read_parquet('{inputs.items_oracle()}')"
        diff = _diff_count(con, got, want)
        if diff:
            raise OracleMismatch(f"items differ from oracle in {diff} row(s)")
        n_items = con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
        fails = con.sql(
            f"SELECT count(*), count(*) FILTER (WHERE starts_with(url, "
            f"'{POISON_URL_PREFIX}')) FROM read_parquet('{out_dir}/fails/*.parquet')"
        ).fetchone()
        if fails != (POISON_RECORDS, POISON_RECORDS):
            raise OracleMismatch(f"fails sink holds {fails[0]} rows, "
                                 f"{fails[1]} of them planted")
        text_diff = _diff_count(
            con,
            f"SELECT url, text FROM read_parquet('{out_dir}/text/*.parquet')",
            f"SELECT url, text FROM read_parquet('{inputs.web}/pages.parquet')",
        )
        if text_diff:
            raise OracleMismatch(f"text sink differs in {text_diff} row(s)")
    return n_items
