"""DuckDB oracle for the workloads' outputs.

Expected answers are computed with DuckDB straight from a parquet file
of raw (source, ts, n_tok) rows: no Spark, no tier, no partial merge.
The ts column is the engine's own derived time axis, written next to the
raw rows during set-up, because DuckDB has no xxhash64 to derive it.
Results are compared as order-insensitive digests (``common.digest``).
"""

from __future__ import annotations

import duckdb

from common import digest
from tstoolbox_spark.operators.core import parse_freq

TIER_UNIT = {"1m": "minute", "1h": "hour", "1d": "day"}
PARTIALS = (
    "sum(n_tok)::BIGINT AS n_tok_sum, count(n_tok)::BIGINT AS n_tok_count, "
    "min(n_tok)::INTEGER AS n_tok_min, max(n_tok)::INTEGER AS n_tok_max"
)


def _bucket(freq: str) -> str:
    """The ``route_tier_query`` bucket of ``freq`` as DuckDB SQL:
    calendar units via date_trunc, fixed ones by flooring epoch time."""
    unit, secs = parse_freq(freq)
    if unit in ("month", "year"):
        return f"date_trunc('{unit}', ts)::TIMESTAMP"
    us = secs * 1_000_000
    return f"make_timestamp((epoch_us(ts) // {us}) * {us})"


class Oracle:
    def __init__(self, raw_glob: str):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW raw AS SELECT * REPLACE (ts::TIMESTAMP AS ts) "
            f"FROM read_parquet('{raw_glob}', hive_partitioning = true)"
        )

    def _rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def answer(self, freq: str, where: str = "TRUE") -> list[tuple]:
        """Rows of ``route_tier_query(freq)`` (QUERY_COLS order) over the
        raw rows matching ``where``."""
        return self._rows(
            f"SELECT source, {_bucket(freq)} AS ts, {PARTIALS}, "
            "sum(n_tok)::BIGINT / count(n_tok)::BIGINT AS n_tok_mean "
            f"FROM raw WHERE {where} GROUP BY ALL"
        )

    def tier(self, tier: str, where: str = "TRUE") -> list[tuple]:
        """Rows of a tier table (source, ts, partials) rebuilt from scratch
        over the raw rows matching ``where``."""
        return self._rows(
            f"SELECT source, date_trunc('{TIER_UNIT[tier]}', ts)::TIMESTAMP AS ts, {PARTIALS} "
            f"FROM raw WHERE {where} GROUP BY ALL"
        )

    def answer_digests(self, freqs, where: str = "TRUE", cutoff: dict | None = None) -> dict:
        """{freq: digest} of the answers, each optionally restricted to
        rows on or after ``cutoff[freq]`` (a retention cutoff date)."""
        out = {}
        for freq in freqs:
            w = where if cutoff is None else f"({where}) AND ts >= DATE '{cutoff[freq]}'"
            out[freq] = digest(self.answer(freq, w))
        return out
