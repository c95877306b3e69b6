"""Tier routing: answer downsample queries from the coarsest
sufficient materialization.

SURVEY.md §4.2.6: the one Catalyst-rule candidate (rewrite
``groupBy(date_trunc('hour'))`` over raw data to a scan of the 1h
table) is better done at the API layer — this module is that layer.
A query for frequency F is served from the coarsest tier whose
granularity divides F, merging partials (sum/count/min/max compose;
mean derived last), so e.g. a 6-hour rollup scans hours instead of
raw sequences: a 3-4 order-of-magnitude scan reduction at the
10^12-sequence design point.

The partial/final split is what makes this lossless: tier tables
store composable partials, never finalized means, and every read
below re-aggregates with the summary's own ``rollup.Partial`` merge
(pipeline/rollup.py), so re-aggregation is exact at any coarser grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.core import parse_freq
from ..pipeline import rollup
from ..pipeline.hll import phll_estimate
from ..tables import ParquetSnapshotCatalog

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
#: coarsest first — prefer the smallest scan
_PREFERENCE = ["1d", "1h", "1m"]


def _pick_tier(
    catalog: ParquetSnapshotCatalog, prefix: str, freq: str
) -> tuple[str, Column]:
    """(tier, bucket expression) serving ``freq`` from the coarsest
    materialized ``<prefix>_<tier>`` table. Calendar frequencies (M/Y)
    route to the 1d tier via date_trunc; fixed frequencies need a tier
    whose seconds divide the target and use exact epoch-second
    flooring. Raises LookupError when no materialized tier can serve
    the query (caller falls back to raw rollup)."""
    unit, secs = parse_freq(freq)
    if unit in ("month", "year"):
        fits = ["1d"]
        bucket = F.date_trunc(unit, F.col("ts")).alias("ts")
    else:
        fits = [
            t for t in _PREFERENCE
            if TIER_SECONDS[t] <= secs and secs % TIER_SECONDS[t] == 0
        ]
        bucket = F.timestamp_seconds(
            F.floor(F.unix_timestamp("ts") / secs) * secs
        ).alias("ts")
    for tier in fits:
        if catalog.exists(f"{prefix}_{tier}"):
            return tier, bucket
    raise LookupError(f"no materialized {prefix} tier serves {freq!r}")


def route_tier_query(
    spark: SparkSession,
    catalog: ParquetSnapshotCatalog,
    freq: str,
    key_cols: tuple[str, ...] = ("source",),
) -> tuple[DataFrame, str]:
    """Downsample to ``freq`` from the coarsest sufficient tier
    (``tier_<tier>`` tables: keys, ts, n_tok partials), with the mean
    derived last. Returns (result, tier_used)."""
    tier, bucket = _pick_tier(catalog, "tier", freq)
    tdf = catalog.read(spark, f"tier_{tier}")
    merged = rollup.merge(tdf, rollup.N_TOK, *key_cols, bucket)
    return rollup.with_mean(merged), tier


def route_quantile_query(
    spark: SparkSession,
    catalog: ParquetSnapshotCatalog,
    freq: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    key_cols: tuple[str, ...] = ("source",),
) -> tuple[DataFrame, str]:
    """EXACT quantiles at ``freq`` from the coarsest sufficient
    histogram tier (``hist_<tier>`` tables: keys, ts, v, cnt).

    Quantiles are holistic — they cannot be finalized then re-merged —
    but histogram partials compose by adding counts, so any coarser
    grid re-aggregates losslessly and the scan is bounded by
    |domain| rows per bucket instead of raw rows: the same 3-4
    order-of-magnitude reduction route_tier_query buys for means.
    """
    tier, bucket = _pick_tier(catalog, "hist", freq)
    hist = catalog.read(spark, f"hist_{tier}")
    merged = rollup.merge(hist, rollup.HIST, *key_cols, bucket)
    return rollup.hist_quantiles(merged, qs, key_cols=key_cols), tier


def route_distinct_query(
    spark: SparkSession,
    catalog: ParquetSnapshotCatalog,
    freq: str,
    key_cols: tuple[str, ...] = ("source",),
) -> tuple[DataFrame, str]:
    """Approximate distinct counts at ``freq`` from the coarsest
    sufficient portable-HLL register tier (``phll_<tier>`` tables:
    keys, ts, idx, rho).

    Distinct is holistic (a day's distinct is NOT the sum of its
    hours'), but HLL registers compose by register-wise MAX, so any
    coarser grid re-unions losslessly and a bucket costs ≤ m=256
    register rows whatever the id cardinality — the sketch-tier
    answer to COUNT(DISTINCT) at the 10^12-sequence design point.
    """
    tier, bucket = _pick_tier(catalog, "phll", freq)
    reg = catalog.read(spark, f"phll_{tier}")
    merged = rollup.merge(reg, rollup.PHLL, *key_cols, bucket)
    return phll_estimate(merged, key_cols=key_cols), tier
