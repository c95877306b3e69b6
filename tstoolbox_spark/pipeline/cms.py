"""Count-min sketch tiers: heavy-hitter counts for UNBOUNDED key domains.

Companion to the exact histogram partials (`rollup.hist_base`, bounded
int domains) and HLL distinct tiers: a count-min sketch (Cormode &
Muthukrishnan 2005) gives (ε, δ)-approximate frequencies for key
domains too large to materialize — user ids, URLs, token ids at
10^12-sequence scale — from partials that compose losslessly (the
counter grid is a plain sum, so map-side combine, tier cascade and
late-batch merge all work exactly like the other tier partials).

Hashing is the repo's portable md5 scheme (`textops.dedup.md5int`),
so the sketch is deterministic, partitioning-independent, and
reproducible bit-for-bit in any engine (the DuckDB oracle rebuilds
the same grid). Estimates are the classic min-over-rows upper bound:
``est(k) = min_j grid[j][h_j(k)] >= true(k)``, with overestimate
probability ≤ δ = (1/2)^depth at width = 2e/ε.

Sketch size is depth × width counters per tier bucket — metadata
scale (default 4 × 2048 BIGINTs ≈ 64 KiB) regardless of input rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..textops.dedup import md5int
from . import rollup

#: default grid — ε ≈ 2e/2048 ≈ 0.0027 of the L1 mass, δ = 1/16
CMS_DEPTH = 4
CMS_WIDTH = 2048


def cms_bucket(key: Column, j: int, width: int = CMS_WIDTH) -> Column:
    """Row j's bucket for a key: md5(key || '|cms<j>') mod width."""
    return md5int(F.concat(key.cast("string"), F.lit(f"|cms{j}"))) % F.lit(
        width
    )


def cms_cells(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """One (carry…, j, bucket) row per input row and sketch row j — the
    shared front end of the batch grid, its streaming twin and the
    probe side of :func:`cms_estimate`."""
    k = F.col(key_col)
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                cms_bucket(k, j, width).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return df.select(*carry_cols, F.explode(pairs).alias("jb")).select(
        *carry_cols, "jb.j", "jb.bucket"
    )


def cms_partials(
    df: DataFrame,
    key_col: str,
    tier: str | None = "1d",
    ts_col: str = "ts",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch grid: one row per (tier bucket, j, bucket)
    with its counter. ``weight_col`` switches from row counts to
    weighted counts (e.g. n_tok mass instead of sequence count).

    Scale shape: a depth-way explode (rows × depth, all narrow ints)
    into one hash aggregate whose output is bounded by
    depth × width × tier-buckets rows — partial aggregation collapses
    the explosion map-side, so the shuffle moves at most the grid.
    """
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    carry = ([ts_col] if tier is not None else []) + ["__w"]
    rows = cms_cells(df.withColumn("__w", w), key_col, depth, width, carry)
    return rollup.base(rows, rollup.CMS, tier, (), ts_col)


def cms_merge(partials: DataFrame, tier: str | None = None) -> DataFrame:
    """Fold finer partials into a coarser tier (or a single global
    grid when ``tier`` is None) — a plain re-sum, exact."""
    return rollup.cascade(partials, rollup.CMS, tier)


def cms_estimate(
    partials: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Point-estimate counts for a (small) probe-key frame against the
    grid: ``est = min_j counter[j][h_j(key)]`` with absent counters
    read as 0. ``group_cols`` names partial columns the probes also
    carry (e.g. ``ts`` for tiered grids).

    The probe side explodes to probes × depth rows; the GRID is the
    broadcast build side of the left join — it is bounded by
    depth × width × tier-buckets counters regardless of input size
    (that bound is the whole point of a sketch), while the probe side
    streams, so neither big-table shuffle nor driver collection
    appears anywhere.
    """
    probe_rows = cms_cells(
        probes, key_col, depth, width, carry_cols=(*group_cols, key_col)
    )
    joined = probe_rows.join(
        F.broadcast(partials), on=[*group_cols, "j", "bucket"], how="left"
    )
    return joined.groupBy(*group_cols, key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
    )
