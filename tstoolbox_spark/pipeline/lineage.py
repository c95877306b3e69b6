"""Per-partition lineage + metrics, and checkpoint/resume bookkeeping.

north_rule: "resumable from Iceberg-snapshot checkpoints with
per-partition lineage and metrics rows."

Every pipeline stage writes, together with its data snapshot, a
lineage table whose rows are the stage's work units:

    unit     '<source>/<bucket>/<salt>' (compress) or '<source>/<day>'
    stage    'compress' | 'tier_1m' | 'tier_1h' | 'tier_1d'
    snapshot the data snapshot id this unit landed in
    rows_out the unit's row count: sequences (sum of ``n_rows``) for a
             compressed cell, tier rows for a tier unit

Resume contract: a restarted run lists pending units, anti-joins them
against lineage rows of completed snapshots, and processes only the
remainder; because data + lineage commit under the same snapshot swap
(tables.write_snapshot is atomic), a unit is either fully present with
its lineage row or absent — never double-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import ParquetSnapshotCatalog

LINEAGE_TABLE = "lineage"


def lineage_rows(
    df: DataFrame, stage: str, snapshot: str, unit_cols: list[str]
) -> DataFrame:
    """Build lineage rows from a stage output: one row per work unit."""
    unit = F.concat_ws("/", *[F.col(c).cast("string") for c in unit_cols])
    return df.groupBy(unit.alias("unit")).agg(
        F.lit(stage).alias("stage"),
        F.lit(snapshot).alias("snapshot"),
        F.sum(F.coalesce(F.col("n_rows"), F.lit(1))).alias("rows_out")
        if "n_rows" in df.columns
        else F.count("*").alias("rows_out"),
    )


def append_lineage(
    catalog: ParquetSnapshotCatalog, spark: SparkSession, rows: DataFrame
) -> str:
    """Append lineage rows as a new lineage snapshot (old + new union —
    lineage is tiny: one row per work unit per stage)."""
    if catalog.exists(LINEAGE_TABLE):
        prev = catalog.read(spark, LINEAGE_TABLE)
        rows = prev.unionByName(rows)
    return catalog.write_snapshot(rows, LINEAGE_TABLE)


def completed_units(
    catalog: ParquetSnapshotCatalog, spark: SparkSession, stage: str
) -> DataFrame | None:
    """Units already done for a stage (None when no lineage yet)."""
    if not catalog.exists(LINEAGE_TABLE):
        return None
    return (
        catalog.read(spark, LINEAGE_TABLE)
        .filter(F.col("stage") == stage)
        .select("unit")
        .distinct()
    )


def pending_units(all_units: DataFrame, done: DataFrame | None) -> DataFrame:
    """Anti-join the stage's work-unit list against completed lineage."""
    if done is None:
        return all_units
    return all_units.join(done, "unit", "left_anti")
