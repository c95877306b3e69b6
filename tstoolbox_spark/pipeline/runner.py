"""End-to-end rollup + retention job.

    sequences (doc_id, tokens, n_tok, source)
      → derive ts (timeaxis)                       [narrow]
      → salted bucket + repartition                [shuffle 1]
      → Gorilla-compress cells (applyInArrow)      [no shuffle]
      → write compressed table + lineage           [snapshot commit]
      → round-trip verify (decode → token equality)
      → tier 1m from raw                           [shuffle 2]
      → tier 1h from 1m, tier 1d from 1h           [tiny shuffles]
      → write tiers (day-partitioned) + lineage    [snapshot commits]
      → TTL retention drops

Designed to be launched via ``spark-submit --py-files <zip> -m`` on a
cluster; scripts/submit_job.py is the entry. Resume: pass the same
``--work-dir`` — completed compress cells are anti-joined away via
lineage (lineage.pending_units) and tier writes are idempotent
snapshot swaps.
"""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import ParquetSnapshotCatalog
from ..timeaxis import with_time_axis
from . import bucketing, compress, lineage, retention, rollup


def _read_compressed(catalog: ParquetSnapshotCatalog, spark: SparkSession) -> DataFrame:
    """Read the compressed table, backfilling ``enc_bytes`` for
    snapshots written before that column existed (schema migration:
    enc_bytes == blob length, so F.length(blob) reconstructs it at the
    cost of one scan of the legacy snapshot only)."""
    comp = catalog.read(spark, "compressed")
    if "enc_bytes" not in comp.columns:
        comp = comp.withColumn("enc_bytes", F.length("blob").cast("long"))
    return comp


def run_pipeline(
    spark: SparkSession,
    sequences: DataFrame,
    work_dir: str,
    n_buckets: int = bucketing.DEFAULT_BUCKETS,
    target_rows_per_cell: int = 250_000,
    verify: bool = True,
    ttl_days: dict[str, int] | None = None,
    now: dt.datetime | None = None,
    key_cols: tuple[str, ...] = ("source",),
) -> dict:
    """Run the full pipeline; returns a metrics dict (the bench harness
    reads sequences/sec from it)."""
    catalog = ParquetSnapshotCatalog(work_dir)
    metrics: dict = {}
    phases: dict[str, float] = {}
    metrics["phases"] = phases
    t0 = time.time()

    def mark(name: str, since: list[float]) -> None:
        now_ = time.time()
        phases[name] = round(now_ - since[0], 2)
        since[0] = now_

    tick = [t0]
    seq = with_time_axis(sequences)
    cells = bucketing.bucketed(seq, target_rows_per_cell, n_buckets)
    cells.persist()
    n_seq = cells.count()
    metrics["sequences"] = n_seq
    mark("scan_bucket_cache", tick)

    # ---- compress stage (resume-aware) --------------------------------
    all_units = cells.select(
        F.concat_ws(
            "/", F.col("source"), F.col("bucket").cast("string"), F.col("salt").cast("string")
        ).alias("unit")
    ).distinct()
    done = lineage.completed_units(catalog, spark, "compress")
    pending = lineage.pending_units(all_units, done)
    n_pending = pending.count()
    metrics["cells_pending"] = n_pending
    mark("resume_bookkeeping", tick)
    if n_pending > 0:
        todo = cells.join(
            pending.withColumn("source", F.split("unit", "/")[0])
            .withColumn("bucket", F.split("unit", "/")[1].cast("int"))
            .withColumn("salt", F.split("unit", "/")[2].cast("int"))
            .drop("unit"),
            ["source", "bucket", "salt"],
            "left_semi",
        )
        comp = compress.compress(todo)
        if catalog.exists("compressed") and done is not None:
            comp = _read_compressed(catalog, spark).unionByName(comp)
        snap = catalog.write_snapshot(comp, "compressed", compression="uncompressed")
        written = catalog.read(spark, "compressed")
        lin = lineage.lineage_rows(written, "compress", snap, ["source", "bucket", "salt"])
        lineage.append_lineage(catalog, spark, lin)
        metrics["compress_snapshot"] = snap
    mark("compress_write_lineage", tick)

    comp = _read_compressed(catalog, spark)
    # int columns only — parquet column pruning keeps the blob payload
    # on disk (F.length(blob) here would re-scan every encoded byte)
    sizes = comp.agg(
        F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc")
    ).collect()[0]
    metrics["raw_bytes"] = sizes["raw"]
    metrics["encoded_bytes"] = sizes["enc"]
    metrics["compression_ratio"] = (sizes["raw"] or 1) / max(sizes["enc"] or 1, 1)
    mark("size_stats", tick)

    # ---- round-trip verification (north-rule invariant) ---------------
    if verify:
        rt = compress.verify_roundtrip(cells, compress.decompress(comp), mode="hash")
        metrics["roundtrip"] = rt
        if rt["mismatched"]:
            raise AssertionError(f"token round-trip mismatch: {rt}")
        mark("verify", tick)

    # ---- tier cascade ---------------------------------------------------
    t_roll = time.time()

    tier_1m = rollup.rollup_base(cells, "1m", key_cols)
    snap_1m = catalog.write_snapshot(
        rollup.day_layout(tier_1m, key_cols), "tier_1m", partition_by=["day"]
    )
    tier_1h = rollup.rollup_cascade(catalog.read(spark, "tier_1m"), "1h", key_cols)
    snap_1h = catalog.write_snapshot(
        rollup.day_layout(tier_1h, key_cols), "tier_1h", partition_by=["day"]
    )
    tier_1d = rollup.rollup_cascade(catalog.read(spark, "tier_1h"), "1d", key_cols)
    snap_1d = catalog.write_snapshot(
        rollup.day_layout(tier_1d, key_cols), "tier_1d", partition_by=["day"]
    )
    tier_lineage = None
    for tier, snap in [("1m", snap_1m), ("1h", snap_1h), ("1d", snap_1d)]:
        tdf = catalog.read(spark, f"tier_{tier}")
        lin = lineage.lineage_rows(tdf, f"tier_{tier}", snap, list(key_cols) + ["day"])
        tier_lineage = lin if tier_lineage is None else tier_lineage.unionByName(lin)
    lineage.append_lineage(catalog, spark, tier_lineage)
    mark("tiers_write_lineage", tick)
    metrics["tier_snapshots"] = {"1m": snap_1m, "1h": snap_1h, "1d": snap_1d}
    metrics["rollup_seconds"] = time.time() - t_roll

    # ---- retention ------------------------------------------------------
    if ttl_days:
        metrics["retention_snapshots"] = retention.apply_retention(
            catalog, spark, now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None), ttl_days
        )

    cells.unpersist()
    metrics["total_seconds"] = time.time() - t0
    metrics["sequences_per_second"] = n_seq / metrics["total_seconds"]
    return metrics
