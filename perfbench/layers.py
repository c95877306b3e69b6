"""Per-layer metrics of a traced run.

Every workload reports every key of ``UNITS``; a layer that does no work
in a workload reports 0. Timings are per traced op (median over the
traced ops unless noted), so they compare across runs of different
length. ``self.<layer>_s`` are means per traced op of each layer's self
time; they add up to ``trace.op_wall_s`` exactly, with ``untraced`` and
``pipeline.runner`` as the named remainder (see README.md).
"""

from __future__ import annotations

from statistics import median

from common import fold_series, trace_overhead
from tracing import UNTRACED, duration, layer_self_times, med, per_op, task_skew

LAYERS = (
    "pipeline.runner",
    "pipeline.bucketing",
    "pipeline.compress",
    "pipeline.rollup",
    "pipeline.lineage",
    "pipeline.incremental",
    "pipeline.retention",
    "plans.router",
    "streaming.continuous",
    "tables",
    UNTRACED,
)
#: layers whose self time is the unwrapped remainder, not a named layer
REMAINDER = ("pipeline.runner", UNTRACED)

UNITS = {
    "session.start_s": "s",
    "bucketing.salt_plan_s": "s",
    "bucketing.cells": "count",
    "bucketing.cell_skew": "ratio",
    "codec.encode_mb_per_s": "MB/s",
    "codec.decode_mb_per_s": "MB/s",
    "compress.write_s": "s",
    "compress.task_cpu_s": "s",
    "compress.python_cpu_s": "s",
    "compress.shuffle_write_bytes": "bytes",
    "compress.verify_s": "s",
    "compress.verify_task_cpu_s": "s",
    "compress.encoded_bytes": "bytes",
    "rollup.tier_1m_s": "s",
    "rollup.tier_1h_s": "s",
    "rollup.tier_1d_s": "s",
    "rollup.shuffle_write_bytes": "bytes",
    "tables.write_snapshot_s": "s",
    "tables.overwrite_partitions_s": "s",
    "tables.drop_partitions_s": "s",
    "tables.read_s": "s",
    "tables.bytes_written": "bytes",
    "tables.files_written": "count",
    "tables.manifest_bytes": "bytes",
    "lineage.append_s": "s",
    "lineage.rows": "count",
    "lineage.bytes_rewritten": "bytes",
    "incremental.refresh_self_s": "s",
    "incremental.days_touched": "count",
    "incremental.first_fold_s": "s",
    "incremental.last_fold_s": "s",
    "incremental.growth_s_per_fold": "s",
    "retention.apply_s": "s",
    "retention.partitions_dropped": "count",
    "router.plan_s": "s",
    "router.exec_s": "s",
    "router.rows_scanned_per_row_out": "ratio",
    "stream.drain_1m_s": "s",
    "stream.drain_1h_s": "s",
    "stream.drain_1d_s": "s",
    "stream.append_s": "s",
    "stream.rows_per_s": "rows/s",
    "stream.batches": "count",
    "stream.state_rows": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "spark.task_skew": "ratio",
    "trace.coverage": "fraction",
    "trace.overhead_s": "s",
    "trace.op_wall_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}


def _named(prefix: str):
    return lambda s: s["name"].startswith(prefix)


def _field(key: str):
    return lambda s: s.get(key, 0)


def per_layer(ops: list[dict], spans: list[dict], session_s: float, extra: dict) -> dict:
    traced = [o for o in ops if o.get("traced") and o["ok"]]
    spans = [s for s in spans if s["op"] is not None and "end" in s]
    lay = [o.get("layer", {}) for o in traced]
    n = max(len(traced), 1)
    out = dict.fromkeys(UNITS, 0.0)

    def dur(prefix: str) -> float:
        return med(per_op(spans, _named(prefix), duration))

    def total(prefix: str, key: str) -> float:
        return med(per_op(spans, _named(prefix), _field(key)))

    def rec(key: str) -> float:
        return med([x[key] for x in lay if key in x])

    out["session.start_s"] = session_s
    out["bucketing.salt_plan_s"] = dur("bucketing.salt_plan")
    out["bucketing.cells"] = rec("cells")
    out["bucketing.cell_skew"] = rec("cell_skew")
    out["codec.encode_mb_per_s"] = extra.get("encode_mb_per_s", 0.0)
    out["codec.decode_mb_per_s"] = extra.get("decode_mb_per_s", 0.0)

    comp = "write_snapshot[compressed]"
    out["compress.write_s"] = dur(comp)
    out["compress.task_cpu_s"] = total(comp, "task_cpu_s")
    out["compress.shuffle_write_bytes"] = total(comp, "shuffle_write_bytes")
    # Python-worker CPU in the compress write, minus the codec's share
    # at the single-core encode rate: the Arrow/Python boundary cost
    py = per_op(spans, _named(comp), _field("python_cpu_s"))
    raw_mb = [x.get("raw_bytes", 0) / 1e6 for x in lay]
    enc = extra.get("encode_mb_per_s", 0.0)
    if py and enc:
        out["compress.python_cpu_s"] = med([max(p - r / enc, 0.0) for p, r in zip(py, raw_mb)])
    out["compress.verify_s"] = dur("compress.verify")
    out["compress.verify_task_cpu_s"] = total("compress.verify", "task_cpu_s")
    out["compress.encoded_bytes"] = rec("encoded_bytes")

    for tier in ("1m", "1h", "1d"):
        out[f"rollup.tier_{tier}_s"] = dur(f"write_snapshot[tier_{tier}]")
    out["rollup.shuffle_write_bytes"] = total("write_snapshot[tier_", "shuffle_write_bytes")

    out["tables.write_snapshot_s"] = dur("write_snapshot[")
    out["tables.overwrite_partitions_s"] = dur("overwrite_partitions[")
    out["tables.drop_partitions_s"] = dur("drop_partitions_before[")
    out["tables.read_s"] = dur("read[")
    for key in ("bytes_written", "files_written", "manifest_bytes"):
        out[f"tables.{key}"] = rec(key)

    out["lineage.append_s"] = dur("lineage.append")
    out["lineage.rows"] = rec("lineage_rows")
    out["lineage.bytes_rewritten"] = rec("lineage_bytes")

    selfs_by_op = [
        layer_self_times([s for s in spans if s["op"] == o]) for o in sorted({s["op"] for s in spans})
    ]
    out["incremental.refresh_self_s"] = med(
        [x.get("pipeline.incremental", 0.0) for x in selfs_by_op]
    )
    out["incremental.days_touched"] = rec("days_touched")
    folds = [o["refresh_s"] for o in ops if o["ok"] and "day" in o]
    if folds:
        (
            out["incremental.first_fold_s"],
            out["incremental.last_fold_s"],
            out["incremental.growth_s_per_fold"],
        ) = fold_series(folds)

    out["retention.apply_s"] = dur("retention.apply")
    out["retention.partitions_dropped"] = rec("partitions_dropped")

    out["router.plan_s"] = dur("router.plan")
    out["router.exec_s"] = dur("router.exec")
    scanned = sum(s.get("input_records", 0) for s in spans if s["name"] == "router.exec")
    rows_out = sum(s.get("rows_out", 0) for s in spans if s["name"] == "router.exec")
    if rows_out:
        out["router.rows_scanned_per_row_out"] = scanned / rows_out

    streams = [o["stream"] for o in traced if "stream" in o]
    if streams:
        for tier in ("1m", "1h", "1d"):
            out[f"stream.drain_{tier}_s"] = median([s[f"drain_{tier}_s"] for s in streams])
        out["stream.append_s"] = median([s["append_s"] for s in streams])
        out["stream.rows_per_s"] = median(
            [x.get("stream_rows", 0) / s["drain_1m_s"] for x, s in zip(lay, streams)]
        )
        out["stream.batches"] = median([s["batches"] for s in streams])
        out["stream.state_rows"] = median([s["state_rows"] for s in streams])

    everything = lambda s: True  # noqa: E731
    out["spark.task_cpu_s"] = med(per_op(spans, everything, _field("task_cpu_s")))
    out["spark.gc_s"] = med(per_op(spans, everything, _field("gc_s")))
    out["spark.shuffle_write_bytes"] = med(per_op(spans, everything, _field("shuffle_write_bytes")))
    out["spark.spill_bytes"] = med(per_op(spans, everything, _field("spill_bytes")))
    out["spark.peak_exec_mem_bytes"] = max((s.get("peak_exec_mem_bytes", 0) for s in spans), default=0)
    out["spark.task_skew"] = task_skew(spans)

    selfs = layer_self_times(spans)
    wall = sum(duration(s) for s in spans if s["name"] == "op")
    for layer in LAYERS:
        out[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n
    out["trace.op_wall_s"] = wall / n
    if wall:
        named = sum(v for k, v in selfs.items() if k not in REMAINDER)
        out["trace.coverage"] = named / wall
    out["trace.overhead_s"] = trace_overhead(
        [(i, o["wall_s"], o.get("traced", False)) for i, o in enumerate(ops) if o["ok"]],
        drifts=any("day" in o for o in ops),
    )
    return out


def op_summaries(ops: list[dict]) -> list[dict]:
    """The op records without the bulky fields, for the trace file."""
    keep = ("ok", "traced", "wall_s", "refresh_s", "query_s", "rows", "day", "stream", "layer")
    return [{k: o[k] for k in keep if k in o} for o in ops]
