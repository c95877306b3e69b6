"""Spans around the engine's public functions, and Spark task metrics
folded into them.

A traced run installs wrappers from this file only; nothing inside
``tstoolbox_spark`` changes. Each wrapper opens a span (name, layer,
start, end, parent, op id) and sets the Spark local property
``perfbench.span`` to the span id, so every Spark job launched under the
span carries it. After the session stops, ``fold_event_log`` reads the
uncompressed JSON event log and adds each task's metrics to the span its
stage was tagged with.

Because Spark is lazy, a catalog write span contains the Spark job that
computes the DataFrame being written. Write spans are therefore given
the layer that produced the data (see ``_catalog_layer``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from statistics import median

from common import own_cpu_seconds, self_times, tree_cpu_seconds

SPAN_PROPERTY = "perfbench.span"
UNTRACED = "untraced"


class Tracer:
    """Collects spans in memory; a disabled tracer records nothing."""

    def __init__(self, spark=None, enabled: bool = False, jvm_pid: int | None = None):
        self.spark = spark
        self.enabled = enabled
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op: int | None = None

    def _set_property(self, value: str | None) -> None:
        self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    def python_cpu(self) -> float:
        """CPU seconds of the JVM's descendants (the Python workers)."""
        return tree_cpu_seconds(self.jvm_pid) - own_cpu_seconds(self.jvm_pid)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, sample_python: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_property(str(s["id"]))
        py0 = self.python_cpu() if sample_python else None
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            if py0 is not None:
                s["python_cpu_s"] = self.python_cpu() - py0
            self._stack.pop()
            self._set_property(str(parent["id"]) if parent else None)


# ---------------------------------------------------------------- wrappers
def _wrap(owner, attr: str, tracer: Tracer, name, layer, sample_python=False) -> None:
    """Replace ``owner.attr`` with a wrapper that opens a span. ``name``
    and ``layer`` may be callables of the call's arguments."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        n = name(*args, **kwargs) if callable(name) else name
        lay = layer(*args, **kwargs) if callable(layer) else layer
        sp = sample_python(*args, **kwargs) if callable(sample_python) else sample_python
        with tracer.span(n, lay, sample_python=sp):
            return fn(*args, **kwargs)

    setattr(owner, attr, wrapper)


def _table_arg(args, kwargs, pos: int) -> str:
    return kwargs.get("table", args[pos] if len(args) > pos else "?")


def _catalog_layer(method: str, table: str) -> str:
    if method == "write_snapshot":
        if table == "compressed":
            return "pipeline.compress"
        if table.startswith("tier_"):
            return "pipeline.rollup"
        if table == "lineage":
            return "pipeline.lineage"
    if method == "overwrite_partitions" and table.startswith("tier_"):
        return "pipeline.incremental"
    return "tables"


def install(tracer: Tracer) -> None:
    """Wrap each layer's public functions in spans."""
    from tstoolbox_spark import tables
    from tstoolbox_spark.pipeline import bucketing, compress, incremental, lineage, retention
    from tstoolbox_spark.plans import router

    _wrap(bucketing, "bucketed", tracer, "bucketing.salt_plan", "pipeline.bucketing")
    _wrap(compress, "verify_roundtrip", tracer, "compress.verify", "pipeline.compress", True)
    _wrap(lineage, "append_lineage", tracer, "lineage.append", "pipeline.lineage")
    _wrap(lineage, "completed_units", tracer, "lineage.completed_units", "pipeline.lineage")
    _wrap(incremental, "refresh_all_tiers", tracer, "incremental.refresh", "pipeline.incremental")
    _wrap(incremental, "touched_days", tracer, "incremental.touched_days", "pipeline.incremental")
    _wrap(retention, "apply_retention", tracer, "retention.apply", "pipeline.retention")
    _wrap(router, "route_tier_query", tracer, "router.plan", "plans.router")

    cat = tables.ParquetSnapshotCatalog
    # (method, position of the table argument counting self)
    for method, pos in (
        ("write_snapshot", 2),
        ("overwrite_partitions", 3),
        ("drop_partitions_before", 2),
        ("read", 2),
    ):
        _wrap(
            cat,
            method,
            tracer,
            name=lambda *a, _m=method, _p=pos, **k: f"{_m}[{_table_arg(a, k, _p)}]",
            layer=lambda *a, _m=method, _p=pos, **k: _catalog_layer(_m, _table_arg(a, k, _p)),
            sample_python=lambda *a, _m=method, _p=pos, **k: (
                _m == "write_snapshot" and _table_arg(a, k, _p) == "compressed"
            ),
        )


# ---------------------------------------------------------------- event log
def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: a rolling ``eventlog_v2_*``
    directory of ``events_*`` parts, or one plain file per app."""
    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if parts:
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p) and not p.endswith(".crc")
    )


def fold_event_log(lines, spans: list[dict]) -> None:
    """Add task metrics to the span each stage was tagged with.

    Per span: task count, executor run/CPU/GC seconds, shuffle bytes
    written, bytes spilled, input records, peak execution memory (max
    of on- and off-heap), and per-stage task durations for skew."""
    by_id = {s["id"]: s for s in spans}
    stage_span: dict[int, int] = {}
    for line in lines:
        if '"SparkListenerStageSubmitted"' not in line and '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerStageSubmitted":
            sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            if sid is not None and int(sid) in by_id:
                stage_span[ev["Stage Info"]["Stage ID"]] = int(sid)
            continue
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        sid = stage_span.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if sid is None or not m:
            continue
        s = by_id[sid]
        info = ev["Task Info"]
        s["tasks"] = s.get("tasks", 0) + 1
        s["task_run_s"] = s.get("task_run_s", 0.0) + m["Executor Run Time"] / 1e3
        s["task_cpu_s"] = s.get("task_cpu_s", 0.0) + m["Executor CPU Time"] / 1e9
        s["gc_s"] = s.get("gc_s", 0.0) + m["JVM GC Time"] / 1e3
        s["shuffle_write_bytes"] = s.get("shuffle_write_bytes", 0) + (
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        )
        s["spill_bytes"] = (
            s.get("spill_bytes", 0) + m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        )
        s["input_records"] = s.get("input_records", 0) + (
            m.get("Input Metrics", {}).get("Records Read", 0)
        )
        peak = max(
            m.get("Peak Execution Memory", 0),
            m.get("Peak On Heap Execution Memory", 0),
            m.get("Peak Off Heap Execution Memory", 0),
        )
        s["peak_exec_mem_bytes"] = max(s.get("peak_exec_mem_bytes", 0), peak)
        dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
        s.setdefault("stage_task_s", {}).setdefault(str(ev["Stage ID"]), []).append(dur)


def read_event_log(log_dir: str, spans: list[dict]) -> None:
    for path in event_log_files(log_dir):
        with open(path) as f:
            fold_event_log(f, spans)


# ---------------------------------------------------------------- summaries
def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self seconds per layer, summed over all spans."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def per_op(spans: list[dict], pick, value) -> list[float]:
    """One value per traced op: ``value`` summed over spans chosen by
    ``pick`` (0 for an op with no such span)."""
    ops = sorted({s["op"] for s in spans if s["op"] is not None})
    return [sum(value(s) for s in spans if s["op"] == op and pick(s)) for op in ops]


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def med(values: list[float]) -> float:
    return median(values) if values else 0.0


def task_skew(spans: list[dict]) -> float:
    """Largest max/median task duration over stages with 4+ tasks."""
    skews = []
    for s in spans:
        for durs in s.get("stage_task_s", {}).values():
            if len(durs) >= 4 and median(durs) > 0:
                skews.append(max(durs) / median(durs))
    return max(skews) if skews else 1.0
