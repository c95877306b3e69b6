#!/usr/bin/env python3
"""Benchmark of the rollup engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload rollup_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics of a traced run
(spans around each layer's public functions plus Spark task metrics
from the event log). See README.md for the workloads and metrics.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``. Everything the run writes lives under ``.perfbench/`` in
the checkout and is removed at exit, except the trace file
``.perfbench/trace-<workload>-<seed>.json`` of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and put the
    checkout on the Python workers' path."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # collected timestamps become naive datetimes in the local zone;
    # pin it to the session's UTC so they compare with the oracle's
    os.environ["TZ"] = "UTC"
    time.tzset()
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCALDIR"] = os.path.join(work, "local")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )


def start_session(work: str, trace: bool):
    from common import driver_memory_for, physical_memory_bytes
    from tstoolbox_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        "perfbench",
        parallelism=len(os.sched_getaffinity(0)),
        driver_memory=driver_memory_for(physical_memory_bytes()),
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop the context, then close the gateway JVM and wait for it."""
    gw = spark.sparkContext._gateway
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    from common import host_cpu_ticks, loadavg, steal_share, tree_cpu_seconds, tree_peak_rss_mb
    from tracing import UNTRACED, Tracer, install, read_event_log
    import layers
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work, args.trace)
    session_s = time.perf_counter() - t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    tracer = Tracer(spark, enabled=False, jvm_pid=jvm_pid)
    if args.trace:
        install(tracer)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0
        load_before, ticks_before = loadavg(), host_cpu_ticks()
        # a traced run alternates untraced and traced ops for twice the
        # time, so the tracing overhead is measured in the same process
        budget = args.seconds * (2 if args.trace else 1)
        ops: list[dict] = []
        cpu0 = tree_cpu_seconds(jvm_pid)
        loop0 = time.perf_counter()
        while wl.has_next(len(ops)) and (not ops or time.perf_counter() - loop0 < budget):
            i = len(ops)
            traced = bool(args.trace) and i % 2 == 1
            before = wl.before_traced_op(i) if traced else None
            tracer.enabled, tracer.op = traced, i
            start = time.perf_counter()
            try:
                with tracer.span("op", UNTRACED):
                    rec = wl.op(i)
                rec["ok"] = True
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                log(f"op {i} failed:\n{traceback.format_exc()}")
                rec = {"ok": False}
            rec["wall_s"] = time.perf_counter() - start
            rec["traced"] = traced
            tracer.enabled = False
            log(f"op {i}: {rec['wall_s']:.2f}s" + (" traced" if traced else ""))
            if traced and rec["ok"]:
                wl.after_traced_op(rec, before)
            ops.append(rec)
        cpu_s = (tree_cpu_seconds(jvm_pid) - cpu0) / len(ops)
        peak_rss_mb = tree_peak_rss_mb(jvm_pid)
        load_after, ticks_after = loadavg(), host_cpu_ticks()
        loop_s = time.perf_counter() - loop0
        wl.check(ops)
        failed = sum(not o["ok"] for o in ops)
        log(
            f"{args.workload} seed={args.seed}: {len(ops)} ops, {failed} failed, "
            f"session {session_s:.2f}s, setup {setup_s:.2f}s, loop {loop_s:.2f}s, "
            f"check {time.perf_counter() - loop0 - loop_s:.2f}s, "
            f"load {load_before:.2f} -> {load_after:.2f}, "
            f"cpu steal {100 * steal_share(ticks_before, ticks_after):.1f}%"
        )
        if args.trace:
            extra = wl.trace_extras(ops)
    finally:
        stop_session(spark)

    if args.trace:
        read_event_log(os.path.join(work, "eventlog"), tracer.spans)
        metrics = layers.per_layer(ops, tracer.spans, session_s, extra)
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"ops": layers.op_summaries(ops), "spans": tracer.spans}, f, default=str)
        units = layers.UNITS
    else:
        metrics = wl.e2e(ops)
        metrics.update(
            setup_s=(setup_s, "s"),
            cpu_s=(cpu_s, "s"),
            peak_rss_mb=(peak_rss_mb, "MB"),
            ok_ratio=((len(ops) - failed) / len(ops), "fraction"),
        )
        units = {k: u for k, (_, u) in metrics.items()}
        metrics = {k: v for k, (v, _) in metrics.items()}
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "tstoolbox_spark")):
        log(f"no tstoolbox_spark package next to perfbench/ under {ROOT}")
        return 2
    sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))
    work = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
