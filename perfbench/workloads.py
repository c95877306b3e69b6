"""The benchmark's workloads.

Each workload is a closed loop with one client: ``op(i)`` starts only
after ``op(i - 1)`` returned. ``setup`` prepares inputs and warms the
JVM and the Python workers; ``check`` verifies every op's outputs after
the timed loop; ``e2e`` turns the op records into the end-to-end
metrics. Every workload reports every end-to-end metric, so each metric
is defined for both workloads (see README.md).

The engine is driven only through public functions: ``run_pipeline``,
``refresh_all_tiers``, ``lineage.*``, ``apply_retention``,
``route_tier_query``, ``continuous_rollup`` / ``continuous_cascade``
and the ``ParquetSnapshotCatalog`` methods.
"""

from __future__ import annotations

import datetime as dt
import glob
import inspect
import os
import shutil
import time
from statistics import median

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from common import digest
from oracle import Oracle
from tracing import Tracer
from tstoolbox_spark.datagen import EPOCH
from tstoolbox_spark.pipeline import incremental, lineage, retention
from tstoolbox_spark.pipeline.runner import run_pipeline
from tstoolbox_spark.plans import router
from tstoolbox_spark.streaming import continuous
from tstoolbox_spark.tables import ParquetSnapshotCatalog
from tstoolbox_spark.timeaxis import DEFAULT_SPAN_SECONDS, with_time_axis

#: downsample queries answered from the tiers after every op
FREQS = ("15T", "6H", "D", "M")
#: the tier route_tier_query serves each of FREQS from
TIER_OF = {"15T": "1m", "6H": "1h", "D": "1d", "M": "1d"}
TIER_COLS = ["source", "ts", "n_tok_sum", "n_tok_count", "n_tok_min", "n_tok_max"]
QUERY_COLS = TIER_COLS + ["n_tok_mean"]
WARMUP_QUERY_ROUNDS = 2
EPOCH_DT = dt.datetime.fromisoformat(EPOCH)


def watermark_seconds(delay: str) -> int:
    """Seconds of a Spark watermark delay such as ``"2 hours"``."""
    n, unit = delay.split()
    return int(n) * {"second": 1, "minute": 60, "hour": 3_600, "day": 86_400}[unit.rstrip("s")]


def scan_files(root: str) -> dict[str, int]:
    """{path: size} of every file under ``root``."""
    out = {}
    for base, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def live_days(cat: ParquetSnapshotCatalog, table: str) -> set[str]:
    """Day partitions the current snapshot of ``table`` references."""
    snap = cat.current_snapshot(table) or {}
    return {
        os.path.basename(p).split("=", 1)[1]
        for g in snap.get("refs", [])
        for p in g["paths"]
    }


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.compression_ratio = 0.0

    def has_next(self, i: int) -> bool:
        return True

    def catalog_dir(self, i: int) -> str:
        raise NotImplementedError

    # ---- traced runs only: counts taken around a traced op, untimed
    def before_traced_op(self, i: int) -> dict:
        cat = ParquetSnapshotCatalog(self.catalog_dir(i))
        return {
            "dir": cat.root,
            "files": scan_files(cat.root),
            "live": {t: live_days(cat, f"tier_{t}") for t in ("1m", "1h", "1d")},
        }

    def after_traced_op(self, rec: dict, before: dict) -> None:
        root = before["dir"]
        after = scan_files(root)
        new = {p: n for p, n in after.items() if before["files"].get(p) != n}
        cat = ParquetSnapshotCatalog(root)
        lin = os.path.join(root, "lineage") + os.sep
        tier_1m = os.path.join(root, "tier_1m") + os.sep
        rec["layer"] = {
            "bytes_written": sum(new.values()),
            "files_written": sum(p.endswith(".parquet") for p in new),
            "manifest_bytes": sum(n for p, n in after.items() if p.endswith("manifest.json")),
            "lineage_bytes": sum(n for p, n in new.items() if p.startswith(lin) and p.endswith(".parquet")),
            "lineage_rows": cat.read(self.spark, "lineage").count(),
            "days_touched": len({
                p.split("day=", 1)[1].split(os.sep)[0]
                for p in new if p.startswith(tier_1m) and "day=" in p
            }),
            "partitions_dropped": sum(
                len(before["live"][t] - live_days(cat, f"tier_{t}")) for t in ("1m", "1h", "1d")
            ),
        }

    def trace_extras(self, ops: list[dict]) -> dict:
        return {}

    def answer_queries(self, cat: ParquetSnapshotCatalog) -> tuple[list[float], dict]:
        """Run FREQS through the router; (latencies, {freq: digest})."""
        lat, got = [], {}
        for freq in FREQS:
            t0 = time.perf_counter()
            df, _tier = router.route_tier_query(self.spark, cat, freq)
            with self.tracer.span("router.exec", "plans.router") as s:
                rows = df.select(*QUERY_COLS).collect()
                if s is not None:
                    s["rows_out"] = len(rows)
            lat.append(time.perf_counter() - t0)
            got[freq] = digest(rows)
        return lat, got

    def warm_queries(self, cat: ParquetSnapshotCatalog) -> None:
        # one round leaves the timed queries ~30% slower for the first ops
        for _ in range(WARMUP_QUERY_ROUNDS):
            self.answer_queries(cat)

    def e2e(self, ops: list[dict]) -> dict:
        done = [o for o in ops if o["ok"]] or ops
        rows = sum(o.get("rows", 0) for o in done)
        write_s = sum(o.get("refresh_s", 0.0) for o in done)
        lat = [x for o in done for x in o.get("query_s", [])]
        return {
            "rollup_seq_per_s": (rows / write_s if write_s else 0.0, "seq/s"),
            "refresh_p50_s": (median([o.get("refresh_s", 0.0) for o in done]), "s"),
            "tier_query_p50_s": (median(lat) if lat else 0.0, "s"),
            "op_p50_s": (median([o["wall_s"] for o in done]), "s"),
            "compression_ratio": (self.compression_ratio, "x"),
        }


# --------------------------------------------------------------- rollup_batch
class RollupBatch(Workload):
    """``run_pipeline(verify=True)`` over the run's input batch, into a
    fresh catalog per op, then the FREQS downsample queries on the tiers
    it just wrote."""

    name = "rollup_batch"
    ROWS = 150_000
    N_BUCKETS = 8
    TARGET_ROWS_PER_CELL = 20_000

    def _pipeline(self, seq: DataFrame, wd: str) -> dict:
        return run_pipeline(
            self.spark,
            seq,
            wd,
            n_buckets=self.N_BUCKETS,
            target_rows_per_cell=self.TARGET_ROWS_PER_CELL,
            verify=True,
        )

    def setup(self) -> None:
        self.input = os.path.join(self.work, "input")
        gen.sequences(self.spark, self.ROWS, self.seed).write.parquet(self.input)
        truth = os.path.join(self.work, "truth")
        with_time_axis(self.spark.read.parquet(self.input)).select("source", "ts", "n_tok").write.parquet(truth)
        self.oracle = Oracle(os.path.join(truth, "*.parquet"))
        # warm-up: one op of the same shape (a smaller one leaves the
        # first timed op ~40% slower)
        wd = os.path.join(self.work, "warmup")
        self._pipeline(self.spark.read.parquet(self.input), wd)
        self.warm_queries(ParquetSnapshotCatalog(wd))

    def catalog_dir(self, i: int) -> str:
        return os.path.join(self.work, f"op{i}")

    def op(self, i: int) -> dict:
        wd = self.catalog_dir(i)
        seq = self.spark.read.parquet(self.input)
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.run_pipeline", "pipeline.runner"):
            m = self._pipeline(seq, wd)
        refresh_s = time.perf_counter() - t0
        lat, got = self.answer_queries(ParquetSnapshotCatalog(wd))
        return {
            "refresh_s": refresh_s,
            "query_s": lat,
            "rows": m["sequences"],
            "work": wd,
            "digests": got,
            "pipeline": m,
        }

    def check(self, ops: list[dict]) -> None:
        expected = self.oracle.answer_digests(FREQS)
        for o in ops:
            if not o["ok"]:
                continue
            m = o["pipeline"]
            o["ok"] = (
                m["sequences"] == self.ROWS
                and m["roundtrip"]["mismatched"] == 0
                and m["roundtrip"]["total"] == self.ROWS
                and m["compression_ratio"] > 1.0
                and o["digests"] == expected
            )
        ratios = [o["pipeline"]["compression_ratio"] for o in ops if o["ok"]]
        self.compression_ratio = median(ratios) if ratios else 0.0

    # ---- traced runs only
    def after_traced_op(self, rec: dict, before: dict) -> None:
        super().after_traced_op(rec, before)
        m = rec["pipeline"]
        cat = ParquetSnapshotCatalog(rec["work"])
        cells = [r[0] for r in cat.read(self.spark, "compressed").select("n_rows").collect()]
        rec["layer"].update(
            raw_bytes=m["raw_bytes"],
            encoded_bytes=m["encoded_bytes"],
            cells=len(cells),
            cell_skew=max(cells) / median(cells),
        )

    def trace_extras(self, ops: list[dict]) -> dict:
        from codec_rate import codec_rates

        return codec_rates(
            self.spark, self.spark.read.parquet(self.input), self.N_BUCKETS, self.TARGET_ROWS_PER_CELL
        )


# --------------------------------------------------------------- tier_serving
class TierServing(Workload):
    """Daily folds into tiers built by the batch pipeline. Per op, one
    day: fold the day's rows plus the previous day's late rows with
    ``refresh_all_tiers``, record tier lineage, advance retention,
    answer FREQS from the tiers, and drain the day's file through the
    streaming 1m -> 1h -> 1d cascade."""

    name = "tier_serving"
    PER_DAY = 4_000
    AXIS_DAYS = DEFAULT_SPAN_SECONDS // 86_400  # days on the engine's time axis
    HISTORY_DAYS = 6
    #: folds one run may make; rows of later days are not generated
    MAX_FOLDS = 14
    #: a day's batch is cut at midnight, and the rows of its last
    #: ``continuous_cascade`` watermark (the lateness the engine's own
    #: streaming 1h/1d tiers allow: 2 hours, so 1/12 of each day) arrive
    #: with the next day's batch
    LATE_SECONDS = watermark_seconds(
        inspect.signature(continuous.continuous_cascade).parameters["watermark"].default
    )
    N_BUCKETS = 8
    TARGET_ROWS_PER_CELL = 20_000

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.cat_dir = os.path.join(self.work, "catalog")
        self.cat = ParquetSnapshotCatalog(self.cat_dir)
        self.stream = {t: os.path.join(self.work, f"stream_{t}") for t in ("in", "1m", "1h", "1d")}
        self.ckpt = {t: os.path.join(self.work, f"ckpt_{t}") for t in ("1m", "1h", "1d")}

    def has_next(self, i: int) -> bool:
        return i < self.MAX_FOLDS

    def catalog_dir(self, i: int) -> str:
        return self.cat_dir

    def after_traced_op(self, rec: dict, before: dict) -> None:
        super().after_traced_op(rec, before)
        rec["layer"]["stream_rows"] = self.count.get((rec["day"], 0), 0)

    def _rows(self, cond: str) -> DataFrame:
        return self.pool.where(cond).select(*gen.COLUMNS)

    @staticmethod
    def _arrivals(d: int) -> str:
        """Rows that arrive with day ``d``'s batch."""
        return f"(day = {d} AND late = 0) OR (day = {d - 1} AND late = 1)"

    @staticmethod
    def _folded(d: int) -> str:
        """Rows held by the tiers once day ``d`` is folded."""
        return f"day < {d} OR (day = {d} AND late = 0)"

    def _now(self, d: int) -> dt.datetime:
        return EPOCH_DT + dt.timedelta(days=d + 1)

    def _publish(self, d: int) -> None:
        """Make day ``d``'s on-time file visible to the stream source:
        copy it under a temporary name, then rename it into place."""
        for f in glob.glob(os.path.join(self.pool_dir, f"day={d}", "late=0", "*.parquet")):
            dst = os.path.join(self.stream["in"], f"day{d}-{os.path.basename(f)}")
            shutil.copyfile(f, os.path.join(self.work, "publish.tmp"))
            os.replace(os.path.join(self.work, "publish.tmp"), dst)

    def _drain(self) -> dict:
        """Drain 1m, then 1h and 1d, in availableNow mode."""
        out = {"batches": 0, "state_rows": 0}
        stages = (
            ("1m", lambda: continuous.continuous_rollup(
                self.spark, self.stream["in"], self.stream["1m"], self.ckpt["1m"])),
            ("1h", lambda: continuous.continuous_cascade(
                self.spark, self.stream["1m"], self.stream["1h"], self.ckpt["1h"], tier="1h")),
            ("1d", lambda: continuous.continuous_cascade(
                self.spark, self.stream["1h"], self.stream["1d"], self.ckpt["1d"], tier="1d")),
        )
        for tier, start in stages:
            t0 = time.perf_counter()
            with self.tracer.span(f"stream.drain_{tier}", "streaming.continuous"):
                q = start()
                q.awaitTermination()
            out[f"drain_{tier}_s"] = time.perf_counter() - t0
            out["batches"] += len(q.recentProgress)
            last = q.lastProgress or {}
            out["state_rows"] += sum(s.get("numRowsTotal", 0) for s in last.get("stateOperators", []))
        return out

    def setup(self) -> None:
        # one file per (day, late) partition: a day's on-time file is
        # what the stream source receives when the day is published
        pool_dir = os.path.join(self.work, "pool")
        pool = gen.day_pool(self.spark, self.PER_DAY * self.AXIS_DAYS, self.seed, self.LATE_SECONDS)
        pool.where(F.col("day") < self.HISTORY_DAYS + self.MAX_FOLDS).repartition(
            "day", "late"
        ).write.partitionBy("day", "late").parquet(pool_dir)
        self.pool_dir = pool_dir
        self.pool = self.spark.read.parquet(pool_dir)
        self.oracle = Oracle(os.path.join(pool_dir, "*", "*", "*.parquet"))
        counts = self.pool.groupBy("day", "late").count().collect()
        self.count = {(r["day"], r["late"]): r["count"] for r in counts}

        h = self.HISTORY_DAYS
        for path in self.stream.values():
            os.makedirs(path, exist_ok=True)
        for d in range(h):
            self._publish(d)
        # the stream's first (cold) 1m drain runs on its own thread while
        # the batch pipeline builds the same history: set-up time only
        first_1m = continuous.continuous_rollup(
            self.spark, self.stream["in"], self.stream["1m"], self.ckpt["1m"]
        )
        m = run_pipeline(
            self.spark,
            self._rows(self._folded(h - 1)),
            self.cat_dir,
            n_buckets=self.N_BUCKETS,
            target_rows_per_cell=self.TARGET_ROWS_PER_CELL,
            verify=False,
        )
        first_1m.awaitTermination()
        if m["sequences"] != sum(
            n for (d, late), n in self.count.items() if d < h - 1 or (d == h - 1 and late == 0)
        ):
            raise AssertionError(f"history build is wrong: {m}")
        self.compression_ratio = m["compression_ratio"]
        self._drain()
        self.warm_queries(self.cat)

    def op(self, i: int) -> dict:
        d = self.HISTORY_DAYS + i
        batch = with_time_axis(self._rows(self._arrivals(d)))
        t0 = time.perf_counter()
        sids = incremental.refresh_all_tiers(self.cat, self.spark, batch)
        lin = None
        for tier, snap in sids.items():
            rows = lineage.lineage_rows(
                self.cat.read(self.spark, f"tier_{tier}"), f"tier_{tier}", snap, ["source", "day"]
            )
            lin = rows if lin is None else lin.unionByName(rows)
        lineage.append_lineage(self.cat, self.spark, lin)
        retention.apply_retention(self.cat, self.spark, self._now(d))
        refresh_s = time.perf_counter() - t0
        lat, got = self.answer_queries(self.cat)
        t1 = time.perf_counter()
        self._publish(d)
        stream = self._drain()
        stream["append_s"] = time.perf_counter() - t1
        return {
            "day": d,
            "refresh_s": refresh_s,
            "query_s": lat,
            "rows": self.count.get((d, 0), 0) + self.count.get((d - 1, 1), 0),
            "digests": got,
            "stream": stream,
        }

    def _cutoff(self, tier: str, d: int) -> str:
        ttl = retention.DEFAULT_TTL_DAYS[tier]
        return (self._now(d) - dt.timedelta(days=ttl)).strftime("%Y-%m-%d")

    def check(self, ops: list[dict]) -> None:
        # every op's query answers against raw rows folded by then, cut
        # at the retention cutoff of the tier the router reads
        for o in ops:
            if o["ok"]:
                d = o["day"]
                cutoff = {f: self._cutoff(t, d) for f, t in TIER_OF.items()}
                o["ok"] = self.oracle.answer_digests(FREQS, self._folded(d), cutoff) == o["digests"]
        done = [o for o in ops if o["ok"]]
        if not done:
            return
        last = done[-1]
        d = last["day"]
        # the tiers against a full rebuild over the folded input
        for tier in ("1m", "1h", "1d"):
            got = self.cat.read(self.spark, f"tier_{tier}").select(*TIER_COLS).collect()
            exp = self.oracle.tier(tier, f"({self._folded(d)}) AND ts >= DATE '{self._cutoff(tier, d)}'")
            if digest(got) != digest(exp):
                last["ok"] = False
        # every emitted streaming bucket equals the batch rollup of the
        # streamed rows and is emitted once, and the last published day
        # reached the 1m tier
        day_start = EPOCH_DT + dt.timedelta(days=d)
        for tier in ("1m", "1h", "1d"):
            got = [tuple(r) for r in self.spark.read.parquet(self.stream[tier]).select(*TIER_COLS).collect()]
            exp = set(self.oracle.tier(tier, f"day <= {d} AND late = 0"))
            keys = {(r[0], r[1]) for r in got}
            if not got or len(keys) != len(got) or not set(got) <= exp:
                last["ok"] = False
            if tier == "1m" and max(r[1] for r in got or [(None, day_start - dt.timedelta(1))]) < day_start:
                last["ok"] = False


WORKLOADS = {w.name: w for w in (RollupBatch, TierServing)}
