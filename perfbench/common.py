"""Arithmetic and host readers shared by the benchmark and its trace.

Nothing here imports Spark, so the unit tests in ``test_perfbench.py``
run in a plain Python process.
"""

from __future__ import annotations

import hashlib
import math
import os
from statistics import median

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ statistics
def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against ``xs`` (0 for fewer than
    two distinct ``xs``)."""
    n = len(xs)
    if n < 2:
        return 0.0
    xbar, ybar = sum(xs) / n, sum(ys) / n
    sxx = sum((x - xbar) ** 2 for x in xs)
    return sum((x - xbar) * (y - ybar) for x, y in zip(xs, ys)) / sxx if sxx else 0.0


def fold_series(ys: list[float]) -> tuple[float, float, float]:
    """(first, last, least-squares slope per step) of a series measured
    once per fold, e.g. refresh time against the fold index."""
    if not ys:
        return 0.0, 0.0, 0.0
    return ys[0], ys[-1], slope(list(range(len(ys))), ys)


def trace_overhead(ops: list[tuple[int, float, bool]], drifts: bool) -> float:
    """Median extra wall time of a traced op, from ``(op index, wall
    seconds, traced)`` of one run that alternates untraced and traced
    ops. Each traced op is compared with the untraced ops' median or,
    when op time ``drifts`` with the op index (history that grows every
    op), with the least-squares line through the untraced ops, so that
    growth between neighbouring ops is not counted as tracing cost."""
    plain = [(i, w) for i, w, t in ops if not t]
    traced = [(i, w) for i, w, t in ops if t]
    if not plain or not traced:
        return 0.0
    xs, ys = [i for i, _ in plain], [w for _, w in plain]
    b = slope(xs, ys) if drifts else 0.0
    a = (sum(ys) - b * sum(xs)) / len(ys) if drifts else median(ys)
    return median([w - (a + b * i) for i, w in traced])


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    counted once, and children are clipped to the parent)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ------------------------------------------------------------ /proc readers
def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def parse_stat(text: str) -> tuple[int, float, float]:
    """(ppid, own cpu seconds, cpu seconds of reaped children) from
    /proc/<pid>/stat.

    The comm field may hold spaces and parentheses, so fields are
    counted from the last ')'. utime, stime, cutime and cstime are
    fields 14-17 (1-based)."""
    rest = text[text.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    own = (int(rest[11]) + int(rest[12])) / CLK_TCK
    reaped = (int(rest[13]) + int(rest[14])) / CLK_TCK
    return ppid, own, reaped


def parse_hwm_kb(text: str) -> int:
    """VmHWM (peak resident set) in kB from /proc/<pid>/status; 0 when
    the line is absent (kernel threads, zombies)."""
    for line in text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` plus all of its live descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        text = _read(f"{proc}/{name}/stat")
        if text:
            parent[int(name)] = parse_stat(text)[0]
    tree, frontier = [root], [root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(nxt)
        frontier = nxt
    return tree


def tree_cpu_seconds(root: int, proc: str = "/proc") -> float:
    """CPU seconds of ``root`` and its descendants, including the
    children each has already reaped (Python workers that exited)."""
    total = 0.0
    for pid in process_tree(root, proc):
        text = _read(f"{proc}/{pid}/stat")
        if text:
            _, own, reaped = parse_stat(text)
            total += own + reaped
    return total


def own_cpu_seconds(pid: int, proc: str = "/proc") -> float:
    """CPU seconds of ``pid``'s own threads only."""
    text = _read(f"{proc}/{pid}/stat")
    return parse_stat(text)[1] if text else 0.0


def tree_peak_rss_mb(root: int, proc: str = "/proc") -> float:
    """Sum of VmHWM over ``root`` and its live descendants, in MB."""
    kb = 0
    for pid in process_tree(root, proc):
        text = _read(f"{proc}/{pid}/status")
        if text:
            kb += parse_hwm_kb(text)
    return kb / 1024.0


def loadavg() -> float:
    text = _read("/proc/loadavg") or "0"
    return float(text.split()[0])


def cpu_ticks(text: str) -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat:
    steal is time the hypervisor ran someone else on this VM's CPUs."""
    fields = [int(x) for x in text.split("\n", 1)[0].split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def host_cpu_ticks() -> tuple[int, int]:
    return cpu_ticks(_read("/proc/stat") or "cpu 0")


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def physical_memory_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def driver_memory_for(phys_bytes: int) -> str:
    """Driver heap: a quarter of physical memory, at least 1g and at
    most 8g. ``get_spark`` adds an off-heap region of the same order,
    so the JVM stays near half of the host."""
    return f"{max(1, min(phys_bytes // (4 << 30), 8))}g"


# ------------------------------------------------------------ result digest
def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.17g}"
    return str(v)


def digest(rows) -> str:
    """Order-insensitive digest of a result set: every row is rendered
    cell by cell (floats at round-trip precision), the rendered rows are
    sorted, and the sorted list is hashed. Equal multisets of rows give
    equal digests whatever order an engine returned them in."""
    rendered = sorted("\x1f".join(_cell(v) for v in row) for row in rows)
    h = hashlib.sha256()
    for line in rendered:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()
