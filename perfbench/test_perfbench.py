"""Tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math

import pytest

from common import (
    CLK_TCK,
    cpu_ticks,
    digest,
    driver_memory_for,
    fold_series,
    parse_hwm_kb,
    parse_stat,
    process_tree,
    self_times,
    slope,
    steal_share,
    trace_overhead,
    tree_cpu_seconds,
    tree_peak_rss_mb,
)
from tracing import SPAN_PROPERTY, fold_event_log, layer_self_times, task_skew


# ------------------------------------------------------------ series
def test_slope_is_least_squares():
    assert slope([0, 1, 2], [1.0, 3.0, 5.0]) == pytest.approx(2.0)
    assert slope([0, 2], [1.0, 0.0]) == pytest.approx(-0.5)
    assert slope([3], [1.0]) == 0.0
    assert slope([1, 1], [1.0, 2.0]) == 0.0


def test_fold_series_slope():
    assert fold_series([]) == (0.0, 0.0, 0.0)
    assert fold_series([2.0]) == (2.0, 2.0, 0.0)
    first, last, slope = fold_series([1.0, 1.5, 2.0, 2.5])
    assert (first, last) == (1.0, 2.5)
    assert slope == pytest.approx(0.5)


def test_trace_overhead_flat_compares_with_untraced_median():
    ops = [(0, 10.0, False), (1, 10.5, True), (2, 9.0, False), (3, 10.1, True), (4, 11.0, False)]
    # untraced median 10.0; traced extras 0.5 and 0.1
    assert trace_overhead(ops, drifts=False) == pytest.approx(0.3)


def test_trace_overhead_takes_out_growth_with_the_op_index():
    # untraced ops grow by 1 s per op; traced ops cost 0.2 s more than
    # the line, though each is 1.2 s slower than the untraced op before it
    ops = [(0, 5.0, False), (1, 6.2, True), (2, 7.0, False), (3, 8.2, True)]
    assert trace_overhead(ops, drifts=True) == pytest.approx(0.2)
    assert trace_overhead(ops, drifts=False) > 1.0
    assert trace_overhead([(0, 5.0, False)], drifts=True) == 0.0


# ------------------------------------------------------------ span self time
def _span(i, start, end, parent=None, layer="x", op=0):
    return {"id": i, "name": f"s{i}", "layer": layer, "start": start, "end": end,
            "parent": parent, "op": op}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 5.0, 7.0, parent=0),
        _span(3, 1.5, 2.0, parent=1),  # grandchild: only its parent pays
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)
    # self times of a tree add up to the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_merges_overlap_and_clips_to_parent():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 2.0, 6.0, parent=0),
        _span(2, 5.0, 8.0, parent=0),  # overlaps span 1 on [5, 6]
        _span(3, 9.0, 12.0, parent=0),  # runs past the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_layer_self_times_sum_to_wall():
    spans = [
        _span(0, 0.0, 10.0, layer="untraced"),
        _span(1, 0.5, 6.0, parent=0, layer="pipeline.compress"),
        _span(2, 1.0, 3.0, parent=1, layer="tables"),
        _span(3, 6.0, 9.5, parent=0, layer="tables"),
    ]
    by_layer = layer_self_times(spans)
    assert by_layer == pytest.approx(
        {"untraced": 1.0, "pipeline.compress": 3.5, "tables": 5.5}
    )
    assert sum(by_layer.values()) == pytest.approx(10.0)


# ------------------------------------------------------------ /proc readers
def _stat(pid, comm, ppid, utime, stime, cutime, cstime):
    fields = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0]
    return f"{pid} ({comm}) " + " ".join(str(f) for f in fields) + "\n"


def test_parse_stat_handles_spaces_and_parens_in_comm():
    text = _stat(42, "java (x) y", 7, 100, 50, 30, 20)
    ppid, own, reaped = parse_stat(text)
    assert ppid == 7
    assert own == pytest.approx(150 / CLK_TCK)
    assert reaped == pytest.approx(50 / CLK_TCK)


def test_parse_hwm_kb():
    assert parse_hwm_kb("Name:\tjava\nVmPeak:\t 900 kB\nVmHWM:\t  2048 kB\n") == 2048
    assert parse_hwm_kb("Name:\tkthreadd\n") == 0


@pytest.fixture
def fake_proc(tmp_path):
    """JVM 10 -> daemon 11 -> worker 12; unrelated process 20."""
    procs = {
        10: (_stat(10, "java", 1, 400, 100, 0, 0), 3 * 1024 * 1024),
        11: (_stat(11, "python3", 10, 10, 10, 80, 20), 50 * 1024),
        12: (_stat(12, "python3", 11, 150, 50, 0, 0), 200 * 1024),
        20: (_stat(20, "bash", 1, 999, 999, 0, 0), 999 * 1024),
    }
    for pid, (stat, hwm) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(stat)
        (d / "status").write_text(f"Name:\tx\nVmHWM:\t{hwm} kB\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_process_tree_finds_descendants_only(fake_proc):
    assert sorted(process_tree(10, fake_proc)) == [10, 11, 12]


def test_tree_cpu_counts_live_and_reaped_children(fake_proc):
    ticks = (400 + 100) + (10 + 10 + 80 + 20) + (150 + 50)
    assert tree_cpu_seconds(10, fake_proc) == pytest.approx(ticks / CLK_TCK)


def test_tree_peak_rss_sums_vmhwm(fake_proc):
    assert tree_peak_rss_mb(10, fake_proc) == pytest.approx(3 * 1024 + 50 + 200)


def test_cpu_ticks_and_steal_share():
    before = cpu_ticks("cpu  100 0 50 800 10 0 5 20 0 0\ncpu0 1 2 3\n")
    after = cpu_ticks("cpu  150 0 60 880 10 0 5 50 0 0\ncpu0 1 2 3\n")
    assert before == (20, 985)
    assert steal_share(before, after) == pytest.approx(30 / 170)
    assert steal_share(after, after) == 0.0


def test_driver_memory_is_a_quarter_of_the_host_within_bounds():
    gib = 1 << 30
    assert driver_memory_for(15 * gib) == "3g"
    assert driver_memory_for(2 * gib) == "1g"
    assert driver_memory_for(256 * gib) == "8g"


# ------------------------------------------------------------ result digest
def test_digest_ignores_row_order_but_not_values():
    rows = [("src0", 1, 2.5), ("src1", 2, float("nan")), ("src0", 1, 2.5)]
    assert digest(rows) == digest(list(reversed(rows)))
    # multiplicity matters
    assert digest(rows) != digest(rows[:2])
    # full float precision: a last-bit change is a different result
    x = 0.1 + 0.2
    assert digest([(x,)]) != digest([(0.3,)])
    assert digest([(math.nan,)]) == digest([(float("nan"),)])


def test_digest_separates_cells():
    assert digest([("ab", "c")]) != digest([("a", "bc")])


# ------------------------------------------------------------ event log
def _ev(**kw):
    return json.dumps(kw)


def _task(stage, launch, finish, cpu_ns, run_ms, shuffle=0, peak_off=0):
    return _ev(**{
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5,
            "Peak Execution Memory": 0,
            "Peak On Heap Execution Memory": 0,
            "Peak Off Heap Execution Memory": peak_off,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Records Read": 3},
        },
    })


def test_fold_event_log_attributes_tasks_to_tagged_spans():
    spans = [_span(0, 0, 1), _span(1, 0, 1, parent=0)]
    lines = [
        _ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 4}},
            Properties={SPAN_PROPERTY: "1"}),
        _ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 5}}, Properties={}),
        _task(4, 1000, 3000, 2_000_000_000, 1500, shuffle=100, peak_off=64),
        _task(4, 1000, 2000, 1_000_000_000, 900, shuffle=50, peak_off=128),
        _task(5, 1000, 9000, 9_000_000_000, 8000),  # untagged stage: ignored
        _ev(Event="SparkListenerJobEnd"),
    ]
    fold_event_log(lines, spans)
    s = spans[1]
    assert s["tasks"] == 2
    assert s["task_cpu_s"] == pytest.approx(3.0)
    assert s["task_run_s"] == pytest.approx(2.4)
    assert s["gc_s"] == pytest.approx(0.01)
    assert s["shuffle_write_bytes"] == 150
    assert s["spill_bytes"] == 14
    assert s["input_records"] == 6
    assert s["peak_exec_mem_bytes"] == 128
    assert s["stage_task_s"] == {"4": [2.0, 1.0]}
    assert "tasks" not in spans[0]


def test_task_skew_is_max_over_median_per_stage():
    spans = [{"stage_task_s": {"1": [1.0, 1.0, 1.0, 3.0], "2": [5.0, 9.0]}}]
    # stage 2 has too few tasks to count
    assert task_skew(spans) == pytest.approx(3.0)
    assert task_skew([{}]) == 1.0
