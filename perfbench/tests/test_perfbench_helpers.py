"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import procstat  # noqa: E402
import tracing  # noqa: E402


# ------------------------------------------------ tail percentile rule

def test_tail_percentile_is_p90_with_enough_samples():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    assert procstat.tail_percentile(samples) == (90, 90.0)


def test_tail_percentile_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]  # 1..40
    p, value = procstat.tail_percentile(samples)
    beyond = sum(1 for s in samples if s > value)
    assert beyond >= 10
    assert p == 75 and value == 30.0
    # one percentile higher would leave fewer than ten beyond it
    assert procstat.tail_percentile(samples, cap=76) == (75, 30.0)


def test_tail_percentile_ignores_input_order_and_caps_at_p90():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0] * 100
    assert procstat.tail_percentile(samples) == (90, 5.0)


def test_tail_percentile_none_when_too_few_samples():
    assert procstat.tail_percentile([1.0] * 10) is None
    assert procstat.tail_percentile([]) is None
    assert procstat.tail_percentile([float(i) for i in range(11)]) == (9, 0.0)


def test_nearest_rank_p90_counts_the_samples_beyond():
    assert procstat.nearest_rank([float(i) for i in range(1, 101)], 90) == (90.0, 10)
    assert procstat.nearest_rank([3.0, 1.0, 2.0] * 9, 90) == (3.0, 2)
    # ten ticks: the second slowest
    assert procstat.nearest_rank([float(i) for i in range(10)], 90) == (8.0, 1)
    assert procstat.nearest_rank([7.0], 90) == (7.0, 0)


# ------------------------------------------------ /proc aggregation

def _fake_proc(root, pid, ppid, utime, stime, cutime, cstime, hwm_kb, comm="java"):
    d = root / str(pid)
    d.mkdir()
    # 52 fields; comm may carry spaces and parentheses
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime),
                                              str(cutime), str(cstime)]
    fields += ["0"] * (50 - len(fields))
    (d / "stat").write_text(f"{pid} ({comm}) {' '.join(fields)}\n")
    (d / "status").write_text(f"Name:\t{comm}\nVmPeak:\t 9 kB\nVmHWM:\t {hwm_kb} kB\n")


def test_process_tree_cpu_and_hwm(tmp_path):
    tick = procstat.CLK_TCK
    _fake_proc(tmp_path, 10, 1, tick, 0, 0, 0, 1000, comm="python3")
    _fake_proc(tmp_path, 11, 10, 2 * tick, tick, 3 * tick, 0, 4096)  # JVM
    _fake_proc(tmp_path, 12, 11, tick, 0, 0, tick, 2048, comm="py (daemon) x")
    _fake_proc(tmp_path, 20, 1, 50 * tick, 0, 0, 0, 99999)  # not ours
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    assert procstat.process_tree(10, str(tmp_path)) == [10, 11, 12]
    assert procstat.process_tree(11, str(tmp_path)) == [11, 12]
    cpu = procstat.cpu_seconds([10, 11, 12], str(tmp_path))
    assert cpu == pytest.approx(1 + (2 + 1 + 3) + (1 + 1))
    assert procstat.vm_hwm_kb(12, str(tmp_path)) == 2048
    assert procstat.vm_hwm_kb(99, str(tmp_path)) is None


def test_tree_watch_sums_per_process_peaks(tmp_path):
    _fake_proc(tmp_path, 10, 1, 0, 0, 0, 0, 1024)
    _fake_proc(tmp_path, 11, 10, 0, 0, 0, 0, 2048)
    watch = procstat.TreeWatch(10, str(tmp_path))
    watch.start()
    # the worker exits: its peak, seen earlier, still counts
    for f in (tmp_path / "11").iterdir():
        f.unlink()
    (tmp_path / "11").rmdir()
    _fake_proc(tmp_path, 12, 10, procstat.CLK_TCK, 0, 0, 0, 512)
    assert watch.cpu_since_start() == pytest.approx(1.0)
    assert watch.peak_mb() == pytest.approx((1024 + 2048 + 512) / 1024)


# ------------------------------------------------ span self time

def _span(name, parent, start, end):
    return {"name": name, "op_id": "op0", "parent": parent, "start": start,
            "end": end}


def test_self_time_subtracts_child_coverage_once():
    spans = [
        _span("op", None, 0.0, 10.0),
        _span("a", 0, 1.0, 4.0),
        _span("b", 0, 3.0, 6.0),  # overlaps a: covered 1..6 = 5
        _span("c", 1, 2.0, 3.0),  # grandchild: only a's self time drops
    ]
    assert tracing.self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_self_time_clips_children_to_parent():
    spans = [_span("op", None, 0.0, 2.0), _span("late", 0, 1.5, 3.0)]
    assert tracing.self_times(spans)[0] == pytest.approx(1.5)


def test_tracer_records_parent_and_job_groups():
    groups = []

    class FakeSc:
        def setJobGroup(self, group, desc, interruptOnCancel=False):
            groups.append(group)

        def setLocalProperty(self, key, value):
            groups.append(value)

    tr = tracing.Tracer(FakeSc())
    with tr.op("op0007"):
        with tr.span("merge_tx.merge"):
            pass
    assert [s["name"] for s in tr.spans] == ["op", "merge_tx.merge"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[1]["op_id"] == "op0007"
    assert groups == ["op0007", "op0007|merge_tx.merge", "op0007", None]
    off = tracing.Tracer(FakeSc(), enabled=False)
    with off.op("op0"):
        with off.span("x") as sp:
            assert sp is None
    assert off.spans == []


# ------------------------------------------------ status store by group

def _stage(sid, status="COMPLETE", **kw):
    base = {k: 0 for k in tracing._SUMS}
    base.update(stage_id=sid, status=status, **kw)
    return base


def test_aggregate_by_group_folds_layers_and_charges_reused_stages_once():
    jobs = [
        {"job_id": 0, "group": "op0000|images.preprocess", "start": 1.0,
         "end": 2.0, "stage_ids": [0, 1]},
        {"job_id": 1, "group": "op0000|merge_tx.merge", "start": 2.5,
         "end": 3.0, "stage_ids": [1, 2]},  # stage 1 reused: charged once
        {"job_id": 2, "group": "op0001", "start": 5.0, "end": 6.0,
         "stage_ids": [3, 4]},
        {"job_id": 3, "group": None, "start": 7.0, "end": 8.0,
         "stage_ids": [5]},  # set-up job: no op
    ]
    stages = {
        (0, 0): _stage(0, tasks=4, run_s=1.0, cpu_s=0.5, input_bytes=100),
        (1, 0): _stage(1, tasks=2, run_s=0.5, shuffle_write_bytes=10),
        (1, 1): _stage(1, tasks=1, run_s=0.25),  # a retried attempt
        (2, 0): _stage(2, tasks=1, shuffle_read_bytes=10, gc_s=0.1),
        (3, 0): _stage(3, status="SKIPPED", tasks=0, run_s=9.0),
        (4, 0): _stage(4, tasks=3, spill_bytes=7),
        (5, 0): _stage(5, tasks=8),
    }
    by_op = tracing.aggregate_by_group(jobs, stages, "op")
    assert sorted(by_op) == ["op0000", "op0001"]
    op0 = by_op["op0000"]
    assert (op0["jobs"], op0["stages"], op0["tasks"]) == (2, 3, 8)
    assert op0["run_s"] == pytest.approx(1.75)
    assert op0["input_bytes"] == 100 and op0["shuffle_read_bytes"] == 10
    assert op0["intervals"] == [(1.0, 2.0), (2.5, 3.0)]
    op1 = by_op["op0001"]
    assert (op1["jobs"], op1["stages"], op1["tasks"], op1["run_s"]) == (1, 1, 3, 0)
    assert op1["spill_bytes"] == 7
    by_layer = tracing.aggregate_by_group(jobs, stages, "layer")
    assert by_layer["op0000|images.preprocess"]["tasks"] == 7
    assert by_layer["op0000|merge_tx.merge"]["tasks"] == 1


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert tracing.union_length([]) == 0.0


# ------------------------------------------------ metric names

def test_benchmark_json_matches_the_metrics_run_prints():
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import run

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
