"""Tests for the benchmark's own arithmetic; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, probe, stats  # noqa: E402


# -- percentile rule ---------------------------------------------------


def test_median_only_below_tail_sample_floor():
    s = stats.timing_summary([float(i) for i in range(1, 100)])  # n=99
    assert s["n"] == 99 and s["p50"] == 50.0
    assert not [k for k in s if k not in ("n", "p50")]  # p90 has 9 beyond


def test_p90_needs_ten_samples_beyond():
    vals = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.samples_beyond(100, 90) == 10
    s = stats.timing_summary(vals)
    assert s["p90"] == 90.0 and "p99" not in s


def test_highest_supported_percentile_wins():
    s = stats.timing_summary([float(i) for i in range(1, 1001)])
    assert s["p99"] == 990.0 and "p90" not in s and "p99.9" not in s
    s = stats.timing_summary([float(i) for i in range(1, 10001)])
    assert s["p99.9"] == 9990.0  # no float round-up of the rank


def test_empty_timing_refused():
    with pytest.raises(ValueError):
        stats.timing_summary([])


# -- warm-up and flatness windows -------------------------------------


def test_split_warmup_refuses_too_few_batches():
    assert stats.split_warmup([5.0, 2.0, 3.0], 1, 2) == ([5.0], [2.0, 3.0])
    with pytest.raises(ValueError, match="need at least 2"):
        stats.split_warmup([5.0, 2.0], 1, 2)
    with pytest.raises(ValueError):
        stats.split_warmup([], 1, 1)  # empty stream: a clear error, not ZeroDivisionError


def test_flatness_windows_are_disjoint():
    early, late = stats.flatness_windows([1, 2, 3, 4, 5])
    assert early == [1, 2] and late == [4, 5]  # middle batch in neither
    early, late = stats.flatness_windows([1, 2])
    assert early == [1] and late == [2]
    with pytest.raises(ValueError):
        stats.flatness_windows([1])


def test_flatness_ratio():
    assert stats.flatness([2.0, 2.0, 3.0, 3.0]) == pytest.approx(1.5)
    assert stats.flatness([4.0, 9.0, 4.0]) == pytest.approx(1.0)


# -- stage-sum reconciliation -----------------------------------------


def test_reconcile_within_and_outside_tolerance():
    r = stats.reconcile(10.0, [3.0, 4.0, 2.5], 0.1)
    assert r["unattributed_s"] == pytest.approx(0.5) and r["ok"]
    r = stats.reconcile(10.0, [3.0, 4.0], 0.1)
    assert r["unattributed_s"] == pytest.approx(3.0) and not r["ok"]
    r = stats.reconcile(10.0, [6.0, 6.0], 0.1)  # stages over-account
    assert r["unattributed_s"] == pytest.approx(-2.0) and not r["ok"]
    with pytest.raises(ValueError):
        stats.reconcile(0.0, [1.0], 0.1)


# -- span self time ----------------------------------------------------


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps child 1: union 1..6
        _span(3, 1, 2.0, 3.0),  # grandchild: only its parent's self time
        _span(4, 0, 9.0, 12.0),  # clipped to the parent's end
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


# -- output-check helpers ----------------------------------------------


def test_union_find_min_labels():
    labels = checks.union_find_labels(["a", "b", "c", "d", "e"], [("c", "b"), ("b", "a"), ("e", "d")])
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_event_log_attribution(tmp_path):
    log = tmp_path / "app"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "g2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Executor Run Time": 3000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
            "Memory Bytes Spilled": 2**20, "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000}},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = probe.task_metrics_by_group(str(log))
    assert got["g1"]["cpu_s"] == pytest.approx(2.0)  # stage 1 stays with its first job
    assert got["g1"]["shuffle_write_mb"] == pytest.approx(1.0)
    assert got["g1"]["spill_mb"] == pytest.approx(1.0)
    assert got["g2"]["cpu_s"] == pytest.approx(1.0) and got["g2"]["tasks"] == 1


def test_benchmark_json_matches_the_metrics_printed():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from perfbench import run

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


# -- timed operation count and per-call probe -----------------------------


def test_timed_count_is_fixed_by_seconds_with_a_floor():
    from argparse import Namespace

    from perfbench import run

    assert run.n_timed(Namespace(workload="er_batch", seconds=10)) == 1
    assert run.n_timed(Namespace(workload="er_batch", seconds=35)) == 3
    assert run.n_timed(Namespace(workload="stream_ingest", seconds=10)) == 2
    assert run.n_timed(Namespace(workload="stream_ingest", seconds=1)) == 2


def test_timed_calls_wraps_and_restores():
    import types

    class FakeTree:
        def __init__(self):
            self.cpu = 0.0

        def snapshot(self):
            self.cpu += 1.5
            return {"total": self.cpu}

    mod = types.SimpleNamespace(work=lambda x: x * 2)
    real = mod.work
    with probe.timed_calls(mod, "work", FakeTree()) as calls:
        assert mod.work(3) == 6 and mod.work(4) == 8
    assert mod.work is real
    assert len(calls) == 2
    assert all(c["cpu_s"] == pytest.approx(1.5) and c["wall_s"] >= 0 for c in calls)
