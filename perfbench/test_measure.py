"""Unit tests for the benchmark's metric math (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402


# ------------------------------------------------------------ tail rule

def test_tail_leaves_exactly_ten_samples_beyond():
    samples = [float(i) for i in range(1, 27)]  # 26 samples: 1..26
    value, pct = measure.tail(samples)
    assert value == 16.0
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100 * 16 / 26)


def test_tail_ignores_input_order():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    assert measure.tail(samples) == measure.tail(sorted(samples))
    assert measure.tail(samples)[0] == 2.0  # 12 samples: 10 beyond the 2nd


def test_tail_with_too_few_samples_is_absent():
    assert measure.tail([3.0, 1.0, 2.0]) is None
    assert measure.tail([1.0] * 10) is None
    assert measure.tail([1.0] * 11) == (1.0, pytest.approx(100 / 11))


def test_failed_samples_count_as_slowest():
    ok = [1.0] * 20
    value, _ = measure.tail(ok + [measure.FAILED_SAMPLE] * 11)
    assert math.isinf(value)  # 11 failures: the tail itself is a failure
    value, _ = measure.tail(ok + [measure.FAILED_SAMPLE] * 10)
    assert value == 1.0  # 10 failures all lie beyond it


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        measure.tail([])


# ------------------------------------------------------ pass statistics

def test_best_pass_sums_each_querys_fastest_sample():
    passes = [{"a": 2.0, "b": 1.0}, {"a": 1.5, "b": 3.0}, {"b": 1.2, "a": 9.0}]
    assert measure.best_pass_s(passes) == pytest.approx(1.5 + 1.0)


def test_best_pass_skips_a_failed_sample_but_not_a_failed_query():
    passes = [{"a": measure.FAILED_SAMPLE, "b": 1.0}, {"a": 2.0, "b": 1.0}]
    assert measure.best_pass_s(passes) == 3.0
    passes = [{"a": measure.FAILED_SAMPLE, "b": 1.0}] * 2
    assert math.isinf(measure.best_pass_s(passes))


def test_geomean_query_weighs_each_querys_fastest_sample_alike():
    passes = [{"a": 1.0, "b": 5.0, "c": 9.0}, {"a": 3.0, "b": 6.0, "c": 9.5},
              {"a": 2.0, "b": 100.0, "c": 8.0}]
    assert measure.geomean_query_s(passes) == pytest.approx((1.0 * 5.0 * 8.0) ** (1 / 3))
    assert measure.geomean_query_s([{"a": 2.0, "b": 8.0}]) == pytest.approx(4.0)
    failed = [{"a": measure.FAILED_SAMPLE, "b": 1.0}]
    assert math.isinf(measure.geomean_query_s(failed))


# ----------------------------------------------------------- error rate

def test_error_rate():
    assert measure.error_rate(0, 32) == 0.0
    assert measure.error_rate(4, 32) == 0.125
    assert measure.error_rate(32, 32) == 1.0


@pytest.mark.parametrize("failed,attempted", [(1, 0), (-1, 5), (6, 5)])
def test_error_rate_rejects_impossible_counts(failed, attempted):
    with pytest.raises(ValueError):
        measure.error_rate(failed, attempted)


# ---------------------------------------------------------- fingerprint

def test_fingerprint_ignores_row_and_column_order():
    a = measure.fingerprint(["k", "v"], [(1, "x"), (2, "y")])
    b = measure.fingerprint(["v", "K"], [("y", 2), ("x", 1)])
    assert a == b
    assert a[0] == 2


def test_fingerprint_sees_values_names_and_duplicates():
    base = measure.fingerprint(["k"], [(1,), (2,)])
    assert measure.fingerprint(["k"], [(1,), (3,)]) != base
    assert measure.fingerprint(["j"], [(1,), (2,)]) != base
    assert measure.fingerprint(["k"], [(1,), (2,), (2,)]) != base


def test_fingerprint_equates_engine_number_types():
    # Spark may return int64 or double where DuckDB returns DECIMAL
    spark = measure.fingerprint(["n", "x"], [(7.0, 0.1 + 0.2)])
    duck = measure.fingerprint(["n", "x"], [(7, decimal.Decimal("0.3000000000000000"))])
    assert spark == duck


def test_fingerprint_keeps_real_float_differences():
    assert measure.fingerprint(["x"], [(1.0001,)]) != measure.fingerprint(["x"], [(1.0002,)])


def test_canon_value_shapes():
    assert measure.canon_value(None) == "NULL"
    assert measure.canon_value(float("nan")) == "nan"
    assert measure.canon_value(True) == "true"
    assert measure.canon_value(dt.date(2024, 1, 2)) == measure.canon_value(dt.datetime(2024, 1, 2))
    assert measure.canon_value([1, 2.5]) == "[1,2.5]"
    assert measure.canon_value({"b": 1, "a": 2}) == measure.canon_value({"a": 2, "b": 1})


# ------------------------------------------------- process-tree CPU sums

def _stat_line(pid, comm, ppid, utime, stime, cutime, cstime):
    # fields 3..17 of /proc/<pid>/stat: state ppid pgrp session tty_nr
    # tpgid flags minflt cminflt majflt cmajflt utime stime cutime cstime
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0, 1]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest)


def test_parse_proc_stat_sums_own_and_reaped_children_cpu():
    s = measure.parse_proc_stat(_stat_line(42, "python3", 7, 100, 20, 5, 1))
    assert (s.pid, s.ppid, s.comm, s.cpu_ticks) == (42, 7, "python3", 126)


def test_parse_proc_stat_handles_comm_with_spaces_and_parens():
    s = measure.parse_proc_stat(_stat_line(9, "Web (Content) x", 1, 3, 4, 0, 0))
    assert (s.pid, s.ppid, s.comm, s.cpu_ticks) == (9, 1, "Web (Content) x", 7)


TREE = [
    measure.ProcStat(1, 0, "init", 1000),          # outside the tree
    measure.ProcStat(10, 1, "python3", 50),         # root: the benchmark worker
    measure.ProcStat(11, 10, "java", 400),          # JVM
    measure.ProcStat(12, 11, "python3", 30),        # pyspark daemon
    measure.ProcStat(13, 12, "python3", 20),        # Python worker
    measure.ProcStat(14, 10, "bash", 5),            # launcher
    measure.ProcStat(20, 1, "python3", 999),        # unrelated process
]


def test_subtree_ticks_sums_root_and_all_descendants():
    assert measure.subtree_ticks(TREE, 10) == 50 + 400 + 30 + 20 + 5


def test_subtree_ticks_filters_descendants_by_comm():
    # the Python workers under the JVM, not the root itself
    assert measure.subtree_ticks(TREE, 10, only="python") == 30 + 20


def test_subtree_ticks_of_missing_root_is_zero():
    assert measure.subtree_ticks(TREE, 99) == 0


def test_tree_cpu_of_this_process_is_positive():
    sum(i * i for i in range(200_000))
    assert measure.tree_cpu_s(os.getpid()) > 0


# ------------------------------------------------------------ host usage

def test_host_normalized_scales_by_the_median_probe():
    # probes at the nominal speed leave the time as it is
    assert measure.host_normalized(3.0, [120.0, 119.0, 121.0], 120.0) == pytest.approx(3.0)
    # a host 50% slower on the median probe: the time is scaled back
    assert measure.host_normalized(4.5, [180.0, 400.0, 170.0], 120.0) == pytest.approx(3.0)


def test_host_usage_shares():
    before = [0] * 8
    # user nice system idle iowait irq softirq steal
    after = [50, 0, 10, 30, 0, 0, 0, 10]
    util, steal = measure.host_usage(before, after)
    assert util == pytest.approx(0.7)
    assert steal == pytest.approx(0.1)
    assert measure.host_usage(after, after) == (0.0, 0.0)


# ------------------------------------------------------------ workloads

def test_pass_order_is_a_seeded_permutation():
    for name, queries in WORKLOADS.items():
        order = pass_order(name, 7, 1)
        assert sorted(order) == sorted(queries)
        assert order == pass_order(name, 7, 1)
    orders = {tuple(pass_order("analytic_sql", seed, 1)) for seed in range(20)}
    assert len(orders) > 1


# ------------------------------------------- output matches BENCHMARK.json

def _fake_result():
    counters = {"construct_s": 1.0, "plan_s": 0.2, "exec_s": 2.0, "py4j_calls": 100,
                "load_table_calls": 6, "load_table_s": 0.5, "write_bytes": 1 << 20,
                "write_files": 3,
                "stage": dict.fromkeys(("jobs", "stages", "tasks", "task_cpu_s", "gc_s",
                                        "input_rows", "shuffle_write_mb", "shuffle_read_mb",
                                        "fetch_wait_s", "spill_mb"), 1.0)}
    stream = dict.fromkeys(("batches", "trigger_ms", "add_batch_ms", "query_planning_ms"), 1.0)

    def one(traced):
        return {"wall_s": 3.3, "cpu_s": 6.0, "pyworker_cpu_s": 0.5, "ref_ms": 130.0,
                "samples": {"a": 0.5, "b": 1.0, "c": measure.FAILED_SAMPLE}, "failed": 1,
                "traced": counters if traced else None, "stream": stream if traced else None}

    return {"attempted": 12, "failed": 2, "setup_s": 20.0, "check_s": 9.0,
            "heap_retained_mb": 70.0, "load_all_s": 0.7, "session_start_s": 8.0,
            "host_cpu_util": 0.5, "host_steal_frac": 0.02,
            "passes": [one(False), one(True), one(False)]}


def test_printed_metrics_match_benchmark_json():
    import json

    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    r = _fake_result()
    for printed, declared in ((run.end_to_end(r), spec["end_to_end"]),
                              (run.per_layer(r), spec["per_layer"])):
        assert {k: u for k, (_, u) in printed.items()} == {m["name"]: m["unit"] for m in declared}
        assert all(math.isfinite(v) for v, _ in printed.values())
    assert "absent (6 samples" in run.tail_note(r)
