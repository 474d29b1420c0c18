"""Tests of the benchmark's own arithmetic and references (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import duckdb
import pytest

from perfbench import procs, stats
from perfbench.run import run_check
from perfbench.stats import Span
from perfbench.trace import parse_metric, span_cost_s
from perfbench.layers import E2E, PER_LAYER
from perfbench.wl_etl import DELAY_US, GAP_US, expected_sessions
from perfbench.workloads import WORKLOADS

MIN = 60 * 1_000_000


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 90) == pytest.approx(3.7)


@pytest.mark.parametrize("n, pct", [
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
    (40, 75.0),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    t = stats.tail([float(i) for i in range(n)])
    assert t.pct == pct and t.n == n
    assert round(n * (100 - pct) / 100, 6) >= stats.MIN_BEYOND
    assert t.value == stats.percentile([float(i) for i in range(n)], pct)


def test_tail_falls_back_to_the_maximum():
    t = stats.tail([3.0, 9.0, 1.0])
    assert (t.value, t.pct, t.n) == (9.0, None, 3)
    assert stats.tail([float(i) for i in range(39)]).pct is None


def test_amplification():
    assert stats.amplification(300, 100) == 3.0
    assert stats.amplification(50, 100) == 0.5
    with pytest.raises(ValueError):
        stats.amplification(10, 0)


def _span(name, start, end, sid, parent=None):
    return Span(name, start, end, sid, parent, 0)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("op", 0.0, 10.0, 0),
        _span("a", 1.0, 3.0, 1, 0),
        _span("b", 2.0, 5.0, 2, 0),    # overlaps a: union [1, 5]
        _span("c", 8.0, 12.0, 3, 0),   # clipped to the parent: [8, 10]
        _span("d", 1.5, 2.5, 4, 1),
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(4)
    by_layer = stats.self_time_by_layer(spans)
    assert by_layer["op"] == pytest.approx(4)
    assert by_layer["d"] == pytest.approx(1)


def test_self_times_fit_inside_wall():
    spans = [
        _span("op", 0.0, 4.0, 0), _span("x", 1.0, 3.0, 1, 0),
        _span("op", 4.0, 6.0, 2), _span("y", 4.5, 5.0, 3, 2),
    ]
    assert sum(stats.self_times(spans).values()) == pytest.approx(6.0)
    assert stats.self_times_fit(spans, 6.0)
    assert not stats.self_times_fit(spans, 5.0)


@pytest.mark.parametrize("text, value", [
    ("1,234", 1234.0),
    ("12.0 MiB", 12.0 * (1 << 20)),
    ("3 B", 3.0),
    ("1.5 s", 1.5),
    ("120 ms", 0.12),
    ("total (min, med, max (stageId: taskId))\n4.0 KiB (1.0 KiB, 1.0 KiB, "
     "2.0 KiB (stage 3.0: task 12))", 4096.0),
    ("", 0.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_tree_follows_parent_pids_across_process_groups():
    # /proc/<pid>/stat fields after the name: state, ppid, pgrp
    stat = {
        10: ["S", "1", "10"],    # worker, leader of its own group
        11: ["S", "10", "10"],   # JVM, same group
        12: ["S", "11", "12"],   # PySpark daemon: a group of its own
        13: ["S", "12", "12"],   # a Python worker forked by the daemon
        20: ["S", "1", "10"],    # same group as the worker, not a descendant
    }
    assert sorted(procs.tree(10, stat)) == [10, 11, 12, 13]
    assert procs.tree(99, stat) == []


def test_span_cost_is_a_small_positive_time():
    assert 0 < span_cost_s(calls=2_000, repeats=3) < 1e-3


def _one(rows):
    return sorted(expected_sessions(rows))


def test_sessions_merge_within_gap_and_wait_for_the_watermark():
    t0 = 1_000 * MIN
    e0 = [(1, t0), (1, t0 + 5 * MIN), (2, t0)]
    # epoch 1 moves the event time far ahead; the final watermark closes
    # every earlier session
    e1 = [(3, t0 + 100 * MIN)]
    out = _one([e0, e1])
    assert (1, t0, t0 + 5 * MIN + GAP_US, 2) in out
    assert (2, t0, t0 + GAP_US, 1) in out
    # user 3's session ends after the final watermark: never emitted
    assert all(u != 3 for u, *_ in out)


def test_rows_behind_the_previous_epochs_watermark_are_dropped():
    t0 = 1_000 * MIN
    e0 = [(1, t0 + 100 * MIN)]
    e1 = [(2, t0 + 200 * MIN)]
    # epoch 2 checks lateness against the watermark in force for epoch 1:
    # t0 + 100 min - delay. A row whose window ends before it is dropped.
    late = t0 + 100 * MIN - DELAY_US - GAP_US - MIN
    kept = t0 + 100 * MIN - DELAY_US - GAP_US + MIN
    e2 = [(3, late), (4, kept), (5, t0 + 400 * MIN)]
    users = {u for u, *_ in _one([e0, e1, e2])}
    assert 3 not in users and 4 in users


def test_a_late_row_after_eviction_opens_a_new_session():
    t0 = 1_000 * MIN
    e0 = [(1, t0)]
    e1 = [(2, t0 + 40 * MIN)]
    # epoch 2 evicts with t0 + 10 min: user 1's session [t0, t0 + 10) is
    # emitted and leaves the state
    e2 = [(9, t0 + 300 * MIN)]
    # epoch 3 checks lateness against t0 + 10 min: this row's window ends
    # at t0 + 15 min, so it is kept, though it falls in the emitted session
    e3 = [(1, t0 + 5 * MIN), (9, t0 + 400 * MIN)]
    ones = [r for r in _one([e0, e1, e2, e3]) if r[0] == 1]
    assert ones == [(1, t0, t0 + GAP_US, 1),
                    (1, t0 + 5 * MIN, t0 + 5 * MIN + GAP_US, 1)]


def test_run_check_compares_multisets_with_float_tolerance():
    con = duckdb.connect()
    ok = {"setup": [], "actual": "SELECT * FROM (VALUES (1, 0.1 + 0.2), (2, 1.0))",
          "expected": "SELECT * FROM (VALUES (2, 1.0), (1, 0.3))"}
    assert run_check(con, ok) is None
    off = dict(ok, expected="SELECT * FROM (VALUES (2, 1.0), (1, 0.31))")
    assert "!=" in run_check(con, off)
    short = dict(ok, expected="SELECT * FROM (VALUES (2, 1.0))")
    assert "row count" in run_check(con, short)
    dup = dict(ok, expected="SELECT * FROM (VALUES (1, 0.3), (1, 0.3))")
    assert run_check(con, dup) is not None
    broken = dict(ok, actual="SELECT * FROM no_such_table")
    assert run_check(con, broken).startswith("CatalogException")


def test_benchmark_json_matches_the_code():
    doc = json.loads(
        (Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text()
    )
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
