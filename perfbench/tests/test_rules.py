"""Tests of the benchmark's measurement rules (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.stats import (  # noqa: E402
    Ledger,
    OpRecord,
    percentile,
    run_closed_loop,
    run_open_loop,
    tail_percentile,
)


# ------------------------------------------------------- percentile rule

def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(199) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_percentile_interpolates_like_numpy():
    xs = [float(x) for x in range(1, 11)]
    assert percentile(xs, 50.0) == 5.5
    assert percentile(xs, 90.0) == 9.1
    assert percentile([3.0], 75.0) == 3.0


def _ledger(latencies_s):
    ledger = Ledger()
    for x in latencies_s:
        ledger.add(OpRecord("op", 0.0, x, True))
    return ledger


def test_e2e_reports_the_workload_percentile_and_whether_it_is_supported():
    lat = [0.001 * x for x in range(100)]
    m = metrics.e2e(_ledger(lat), 10.0, 2.0, 3.0, 100.0, tail_pct=90.0)
    assert m["_n"] == 100
    assert m["op_p50_ms"] == percentile([1000.0 * x for x in lat], 50.0)
    assert m["op_tail_ms"] == percentile([1000.0 * x for x in lat], 90.0)
    assert m["_tail_supported"]
    # a short run keeps the same percentile, flagged as under-supported
    m = metrics.e2e(_ledger(lat[:60]), 10.0, 2.0, 3.0, 100.0, tail_pct=90.0)
    assert m["_tail_pct"] == 90.0 and not m["_tail_supported"]


# -------------------------------------------- closed-loop op accounting

def test_closed_loop_runs_whole_batches_inside_the_window():
    ledger = Ledger()
    calls = []

    def client(name):
        def next_batch():
            def fn():
                calls.append(name)
                time.sleep(0.02)
                return True
            return [("op", name, fn)] * 3
        return next_batch

    elapsed = run_closed_loop([client("a"), client("b")], 0.2, ledger)
    assert ledger.attempted == len(calls)
    # each client runs whole batches of three 20 ms ops, and starts one
    # only if it would end inside the 200 ms window: three batches each
    per_client = {n: calls.count(n) for n in "ab"}
    assert all(c % 3 == 0 and 6 <= c <= 9 for c in per_client.values()), \
        per_client
    # throughput is the sum of the clients' own rates
    rate = 0.0
    for name in "ab":
        recs = sorted((r for r in ledger.records if r.key == name),
                      key=lambda r: r.start)
        # ops of one client never overlap
        assert all(a.end <= b.start for a, b in zip(recs, recs[1:]))
        rate += len(recs) / (recs[-1].end - min(
            r.start for r in ledger.records))
    assert abs(ledger.attempted / elapsed - rate) / rate < 0.05
    assert elapsed <= 0.2 + 0.01


def test_closed_loop_runs_one_batch_even_if_it_overruns():
    ledger = Ledger()

    def next_batch():
        return [("op", "", lambda: time.sleep(0.05) or True)] * 2

    elapsed = run_closed_loop([next_batch], 0.01, ledger)
    assert ledger.attempted == 2 and elapsed >= 0.1


def test_closed_loop_failures_are_attempted_not_completed():
    ledger = Ledger()
    n = [0]
    lock = threading.Lock()

    def next_batch():
        def fn():
            with lock:
                n[0] += 1
                k = n[0]
            time.sleep(0.01)
            if k % 2:
                raise RuntimeError("refused")
            return k % 4 != 0          # a wrong result also fails
        return [("op", "", fn)]

    elapsed = run_closed_loop([next_batch], 0.1, ledger)
    ok = [r for r in ledger.records if r.ok]
    assert ledger.failed == ledger.attempted - len(ok) > 0
    m = metrics.e2e(ledger, elapsed, 1.0, 1.0, 1.0, tail_pct=50.0)
    assert m["ops_per_s"] == len(ok) / elapsed
    assert m["ok_ratio"] == len(ok) / ledger.attempted


# ----------------------------------------- open-loop due-time latency

class FakeClock:
    def __init__(self):
        self.now = 100.0

    def __call__(self):
        return self.now

    def sleep(self, s):
        self.now += s


def test_open_loop_charges_a_stall_to_every_op_that_waited():
    clock = FakeClock()
    ledger = Ledger()
    durations = {0: 0.1, 1: 2.5}          # op 1 stalls for 2.5 s

    def op(i):
        clock.now += durations.get(i, 0.1)
        return "commit", True, clock.now

    res = run_open_loop(1.0, 5.0, op, ledger, clock=clock,
                        sleep=clock.sleep)
    lat = [r.latency for r in ledger.records]
    assert len(lat) == 5
    # op 0 on time; op 1 stalls; ops 2 and 3 were due during the stall and
    # their latency counts the wait from their due time
    assert abs(lat[0] - 0.1) < 1e-9
    assert abs(lat[1] - 2.5) < 1e-9
    assert abs(lat[2] - (1.0 + 2.5 + 0.1 - 2.0)) < 1e-9
    assert lat[2] > 0.1 and lat[3] > 0.1
    assert abs(res.max_late_s - 1.5) < 1e-9


def test_open_loop_does_not_slow_its_schedule_for_a_fast_system():
    clock = FakeClock()
    ledger = Ledger()

    def op(i):
        clock.now += 0.01
        return "commit", True, clock.now

    run_open_loop(4.0, 2.0, op, ledger, clock=clock, sleep=clock.sleep)
    dues = [r.due - 100.0 for r in ledger.records]
    assert dues == [i / 4.0 for i in range(8)]
    assert all(abs(r.latency - 0.01) < 1e-9 for r in ledger.records)


# ------------------------------------------------------- BENCHMARK.json

def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == metrics.PER_LAYER
