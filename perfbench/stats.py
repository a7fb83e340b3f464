"""Measurement rules shared by every workload.

- Percentile rule: a timing is reported as its median and the highest
  percentile from ``TAIL_MENU`` that has at least ``MIN_BEYOND`` samples
  beyond it, with the sample count. Each workload fixes the percentile its
  normal sample supports, so every run reports the same one.
- Closed loop: each client sends its next operation only after the previous
  one completed, in whole batches of a fixed mix; every issued operation is
  waited for and counted.
- Open loop: operation ``i`` is due at ``start + i / rate`` whatever the
  system does; its latency runs from the due time, so a stall is charged to
  every operation that had to wait for it, and the generator's own lateness
  (send time minus due time) is reported.
"""

from __future__ import annotations

import math
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

TAIL_MENU = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (NumPy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = p / 100.0 * (len(xs) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    if xs[hi] == math.inf:
        return xs[hi] if rank > lo else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile in the menu with at least ``MIN_BEYOND`` of ``n``
    samples beyond it; None when even the median lacks them."""
    best = None
    for p in TAIL_MENU:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            best = p
    return best


@dataclass
class OpRecord:
    kind: str
    start: float
    end: float
    ok: bool
    due: float | None = None
    key: str = ""

    @property
    def latency(self) -> float:
        """Seconds from due time (open loop) or send time (closed loop);
        a failed operation misses every latency limit."""
        if not self.ok:
            return math.inf
        return self.end - (self.due if self.due is not None else self.start)


@dataclass
class Ledger:
    """Thread-safe record of every operation a workload attempted."""
    records: list[OpRecord] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, rec: OpRecord) -> None:
        with self.lock:
            self.records.append(rec)

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r.ok)

    def latencies(self, kinds: tuple[str, ...] | None = None) -> list[float]:
        return [r.latency for r in self.records
                if kinds is None or r.kind in kinds]


def run_closed_loop(batches: list[Callable[[], list[tuple[str, str, Callable[[], bool]]]]],
                    seconds: float, ledger: Ledger) -> float:
    """Run one closed-loop client per entry of ``batches`` for ``seconds``.

    Each entry returns the client's next batch of operations, a list of
    ``(kind, key, fn)`` run one after another; ``fn()`` returns whether the
    result was correct, and an exception counts as a failure. A client runs
    whole batches, so every client sends the batches' fixed mix: it starts
    its first batch at once and another one only if that batch, taking as
    long as the previous one did, would end inside the window.

    Returns the elapsed time by which the ops are divided for throughput:
    the op count over the sum of the clients' own rates (ops over the time
    to the client's last completion), so a client that stopped before the
    others is not charged for their last batch."""
    start = time.perf_counter()
    deadline = start + seconds
    errors: list[BaseException] = []
    done: list[tuple[int, float]] = []       # (ops, elapsed) per client

    def client(next_batch) -> None:
        n, last = 0, 0.0
        try:
            while n == 0 or time.perf_counter() + last <= deadline:
                b0 = time.perf_counter()
                for kind, key, fn in next_batch():
                    t0 = time.perf_counter()
                    try:
                        ok = bool(fn())
                    except Exception:  # noqa: BLE001 - a failed op is data
                        ok = False
                    ledger.add(OpRecord(kind, t0, time.perf_counter(), ok,
                                        key=key))
                    n += 1
                last = time.perf_counter() - b0
            done.append((n, time.perf_counter() - start))
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(b,), daemon=True)
               for b in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return sum(n for n, _ in done) / sum(n / e for n, e in done)


@dataclass
class OpenLoopResult:
    elapsed: float
    max_late_s: float
    late_p50_s: float


def run_open_loop(rate: float, seconds: float,
                  op: Callable[[int], tuple[str, bool, float]],
                  ledger: Ledger,
                  clock: Callable[[], float] = time.perf_counter,
                  sleep: Callable[[float], None] = time.sleep
                  ) -> OpenLoopResult:
    """Issue operation ``i`` at its due time ``start + i / rate`` for
    ``seconds``, one at a time from one generator thread.

    ``op(i)`` runs the operation and returns ``(kind, ok, end)`` where
    ``end`` is when its effect completed; latency is ``end - due``. An
    operation that runs past the next due time delays the generator, and
    the delay is charged to the operations that waited (and reported as
    generator lateness)."""
    start = clock()
    n = int(seconds * rate)
    lateness: list[float] = []
    for i in range(n):
        due = start + i / rate
        now = clock()
        if now < due:
            sleep(due - now)
            now = clock()
        lateness.append(max(0.0, now - due))
        try:
            kind, ok, end = op(i)
        except Exception:  # noqa: BLE001 - a failed op is data
            kind, ok, end = "op", False, clock()
        ledger.add(OpRecord(kind, now, end, ok, due=due))
    return OpenLoopResult(elapsed=clock() - start,
                          max_late_s=max(lateness, default=0.0),
                          late_p50_s=percentile(lateness, 50.0)
                          if lateness else 0.0)
