"""Host-speed reference for the benchmark's timings.

The benchmark runs on a few cores of a shared host whose speed swings by
up to 2x over minutes, in two ways:

- The host preempts this VM's virtual CPUs to run other tenants. The
  kernel counts that time as *steal* in ``/proc/stat``; on a shared
  4-core VM it ranged from under 1 % to 36 % of the time the CPUs
  wanted to run.
- A CPU that does run is slower or faster: a fixed single-threaded loop
  took 9.6 ms (150,000 iterations) in one run and 18.3 ms in another
  twelve minutes later.

Runs made at different moments then disagree by more than any bound a
regression check could use. So every time the benchmark reports as an
end-to-end metric is scaled to a nominal host: the raw seconds, times
the share of the window's CPU time the host did not steal, times
``NOMINAL_S`` over the reference loop's time measured just before (and
after) that window while the engine is idle. The loop is pure
interpreter work on a few local variables and touches nothing of the
engine, so a change to the engine cannot move it; its median over a
few repeats is taken, which leaves out repeats the host preempted (the
steal share accounts for those). ``NOMINAL_S`` is about the loop's
median time on that VM (Intel Xeon, Python 3.11), so scaled figures read like raw ones on it at
a typical moment with no steal. Raw figures are printed beside the
scaled ones.
"""

from __future__ import annotations

import statistics
import time

LOOP_N = 100_000
NOMINAL_S = 0.009
SAMPLES = 7


def _loop(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def reference_s(samples: int = SAMPLES) -> float:
    """Median time of ``samples`` runs of the reference loop, now."""
    times = []
    for _ in range(samples):
        t0 = time.perf_counter()
        _loop(LOOP_N)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(wanted, stolen) clock ticks of all CPUs so far: ``wanted`` is the
    time the CPUs ran or were runnable, ``stolen`` the part of it the
    host ran something else (``/proc/stat``'s first line)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields + [0] * (8 - len(fields))
    return user + nice + system + irq + softirq + steal, steal


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two ``cpu_ticks`` readings
    that the host stole."""
    wanted = after[0] - before[0]
    return (after[1] - before[1]) / wanted if wanted > 0 else 0.0


def scale(raw_s: float, ref_s: float, stolen: float = 0.0) -> float:
    """``raw_s`` seconds measured while the reference loop took
    ``ref_s`` and the host stole the share ``stolen`` of the CPU time,
    expressed at the nominal host speed."""
    return raw_s * (1.0 - stolen) * NOMINAL_S / ref_s
