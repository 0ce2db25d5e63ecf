"""Wall-clock intervals with the CPU time the hypervisor stole taken out.

On a virtual machine whose host runs other guests, the host may leave
a virtual CPU unscheduled while it has work: the guest kernel counts
that time as *steal*. Stolen time stretches every wall-clock interval
of a CPU-bound run by roughly ``1 / (1 - stolen share)``, and on a busy
host it is the largest source of run-to-run spread (a share of 40% has
been seen in one run, under 1% in the next). ``Interval.stop`` gives the
raw wall time and the *steady* time: the wall time multiplied by the
share of the CPU time asked for that was granted,
``busy / (busy + steal)`` ticks of ``/proc/stat`` over the interval.
Where the kernel reports no steal (bare metal), both are equal.
"""

from __future__ import annotations

import time


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs since boot: time spent running
    work, and time a CPU had work but the hypervisor ran something else.
    (0, 0) where ``/proc/stat`` is unavailable."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = (fields + [0] * 8)[:8]
    return user + nice + system + irq + softirq, steal


def steady_seconds(wall: float, busy: int, steal: int) -> float:
    """``wall`` with the stolen share of the asked-for CPU time taken out."""
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


class Interval:
    """Started on construction; ``stop()`` returns (wall, steady) seconds."""

    def __init__(self) -> None:
        self.ticks0 = cpu_ticks()
        self.t0 = time.perf_counter()

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        busy1, steal1 = cpu_ticks()
        busy0, steal0 = self.ticks0
        return wall, steady_seconds(wall, busy1 - busy0, steal1 - steal0)
