"""CPU time the host took from this VM while the benchmark measured.

A VM's vCPUs share physical cores with other tenants. While those are
busy, the host deschedules a vCPU that has work to run and the guest
kernel counts the lost time as steal in /proc/stat. A pass during which
the host stole a share ``s`` of the CPU time the VM's vCPUs were running
or wanted to run got ``1 - s`` of the CPU it asked for, so it took about
``1 / (1 - s)`` times as long as on an uncontended host. The benchmark
reports every timing as ``wall * (1 - s)``: the time on an uncontended
host, to first order. The raw wall time and ``s`` of every pass are in
the run's provenance line.
"""

from __future__ import annotations


def cpu_ticks() -> tuple[int, int]:
    """Steal ticks and busy ticks (running or stolen, not idle) of the
    whole machine so far."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(v) for v in fh.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the busy CPU time between two ``cpu_ticks`` readings that
    the host stole."""
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def unstolen(wall_s: float, share: float) -> float:
    """``wall_s`` with the host's stolen share taken out."""
    return wall_s * (1.0 - share)
