"""Measured times without the time the hypervisor stole.

The benchmark runs on shared virtual machines whose CPUs slow down and
speed up over tens of seconds as other guests load the host: on a 4-vCPU
VM the same nearest-city job took 1.0 s and 2.0 s within three minutes.
Most of that is steal, the time the hypervisor gives the VM's CPUs to
other guests while they have work. The kernel counts it in `/proc/stat`;
`cpu_ticks` read just before and just after an operation give the share
of the CPU time the VM wanted during exactly that operation that it got,
busy / (busy + steal), and `adjust` scales the operation's wall time by
it. Little runs between two operations of the measured loop (at most
the check of an answer), so work an operation leaves running after it
returns overlaps the next operation and is charged to it.

An earlier version scaled each operation by a NumPy reference task timed
just before it. Its wall time over-corrected under steal (a task on all
cores waits for its most-stolen thread; a half-serial name query does
not), and its per-thread CPU time, which the guest kernel keeps free of
steal, moved by ±7 % on its own while the jobs did not: over the same
five runs on a 4-vCPU VM, `assign_sparse` throughput spread (quartile
distance over median) 0.17 scaled by the task's CPU time and 0.04 with
the run's stolen share removed.
"""

from __future__ import annotations


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def not_stolen(busy: int, steal: int) -> float:
    """Share of the wanted CPU time the VM got: 1 without steal."""
    return busy / (busy + steal) if busy + steal else 1.0


def adjust(wall: float, busy: int, steal: int) -> float:
    """A wall time without the share of it the hypervisor stole, from the
    busy and steal ticks counted over it."""
    return wall * not_stolen(busy, steal)
