"""Process-tree CPU accounting (/proc) — the stall-vs-work instrument.

Wall-clock alone cannot distinguish "this stage stopped scaling because its
work serialized" from "because the host ran out of memory bandwidth / page
faulted": both show sub-linear speedup. CPU-seconds across the whole process
tree (this driver, the py4j-launched JVM child and the PySpark Python
workers the JVM forks) separates them:

- equal CPU at both parallelism levels + sub-linear wall → the extra threads
  waited OFF-cpu (scheduling floors, page-fault/IO, sleeping locks); the job
  did the same work;
- inflated CPU at the higher level → the extra threads spent ON-cpu cycles
  not advancing the job: spin, spill re-work, oversubscription — or
  DRAM-stall cycles, since a memory-bandwidth-stalled thread still accrues
  utime. On a single socket, CPU inflation that appears only at the higher
  thread count and only in memory-traffic-heavy stages is the signature of
  shared-bandwidth contention (the 400k v3 study: L2-blocked signatures
  scale 3.97× with flat CPU; shuffle/numpy-heavy candidates+verify inflate
  ~2× — a real cluster adds a socket with every executor).

The tree, not the process group: PySpark's daemon moves itself and every
worker it forks into a new process group, so a process-group sum misses all
UDF CPU. ``RUSAGE_CHILDREN`` cannot provide it either: the JVM is a child the
python process never waits on, so its rusage never rolls up.

Caveat: CPU of processes that exited between two samples is not seen. The
JVM and (reused) python workers live across any window worth measuring, so
deltas are floors within a few percent.
"""

from __future__ import annotations

import os


def tree_cpu_s() -> "float | None":
    """CPU-seconds (utime+stime) of this process and every LIVE descendant.

    Returns None where /proc or sysconf is unavailable (non-Linux)."""
    try:
        hz = os.sysconf("SC_CLK_TCK")
        pids = [d for d in os.listdir("/proc") if d.isdigit()]
    except (OSError, ValueError):
        return None
    kids: dict = {}
    ticks: dict = {}
    for d in pids:
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                st = f.read().decode("ascii", "replace")
            # fields after the parenthesized comm (which may contain spaces)
            rest = st.rsplit(")", 1)[1].split()
            # rest[1] = ppid, rest[11] = utime, rest[12] = stime
            kids.setdefault(int(rest[1]), []).append(int(d))
            ticks[int(d)] = int(rest[11]) + int(rest[12])
        except (OSError, IndexError, ValueError):
            continue  # raced with process exit
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / hz


def mem_total_mb() -> "int | None":
    """Physical memory (``MemTotal``) in MiB, or None without /proc."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None
