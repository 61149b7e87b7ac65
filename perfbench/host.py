"""Host readings from /proc: CPU of the Spark process tree, peak RSS,
steal ticks, plus the pure-CPU control from BENCH/scaling.py."""

from __future__ import annotations

import importlib.util
import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cpu_ticks(pid: int, with_children: bool) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[11:15] = utime stime cutime cstime; reaped children's time
    # lands in the parent's c* fields (how exited Python workers count)
    return sum(int(x) for x in fields[11 : 15 if with_children else 13])


def spark_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this driver process plus the JVM and
    all its descendants (Python workers, alive or reaped)."""
    ticks = _cpu_ticks(os.getpid(), with_children=False)
    ticks += sum(_cpu_ticks(p, with_children=True) for p in tree(jvm_pid))
    return ticks / _TICK


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the high-water RSS of this driver and the JVM tree."""
    kb = 0
    for pid in [os.getpid(), *tree(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(
                    (int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                return int(ln.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_control(repo: str, seconds: float) -> float:
    """Pure-CPU loop iterations/s on every core, via BENCH/scaling.py."""
    spec = importlib.util.spec_from_file_location(
        "bench_scaling", os.path.join(repo, "BENCH", "scaling.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    cores = sorted(os.sched_getaffinity(0))
    return mod.cpu_control(",".join(map(str, cores)), len(cores), seconds)
