"""Machine facts and process-tree CPU / RSS read from ``/proc``.

The benchmark process, the Spark driver JVM it launches and the Python
daemon and workers that JVM forks form one process tree.  CPU and RSS
are summed over that tree so that work moved between the JVM and the
Python workers still shows in one number.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibration() -> dict[str, float]:
    """Seconds for two fixed probes of this machine's speed around a
    result, for telling host noise apart from a change in the program:
    a pure-Python loop (core-bound) and a random gather over 64 MiB
    (cache- and memory-bound)."""
    import numpy as np

    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    loop_s = time.perf_counter() - t0
    rng = np.random.default_rng(0)
    data = rng.integers(0, 1 << 30, 1 << 23)  # 64 MiB of int64
    idx = rng.integers(0, len(data), 1 << 22)
    t0 = time.perf_counter()
    data[idx].sum()
    return {"loop_s": loop_s, "gather_s": time.perf_counter() - t0}


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout_s: float = 15.0) -> None:
    """Wait until every pid has exited (zombies count as exited), then
    SIGKILL any left after ``timeout_s``."""
    def alive(pid: int) -> bool:
        fields = _stat_fields(pid)
        return fields is not None and fields[0] != "Z"

    deadline = time.monotonic() + timeout_s
    while any(map(alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def reset_peak_rss(root: int) -> None:
    """Reset every tree member's RSS high-water mark (VmHWM) to its
    current RSS (proc(5): writing 5 to clear_refs)."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # exited since listing
            pass


def tree_peak_rss_bytes(root: int) -> int:
    """Sum of the tree members' RSS high-water marks (VmHWM).

    The kernel tracks each high-water mark exactly, so no sampling is
    needed; a child that shares its parent's memory between spawn and
    exec has its own, separate mark after exec, so it does not count
    the parent's pages twice the way a sampled RSS sum can."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited since listing
            pass
    return total
