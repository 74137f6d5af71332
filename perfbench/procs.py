"""Process-tree accounting from /proc: CPU time, peak RSS, host load.

The benchmark process is the root of the tree: it launches the Spark JVM,
which forks the Python worker daemon and its workers.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the live tree plus the reaped children each process
    has waited for (cutime+cstime). A delta of two readings is the CPU the
    tree spent in between, including workers that exited meanwhile."""
    total = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after comm: utime=11, stime=12, cutime=13, cstime=14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    """Wait until none of ``pids`` exists any more; False on timeout."""
    deadline = time.time() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.time() > deadline:
            return False
        time.sleep(0.1)
    return True


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\x00", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(root: int) -> dict[str, float]:
    """Largest VmHWM among the Python workers, and of the JVM."""
    py = jvm = 0.0
    for pid in descendants(root):
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            py = max(py, vm_hwm_mb(pid))
        elif "java" in cmd.split(" ", 1)[0]:
            jvm = max(jvm, vm_hwm_mb(pid))
    return {"python_worker": py, "jvm": jvm}


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibration_ms(reps: int = 5) -> float:
    """Median wall of a fixed single-threaded Python loop: a slow host
    regime shows here next to the benchmark's numbers."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t) * 1000.0)
    times.sort()
    return times[len(times) // 2]

