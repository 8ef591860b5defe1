"""Host stamp, CPU steal, peak memory of the process tree, and bytes on
disk.

Every run prints the stamp, so a number is never compared across hosts
without it: nproc, ``SPARK_GRAFT_CPUS``, CPU model, MemTotal and the
share of CPU time the hypervisor stole during the run.
"""

from __future__ import annotations

import os


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    for line in _read("/proc/stat").splitlines():
        if line.startswith("cpu "):
            vals = [int(v) for v in line.split()[1:]]
            steal = vals[7] if len(vals) > 7 else 0
            return steal, sum(vals[:8])
    return 0, 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def host_stamp() -> dict:
    model = ""
    for line in _read("/proc/cpuinfo").splitlines():
        if line.startswith("model name"):
            model = line.split(":", 1)[1].strip()
            break
    mem_kb = 0
    for line in _read("/proc/meminfo").splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
            break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpu_model": model,
        "mem_total_mb": mem_kb // 1024,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if not stat:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_hwm_mb(root: int) -> dict[str, float]:
    """Peak resident memory (the kernel's VmHWM high-water mark) of the
    live processes below ``root``, by role: the driver Python, the JVM
    it launched, and Spark's Python workers (summed; forked workers share
    pages, so that sum is an upper bound). Read once, without sampling,
    so it costs the measured processes nothing."""
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid in tree_pids(root):
        status = _read(f"/proc/{pid}/status")
        hwm = next((int(line.split()[1]) for line in status.splitlines() if line.startswith("VmHWM:")), 0)
        name = next((line.split()[1] for line in status.splitlines() if line.startswith("Name:")), "")
        role = "driver" if pid == root else "jvm" if name == "java" else "python_workers"
        out[role] += hwm / 1024.0
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def file_inventory(path: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, size, mtime_ns) of every file below ``path``."""
    out = {}
    for base, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def new_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two inventories."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)
