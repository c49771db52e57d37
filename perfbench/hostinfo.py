"""Host and process-tree readings from /proc: the run's contention record
and its peak memory.

The benchmark's tree is this process, the Spark JVM it launches and the
JVM's Python workers. CPU used by everything else on the host during the
timed window, and the host's steal share, are recorded so that a run made
while the host was busy is visible as such.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s(pids: list[int]) -> dict[int, float]:
    """pid -> user+system CPU seconds, for the `pids` still running."""
    out = {}
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            out[pid] = (int(fields[11]) + int(fields[12])) / CLK_TCK
    return out


def host_cpu() -> dict[str, float]:
    """Host-wide CPU seconds from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    busy = user + nice + system + irq + softirq
    return {
        "busy_s": busy / CLK_TCK,
        "steal_s": steal / CLK_TCK,
        "total_s": (busy + idle + iowait + steal) / CLK_TCK,
    }


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) of `pids`, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class Window:
    """Contention over an interval: host steal share and the CPU seconds
    used outside this process tree."""

    def __init__(self):
        self.host0 = host_cpu()
        self.tree0 = tree_cpu_s(process_tree())

    def close(self) -> dict[str, float]:
        host1 = host_cpu()
        tree1 = tree_cpu_s(process_tree())
        # a process that started during the window started at zero CPU; one
        # that ended during it is not counted (the Spark JVM and its Python
        # workers live for the whole run)
        tree = sum(c - self.tree0.get(pid, 0.0) for pid, c in tree1.items())
        total = host1["total_s"] - self.host0["total_s"]
        busy = host1["busy_s"] - self.host0["busy_s"]
        return {
            "steal_share": (host1["steal_s"] - self.host0["steal_s"]) / total if total else 0.0,
            "other_cpu_s": max(0.0, busy - tree),
            "tree_cpu_s": tree,
        }
