"""Resource counters read from outside the program: /proc and the file
system. No third-party dependency."""

from __future__ import annotations

import os


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def cpu_ticks(stat_line: str | None = None) -> tuple[int, int]:
    """(ticks the machine's CPUs ran, ticks the hypervisor stole from them),
    summed over all CPUs, from the first line of /proc/stat."""
    if stat_line is None:
        with open("/proc/stat") as f:
            stat_line = f.readline()
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(
        int, stat_line.split()[1:9]
    )
    return user + nice + system + irq + softirq, steal


def ran_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two cpu_ticks() readings that
    really ran: 1.0 on a machine whose host steals none."""
    ran, stolen = after[0] - before[0], after[1] - before[1]
    return ran / (ran + stolen) if ran + stolen > 0 else 1.0


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    # the command field may hold spaces: ppid follows its ')'
                    out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                pass
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    kids: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        kids.setdefault(parent, []).append(child)
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += kids.get(p, [])
    return seen


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM (peak resident set) over the JVM and every process it
    started (the PySpark daemon and its Python workers)."""
    return sum(_status_kb(p, "VmHWM") for p in descendants(jvm_pid)) / 1024.0


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except FileNotFoundError:
                pass
    return total


def tree_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def new_entries_bytes(path: str, before: set[str]) -> int:
    """Bytes under the entries of ``path`` that are not in ``before``."""
    total = 0
    for name in set(os.listdir(path)) - before:
        p = os.path.join(path, name)
        total += tree_bytes(p) if os.path.isdir(p) else os.lstat(p).st_size
    return total
