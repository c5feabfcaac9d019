"""CPU and memory readings from ``/proc`` for the driver process, its JVM
and the JVM's Python workers."""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    cpu_s: float  # own user + system time
    child_cpu_s: float  # user + system time of reaped children


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. The command name may hold
    spaces and parentheses, so fields are counted after its last ``)``."""
    pid = int(text[: text.index(" ")])
    fields = text[text.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ut, st, cut, cst = (int(v) for v in fields[11:15])
    return ProcStat(pid, int(fields[1]), (ut + st) / CLK_TCK, (cut + cst) / CLK_TCK)


def parse_status_kb(text: str, key: str) -> int:
    """A ``kB`` field such as ``VmHWM`` from ``/proc/<pid>/status``."""
    for line in text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    raise KeyError(key)


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def process_table() -> dict[int, ProcStat]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            text = _read(f"/proc/{name}/stat")
            if text:
                out[int(name)] = parse_stat(text)
    return out


def descendants(table: dict[int, ProcStat], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for p in table.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


@dataclass(frozen=True)
class CpuSample:
    driver_s: float
    jvm_s: float
    pyworkers_s: float


def cpu_sample(jvm_pid: int) -> CpuSample:
    """Cumulative CPU seconds of this process, the JVM, and every Python
    process under the JVM (worker daemon plus workers, with the time of
    workers that already exited through the daemon's reaped-child time)."""
    table = process_table()
    me, jvm = table.get(os.getpid()), table.get(jvm_pid)
    workers = descendants(table, jvm_pid)
    return CpuSample(
        me.cpu_s if me else 0.0,
        jvm.cpu_s if jvm else 0.0,
        sum(table[p].cpu_s + table[p].child_cpu_s for p in workers),
    )


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        text = _read(f"/proc/{pid}/status")
        if text:
            total_kb += parse_status_kb(text, "VmHWM")
    return total_kb / 1024.0
