"""Process-tree CPU and memory from ``/proc``, and the hardware stamp.

The engine runs as three kinds of process: the Python driver (this
process), the JVM it launches, and the Python workers the JVM forks
(``pyspark.daemon`` and its children).  Spark's ``executorCpuTime``
covers only JVM task threads, so CPU here is read per process from
``/proc/<pid>/stat``.  A process's own time is ``utime + stime``; the
time of children it has already reaped is in its ``cutime + cstime``.
Counting both for every live process in the tree counts each CPU-second
exactly once, including workers that have exited.
"""

from __future__ import annotations

import os
import platform
import subprocess
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    cmd: str
    own_s: float  # utime + stime
    reaped_s: float  # cutime + cstime


def _read_proc(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = stat[stat.rindex(")") + 2 :].split()
    return Proc(
        pid=pid,
        ppid=int(fields[1]),
        cmd=cmd,
        own_s=(int(fields[11]) + int(fields[12])) / _TICK,
        reaped_s=(int(fields[13]) + int(fields[14])) / _TICK,
    )


def snapshot() -> dict[int, Proc]:
    """Every readable process on the machine, by pid."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_proc(int(name))
            if p is not None:
                out[p.pid] = p
    return out


def descendants(procs: dict[int, Proc], root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def cpu_split(procs: dict[int, Proc], root: int) -> dict[str, float]:
    """CPU-seconds of the tree under ``root`` split into ``driver``
    (``root`` itself), ``jvm`` (java processes, own time only) and
    ``python_workers`` (every Python process below a JVM, with its
    reaped children, plus the JVM's reaped children, which are exited
    worker daemons).  ``total`` is the sum of the three."""
    split = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid in descendants(procs, root):
        p = procs[pid]
        if pid == root:
            # the driver's reaped children are short-lived helpers it ran
            split["driver"] += p.own_s + p.reaped_s
        elif _is_java(p):
            split["jvm"] += p.own_s
            split["python_workers"] += p.reaped_s
        else:
            split["python_workers"] += p.own_s + p.reaped_s
    split["total"] = sum(split.values())
    return split


def _is_java(p: Proc) -> bool:
    return os.path.basename(p.cmd.split(" ", 1)[0]) == "java"


def peak_rss_kb(root: int) -> dict[str, int]:
    """Peak resident set (``VmHWM``) per process kind, summed over the
    live tree.  The sum of per-process peaks bounds the tree's peak from
    above; it is what a machine must hold if every peak coincides."""
    procs = snapshot()
    out = {"driver": 0, "jvm": 0, "python_workers": 0}
    for pid in descendants(procs, root):
        kind = (
            "driver" if pid == root
            else "jvm" if _is_java(procs[pid])
            else "python_workers"
        )
        out[kind] += _hwm_kb(pid)
    out["total"] = sum(out.values())
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def hardware_stamp() -> dict:
    """What a result may only be compared across: core count, memory,
    CPU model, software versions and load."""
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
        java = next(line for line in out.splitlines() if "version" in line)
    except (OSError, subprocess.SubprocessError, StopIteration):
        java = "unknown"
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "cpu_model": model,
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
    }


def loadavg() -> list[float]:
    return list(os.getloadavg())
