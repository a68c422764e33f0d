"""Process-tree CPU and peak RSS from ``/proc``, and the run stamps.

The tree is this process and every descendant: the Spark JVM that
``pyspark`` launches, and the Python daemon and workers the JVM forks.
CPU is ``utime + stime`` of each live process plus ``cutime + cstime``
(its reaped children), so a worker that exits mid-op is still counted
through its parent.
"""

from __future__ import annotations

import os
import platform
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited while we listed /proc
        return None
    # comm (field 2) may hold spaces; fields after it start past the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree() -> dict[str, list[str]]:
    """``{pid: stat fields from field 3 on}`` for this process's tree."""
    stats = {}
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
                children.setdefault(st[1], []).append(pid)
    out, todo = {}, [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    # fields 14-17 (utime stime cutime cstime) are indices 11-14 from field 3
    return sum(sum(int(x) for x in st[11:15]) for st in tree().values()) / _TICK


def reset_peak_rss() -> None:
    """Restart this process's ``VmHWM`` count from its current RSS, so the
    peak excludes input generation (Linux 4.0+)."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def tree_peak_rss() -> dict[str, int]:
    """Each live process's peak RSS (``VmHWM``) in bytes, as the kernel
    counts it (exact, no sampling), keyed ``"<pid> <name>"``."""
    out = {}
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:  # exited since tree() listed it
            continue
        if "VmHWM" in fields:  # a zombie has exited and holds no memory
            out[f"{pid} {fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) * 1024
    return out


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def stamps() -> dict:
    """Host and toolchain stamps taken at run start."""
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg_start": list(os.getloadavg()),
        "steal_start_s": host_steal_s(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "time_start": time.time(),
    }
