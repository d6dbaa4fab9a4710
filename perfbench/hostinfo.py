"""Host guard and process accounting from ``/proc`` (Linux).

The driver is this Python process; the JVM is the gateway child Spark
launches; the Python workers are the JVM's Python descendants.
"""

from __future__ import annotations

import os
import platform
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_record() -> dict:
    import pyspark

    n = nproc()
    return {
        "nproc": n,
        "master": f"local[{n}]",
        "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_s(pid: int, with_children: bool) -> float:
    st = _stat(pid)
    if not st:
        return 0.0
    # fields 14-17 of /proc/<pid>/stat (utime stime cutime cstime)
    ticks = int(st[11]) + int(st[12])
    if with_children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def cpu_snapshot(jvm_pid: int) -> dict:
    """CPU seconds so far of the driver, the JVM and the Python workers,
    and the machine's steal time.

    Workers are forked by a daemon that reaps them, so the daemon's
    children-time fields hold the workers that have already exited."""
    workers = [p for p in descendants(jvm_pid)[1:] if _is_python(p)]
    return {
        "driver_cpu_s": time.process_time(),
        "jvm_cpu_s": _cpu_s(jvm_pid, with_children=False),
        "pyworker_cpu_s": sum(_cpu_s(p, with_children=True) for p in workers),
        "steal_s": _steal_s(),
    }


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver plus the JVM, in MiB."""
    return (_hwm_kb(os.getpid()) + _hwm_kb(jvm_pid)) / 1024.0


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive (zombies count as gone)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in pids if (_stat(p) or ["Z"])[0] != "Z"]
        if not alive:
            return
        time.sleep(0.1)
