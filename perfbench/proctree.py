"""CPU time and peak resident memory of this process and everything under
it (the driver JVM, the Python worker daemon and its workers), read from
``/proc``."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """/proc stat fields of ``root`` and all its descendants, by pid."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                stats[int(name)] = fields
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for f in _tree(root or os.getpid()).values():
        # utime stime cutime cstime are fields 14-17 (1-based) of stat
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set
    (VmHWM). The processes need not peak at once, so this bounds the
    tree's peak from above; it needs no sampling thread."""
    return sum(_hwm_mb(pid) for pid in _tree(root or os.getpid()))


def conditions() -> dict:
    """CPU count, load average and the machine's CPU tick counters (steal
    is time a virtual CPU waited for the host)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "cpu_ticks": sum(ticks),
        "steal_ticks": ticks[7] if len(ticks) > 7 else 0,
    }


def steal_share(start: dict, end: dict) -> float:
    total = end["cpu_ticks"] - start["cpu_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total else 0.0


def descendants(root: int | None = None) -> set[int]:
    root = root or os.getpid()
    return set(_tree(root)) - {root}


def _ended(pid: int) -> bool:
    try:
        # reap it if it is our child; a zombie has ended too
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return True
    except ChildProcessError:
        pass
    fields = _stat(pid)
    return fields is None or fields[0] == "Z"


def stop_all(pids: set[int], timeout: float = 30.0) -> None:
    """Terminate ``pids`` (SIGTERM, then SIGKILL after ``timeout``) and
    wait until each has ended. A JVM interrupted while it starts never
    reads its closed stdin, so it would outlive this process."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = {p for p in pids if not _ended(p)}
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while live and time.monotonic() < deadline:
            time.sleep(0.1)
            live = {p for p in live if not _ended(p)}
        if not live:
            return
