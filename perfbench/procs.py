"""Process-tree helpers read from /proc (psutil is not available)."""

from __future__ import annotations

import os
import signal
import time


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants(pid: int | None = None) -> list[int]:
    parents = _parents()
    found = {pid or os.getpid()}
    grew = True
    while grew:
        grew = False
        for child, parent in parents.items():
            if parent in found and child not in found:
                found.add(child)
                grew = True
    found.discard(pid or os.getpid())
    return sorted(found)


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def vm_hwm_mb(pid: int | None = None) -> float:
    """Peak resident set (VmHWM) of a process, in MB (10^6 bytes)."""
    with open(f"/proc/{pid or 'self'}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError("no VmHWM in /proc status")


def pyspark_worker_pids() -> list[int]:
    """PySpark Python daemon and worker processes under this process."""
    return [p for p in descendants() if "pyspark.daemon" in cmdline(p)
            or "pyspark.worker" in cmdline(p)]


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def wait_gone(timeout: float = 30.0) -> None:
    """Wait for every descendant to exit, reaping them; after `timeout`
    kill what is left and wait for that too."""
    deadline, killed = time.time() + timeout, False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            return
        if time.time() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} did not exit")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.time() + 10, True
        time.sleep(0.1)
