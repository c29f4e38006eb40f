"""Process-tree helpers: peak resident memory and orderly shutdown.

The benchmark process starts the Spark driver JVM, which starts the
PySpark worker daemon, which forks the Python workers. Memory is the sum
over that whole tree, read from ``/proc``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree() -> list[int]:
    """This process and every process below it."""
    me = os.getpid()
    return [me] + descendants(me)


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's peak-RSS counter (VmHWM) from its current RSS."""
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # process already gone


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the per-process peak RSS (VmHWM) since the last reset."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until no process started by this one is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    left = descendants(os.getpid())
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = descendants(os.getpid())
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the processes, including that of
    their reaped children."""
    hz = os.sysconf("SC_CLK_TCK")
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / hz

