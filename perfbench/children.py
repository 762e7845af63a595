"""Every process a run starts ends before the run does.

PySpark starts the driver JVM (through a ``spark-submit`` shell) and the JVM
starts the Python workers. ``SparkSession.stop()`` ends neither the JVM nor
its helpers: the JVM exits only once its stdin closes, i.e. some time after
the Python process has gone. ``adopt_orphans`` makes this process the reaper
of its orphaned descendants (Linux ``PR_SET_CHILD_SUBREAPER``), so that
``stop_children`` can end and wait for every one of them, grandchildren too.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue
        if ppid == me:
            out.append(int(name))
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(sig: int) -> None:
    for pid in _children():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def stop_children(grace_s: float = 10.0) -> None:
    """End the Spark JVM and every other descendant, and wait for each:
    first by closing the JVM's stdin (its normal shutdown), then SIGTERM,
    then SIGKILL, ``grace_s`` apart."""
    try:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.proc.stdin.close()
    except Exception:
        pass
    steps = [(grace_s, signal.SIGTERM), (grace_s, signal.SIGKILL), (grace_s, None)]
    for wait_s, then in steps:
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            if not _children():
                return
            if time.monotonic() >= deadline:
                break
            time.sleep(0.05)
        if then is not None:
            _signal_all(then)
