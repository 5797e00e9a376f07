"""Stop every process a run starts, and wait until each has ended.

A PySpark session runs its JVM as a child of this process, and the JVM
starts Python worker daemons of its own. Left alone, the JVM exits only
after this process does (on EOF of its stdin), and its workers later
still, so processes outlive the run. :func:`adopt_orphans` makes this
process the reaper of every descendant, and :func:`stop_all` shuts them
down and waits for them before the run exits.
"""

from __future__ import annotations

import contextlib
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Re-parent orphaned descendants (a worker daemon whose JVM exited)
    to this process instead of init, so they can be waited for."""
    import ctypes

    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    """Pids of every live or unreaped process below this one."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, frontier = [], [os.getpid()]
    while frontier:
        kids = [pid for pid, ppid in parent.items() if ppid in frontier]
        found += kids
        frontier = kids
    return found


def _reap() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def _stop_gateway() -> None:
    """Close the py4j gateway and the JVM's stdin; the JVM then exits."""
    import sys

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    with contextlib.suppress(Exception):
        gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
    SparkContext._gateway = None
    SparkContext._jvm = None


def stop_all(grace_s: float = 20.0) -> None:
    """Stop the JVM and every other descendant; SIGKILL whatever is still
    there after ``grace_s``, and return only when none is left."""
    _stop_gateway()
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        pids = descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)
