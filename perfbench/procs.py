"""Every process the benchmark starts ends before it exits.

PySpark launches the gateway JVM as a child of this process; the JVM may
start Python workers of its own. The JVM exits by itself once this
process has gone, but only some time later, so without this module a run
could leave a JVM (and its workers) running after the benchmark exited.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants (Linux): a
    worker whose parent JVM exits is re-parented here, not to init, so
    ``reap_children`` finds and waits for it."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def exit_on_sigterm() -> None:
    """Turn SIGTERM into ``SystemExit`` so that ``finally`` blocks (and
    with them ``stop_jvm`` and ``reap_children``) run."""
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))


def stop_jvm(timeout_s: float = 30.0) -> None:
    """Close the gateway JVM's stdin (it exits at EOF) and wait for it;
    kill it if it has not exited within ``timeout_s``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # pid (comm) state ppid ...; comm may hold spaces and parentheses.
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def reap_children(grace_s: float = 10.0) -> None:
    """Terminate every remaining child (adopted orphans included) and wait
    for each to end: SIGTERM first, SIGKILL after ``grace_s``."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return  # no children left
            if pid == 0:
                time.sleep(0.05)
