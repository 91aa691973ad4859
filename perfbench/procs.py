"""Ending every process a run started before the run exits.

PySpark's ``SparkSession.stop()`` stops the context but leaves the
gateway JVM running until the Python process exits; the JVM then shuts
down on its own, after its parent is gone, and the Python worker daemon
it forked outlives it for a moment too. A benchmark run must not leave
either behind, so :func:`stop_all` ends the JVM explicitly and waits for
it, then ends and reaps every remaining descendant.

:func:`become_subreaper` (Linux) makes this process adopt descendants
whose parent dies, so the Python workers are reparented here, not to
init, and this process can wait for them.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _state(pid: int) -> tuple[int, str] | None:
    """(parent pid, state letter) of a process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[1]), fields[0]


def descendants() -> list[int]:
    """Live (non-zombie) descendants of this process."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _state(int(d))
            if st is not None:
                kids.setdefault(st[0], []).append(int(d))
    out, stack = [], list(kids.get(os.getpid(), ()))
    while stack:
        pid = stack.pop()
        st = _state(pid)
        if st is not None and st[1] != "Z":
            out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _reap() -> None:
    """Collect every exited child, adopted ones included."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_gateway(timeout_s: float) -> None:
    """Close the gateway JVM's stdin (it exits on EOF) and wait for it."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        if proc.stdin:
            proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=timeout_s)
    except Exception:
        proc.kill()
        proc.wait()


def _signal_all(sig: int) -> None:
    for pid in descendants():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _wait_gone(timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while True:
        _reap()
        if not descendants():
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.05)


def stop_all(timeout_s: float = 20.0) -> None:
    """End the gateway JVM and every other descendant, and wait for each:
    a polite stop first, SIGTERM next, SIGKILL last."""
    _stop_gateway(timeout_s)
    if _wait_gone(min(5.0, timeout_s)):
        return
    _signal_all(signal.SIGTERM)
    if _wait_gone(timeout_s):
        return
    _signal_all(signal.SIGKILL)
    _wait_gone(timeout_s)
