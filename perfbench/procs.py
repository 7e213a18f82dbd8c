"""Stopping every process a run starts, and waiting until each has ended.

PySpark starts a JVM; the JVM starts Python worker daemons, each in a process
group of its own, and at exit runs ``rm -rf`` over its temporary directories.
``SparkSession.stop`` ends none of these: the JVM lives until its standard
input closes, and its shutdown hooks outlive the Python process that started
it. A run therefore closes the JVM's input itself and then waits, as the
adoptive parent of every orphaned descendant, until no descendant is left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the parent of every descendant whose own parent exits, so that
    ``reap`` can wait for it (Linux). Where this fails, an orphan goes to
    init, which waits for it, and ``reap`` still polls until it is gone."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_jvm() -> None:
    """Close the standard input of the JVM that PySpark started, on which it
    exits, and forget its gateway so that a later session starts a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        gateway.close()
    except Exception:  # the JVM may already be gone; its input still closes
        pass
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()


def descendants(root: int | None = None) -> list[int]:
    """Process ids of every live or unreaped descendant of ``root`` (this
    process by default), read from /proc."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # ended while we looked
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def reap(grace: float = 60.0, hard: float = 20.0) -> None:
    """Wait until no descendant of this process is left. After ``grace``
    seconds the ones still there are killed; if any is left ``hard`` seconds
    after that, raise."""
    start = time.monotonic()
    while pids := descendants():
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not our child: its own parent waits for it
                pass
        waited = time.monotonic() - start
        if waited > grace + hard:
            raise RuntimeError(f"processes still running after {waited:.0f} s: {pids}")
        if waited > grace:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
