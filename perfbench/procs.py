"""Process hygiene: a run ends with no process of its own left behind.

Spark's JVM forks Python worker daemons, and a spawn-context
multiprocessing pool starts a resource tracker; either can outlive the
process that started it by a moment.  ``become_subreaper`` makes every
orphaned descendant a child of the benchmark, and ``reap_children``
stops and waits for all of them before the benchmark exits.  Linux only.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Orphaned descendants are re-parented to this process, not to init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def child_pids() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended while listing
        # The parent pid is the second field after the parenthesised name.
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def _stop_resource_tracker() -> None:
    """The tracker ignores SIGTERM and exits when its pipe closes;
    ``_stop`` closes the pipe and waits for it."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def reap_children(grace_s: float = 10.0) -> None:
    """Stop every child (SIGTERM, then SIGKILL after ``grace_s``) and
    wait until none is left, zombies included."""
    _stop_resource_tracker()
    deadline = time.monotonic() + grace_s
    while pids := child_pids():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.05)
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
