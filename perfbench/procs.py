"""Child processes of a benchmark run: adopt them, stop them, wait for them.

A run starts the Spark driver JVM, which starts Python worker daemons,
and a spawn pool for the extraction oracle, which starts multiprocessing's
resource tracker. Some of these outlive their parent for a moment: the
workers end when they read end-of-file from the JVM, the tracker when its
owner closes its pipe. A run must not end while any of them still runs,
so it makes itself the subreaper of its descendants (orphans are re-parented
to it instead of to init) and, before it exits, waits for every child it
has, stopping the ones that do not end by themselves.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> bool:
    """Make this process the subreaper of its descendants (Linux)."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def stop_resource_tracker() -> None:
    """Stop multiprocessing's resource tracker if this process started it,
    and wait for it. It ignores SIGTERM; closing its pipe ends it."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        try:
            stop()
        except ChildProcessError:   # already reaped
            resource_tracker._resource_tracker._pid = None


def child_pids() -> list:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            out.append(int(pid))
    return out


def _reap(pid: int) -> bool:
    """True once ``pid`` has ended and been waited for."""
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        return True
    return done == pid


def reap_children(grace: float = 10.0) -> list:
    """Wait until this process has no child left. Children still running
    after ``grace`` seconds get SIGTERM, after twice that SIGKILL.
    Returns the pids that had to be signalled."""
    t0 = time.monotonic()
    signalled: dict = {}
    while True:
        live = [p for p in child_pids() if not _reap(p)]
        if not live:
            return sorted(signalled)
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited >= 2 * grace else signal.SIGTERM if waited >= grace else None
        for pid in live:
            if sig is not None and signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


def stop_children(grace: float = 10.0) -> None:
    """Stop the resource tracker, then wait for every other child."""
    stop_resource_tracker()
    stragglers = reap_children(grace)
    if stragglers:
        print(f"perfbench: stopped child processes {stragglers} that did not end",
              file=sys.stderr)
