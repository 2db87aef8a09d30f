"""Process-tree helpers: spawn a worker in its own session, measure the
tree it grows (CPU, peak RSS), and reap every descendant afterwards.

A Spark worker process grows a tree: ``worker.py`` -> the JVM (pyspark
launches ``spark-submit``, which execs ``java``) -> ``pyspark.daemon``
(which moves itself into its own process group) -> forked Python
workers.  Killing one process group therefore misses part of the tree.
The parent marks itself a child subreaper, so orphans are re-parented to
it instead of to init; every process it ever started then stays its
descendant, and ``reap_tree`` can signal, wait for and verify all of
them.  Linux only: everything reads ``/proc``.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

_PR_SET_PDEATHSIG = 1
_PR_SET_CHILD_SUBREAPER = 36
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({option}) failed")


def become_subreaper() -> None:
    """Re-parent orphaned descendants to this process (Linux >= 3.4)."""
    _prctl(_PR_SET_CHILD_SUBREAPER, 1)


def _die_with_parent() -> None:  # runs in the child between fork and exec
    _prctl(_PR_SET_PDEATHSIG, signal.SIGKILL)


def spawn(argv: list[str], *, env: dict[str, str], log_path: str) -> subprocess.Popen:
    """Start ``argv`` in a new session, killed if this process dies first.

    Its stdout and stderr go to ``log_path``.  The JVM exits when its
    Python driver's pipe closes, and ``pyspark.daemon`` when the JVM
    does, so the death signal takes the whole tree down even when this
    process is SIGKILLed.
    """
    with open(log_path, "ab") as log:
        return subprocess.Popen(
            argv,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
            preexec_fn=_die_with_parent,
        )


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode(errors="replace")
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def descendants(root: int) -> list[int]:
    """Live pids (zombies included) whose parent chain reaches ``root``."""
    children: dict[int, list[int]] = {}
    for pid in _all_pids():
        st = _stat(pid)
        if st is not None:
            children.setdefault(int(st[1]), []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User+system CPU of ``root`` and its live descendants, including the
    CPU of descendants that already exited and were waited for."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:  # utime stime cutime cstime
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _CLK_TCK


def host_steal_seconds() -> float:
    """CPU time this machine's virtual CPUs were ready to run while the
    hypervisor ran other guests (``steal`` in ``/proc/stat``), summed
    over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def child_named(root: int, name: str) -> int | None:
    """First descendant of ``root`` whose command name is ``name``."""
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == name:
                    return pid
        except OSError:
            continue
    return None


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_tree(proc: subprocess.Popen | None, grace_s: float = 5.0) -> None:
    """Stop ``proc`` and every descendant of this process, then wait for
    all of them: SIGTERM, ``grace_s`` to exit, then SIGKILL."""
    me = os.getpid()
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        if proc is not None and proc.poll() is None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if proc is not None:
                proc.poll()  # reap the direct child through Popen first
            _reap_zombies()
            if not descendants(me):
                return
            time.sleep(0.05)


def survivors() -> list[str]:
    """``pid comm`` of every descendant of this process still present."""
    out = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                out.append(f"{pid} {fh.read().strip()}")
        except OSError:
            continue
    return out
