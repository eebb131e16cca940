"""Process-session helpers shared by ``run.py`` and ``workload.py``.

A workload runs in its own process session (its pid is the session id).
These helpers list, kill and reap that session's processes through
``/proc``, and tie the workload's life to the process that started it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_PDEATHSIG = 1
_PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl failed")


def subreaper() -> None:
    """Orphans of this process's tree (a JVM whose parent died, the
    pyspark daemon whose JVM died) are re-parented to this process, so it
    can reap them."""
    _prctl(_PR_SET_CHILD_SUBREAPER, 1)


def die_with_parent(parent: int):
    """A ``preexec_fn``: the child gets SIGTERM when ``parent`` dies,
    however it dies (SIGKILL included), and exits at once if ``parent`` is
    already gone."""
    def preexec() -> None:
        _prctl(_PR_SET_PDEATHSIG, signal.SIGTERM)
        if os.getppid() != parent:
            os._exit(1)
    return preexec


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    return text[text.rindex(")") + 2:].split()


def session_pids(sid: int, zombies: bool = False) -> list[int]:
    """Processes of session ``sid``; exited-but-unreaped ones only with
    ``zombies``."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st and int(st[3]) == sid and (zombies or st[0] != "Z"):
                out.append(int(pid))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_session(sid: int, timeout: float = 30.0,
                 spare: int | None = None) -> list[int]:
    """SIGKILL every process of the session but ``spare`` and wait until
    all are gone (reaped: orphans come to the caller when it is their
    subreaper); returns the pids still alive after ``timeout`` (empty on
    success)."""
    end = time.monotonic() + timeout

    def left(zombies: bool = False) -> list[int]:
        return [p for p in session_pids(sid, zombies) if p != spare]

    while True:
        for pid in left():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _reap()
        if not left(zombies=True) or time.monotonic() > end:
            return left()
        time.sleep(0.05)
