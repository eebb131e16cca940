"""A benchmark run killed part-way leaves no process and no run directory.

    python3 -m pytest -q perfbench/test_hygiene.py

Each case starts ``run.py``, waits until the JVM's Python workers are up,
then kills ``run.py`` with SIGTERM (a polite caller) or SIGKILL (a caller's
``subprocess.run(timeout=...)`` or a process-group kill: ``run.py`` cannot
clean up, the workload gets SIGTERM from the kernel and cleans up itself),
or kills the workload process itself (SIGKILL, a crash that orphans the
JVM). ``run.py`` must exit non-zero without printing a result, and within
a few seconds nothing of the workload's session and no run directory may
be left.
"""

from __future__ import annotations

import os
import re
import signal
import subprocess
import sys
import threading
import time

import pytest

from perfbench.procs import kill_session, session_pids, subreaper
from perfbench.run import ROOT


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode()
    except OSError:
        return ""


def _wait_for(pred, timeout: float):
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        got = pred()
        if got:
            return got
        time.sleep(0.2)
    return None


@pytest.mark.parametrize("victim", ["runner-term", "runner-kill", "workload"])
def test_killed_run_leaves_nothing(victim):
    # the workload orphaned by a SIGKILLed run.py is re-parented here and
    # reaped in the finally below
    subreaper()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "ingest_warc", "--seed", "5", "--seconds", "8",
         "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True)
    err: list[str] = []
    drain = threading.Thread(target=lambda: err.extend(proc.stderr),
                             daemon=True)
    drain.start()
    sid = run_dir = None
    try:
        line = _wait_for(lambda: next(
            (m for m in map(re.compile(
                r"child session (\d+) run dir (\S+)").search, err) if m),
            None), 60)
        assert line, "run.py never started its workload"
        sid, run_dir = int(line.group(1)), line.group(2)
        # Python workers forked by the JVM's daemon: the JVM is up and the
        # tree is at its widest
        workers = _wait_for(lambda: [p for p in session_pids(sid)
                                     if "pyspark.daemon" in _cmdline(p)], 90)
        assert workers, "the workload's Python workers never started"
        if victim == "runner-term":
            proc.send_signal(signal.SIGTERM)
        elif victim == "runner-kill":
            proc.send_signal(signal.SIGKILL)
        else:
            os.kill(sid, signal.SIGKILL)
        out, _ = proc.communicate(timeout=90)
        assert proc.returncode != 0
        assert '"correct"' not in out
        assert _wait_for(lambda: not session_pids(sid)
                         and not os.path.exists(run_dir), 10), (
            f"left behind: processes {session_pids(sid)}, run dir "
            f"{os.path.exists(run_dir)}")
    finally:
        proc.kill()
        proc.wait()
        kill_session(proc.pid)
        if sid is not None:
            kill_session(sid)
