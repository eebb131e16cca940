"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 15 \
        --trace 0

Runs one workload (``perfbench/workload.py``) in a child process started in
its own process session, samples the peak PSS of that session's whole
process tree (driver Python, JVM, Python workers), and prints one JSON line
last: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run first runs the same workload and seed untraced,
so it can report the tracing overhead.

Process hygiene: on exit, error, timeout or SIGTERM/SIGHUP/SIGINT every
process of the child's session is killed and reaped (this process is their
subreaper), then the run checks that none is left and that the run's
temporary directory is gone. Should this process die without cleaning up
(SIGKILL), the child gets SIGTERM from the kernel and does the same for its
own session before it exits. Files are written only under ``.perfbench/``
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import (  # noqa: E402
    die_with_parent, kill_session, session_pids, subreaper,
)

OUT = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170          # the whole invocation, both children included
DRIVER_MEM = "1g"


def _kb(path: str, key: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakPss(threading.Thread):
    """Peak of the summed PSS of a session's processes. RSS (cheap) is
    polled; PSS (a page-table walk costing ~20 ms on a JVM of a few GB, under
    its mmap lock) is read only when the summed RSS passes its previous high
    by 1%, which is when the PSS peak can move — so the peak reads at most
    ~1% low."""

    def __init__(self, sid: int, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.peak_kb = 0
        self._rss_high = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.period):
            pids = session_pids(self.sid)
            rss = sum(_kb(f"/proc/{p}/status", "VmRSS:") for p in pids)
            if rss > self._rss_high * 1.01:
                self._rss_high = rss
                pss = sum(_kb(f"/proc/{p}/smaps_rollup", "Pss:")
                          for p in pids)
                self.peak_kb = max(self.peak_kb, pss)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _child_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONHASHSEED": "0",
        "PERFBENCH_T0": repr(time.time()),
    })
    return env


def run_child(args, trace: int, deadline: float) -> dict:
    """One workload run in its own session; always leaves no process and no
    run directory behind."""
    tag = f"{args.workload}-seed{args.seed}-trace{trace}"
    run_dir = os.path.join(OUT, "tmp", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_path = os.path.join(OUT, f"{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--run-dir", run_dir, "--result", result_path,
           "--spans", os.path.join(OUT, f"spans-{tag}.json")]
    log_path = os.path.join(OUT, f"{tag}.log")
    proc, sampler, rc = None, None, None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, env=_child_env(run_dir), cwd=ROOT,
                                    stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True,
                                    preexec_fn=die_with_parent(os.getpid()))
        print(f"perfbench: child session {proc.pid} run dir {run_dir}",
              file=sys.stderr, flush=True)
        sampler = PeakPss(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            print(f"perfbench: {tag} passed the deadline; killing it",
                  file=sys.stderr)
    finally:
        if sampler is not None:
            sampler.stop()
        if proc is not None:
            left = kill_session(proc.pid)
            proc.wait()
            if left:
                raise RuntimeError(f"processes {left} of session {proc.pid} "
                                   "survived SIGKILL")
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.exists(run_dir):
            raise RuntimeError(f"run directory {run_dir} was not removed")
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass                       # another run's directory is in it
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise RuntimeError(f"{tag} exited with {rc}")
    with open(result_path) as fh:
        res = json.load(fh)
    res["peak_pss_mb"] = sampler.peak_kb / 1024
    with open(result_path, "w") as fh:
        json.dump(res, fh)
    return res


def _metric(units: dict, name: str, value) -> dict:
    return {"value": float(value), "unit": units[name]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    if not os.path.isdir(os.path.join(ROOT, "webcrawl_spark")):
        print("perfbench: the webcrawl_spark package is not in this "
              "checkout", file=sys.stderr)
        return 2

    started = time.monotonic()
    deadline = started + DEADLINE_S
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))
    subreaper()
    os.makedirs(OUT, exist_ok=True)

    runs = [run_child(args, 0, deadline)]
    if args.trace:
        runs.append(run_child(args, 1, deadline))
    last = runs[-1]
    errors = [e for r in runs for e in r["errors"]]
    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    attempted = max(1, last["attempted"])
    failed = attempted if errors else last["failed"]

    if args.trace:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        layer = dict(last["per_layer"])
        # over the rounds both windows hold, so both rates cover the same
        # round numbers of the same crawl
        n = min(len(r["round_s"]) for r in runs)
        plain, traced = (sum(r["round_urls"][:n]) / sum(r["round_s"][:n])
                         for r in runs)
        layer["trace.untraced_urls_per_s"] = plain
        layer["trace.traced_urls_per_s"] = traced
        layer["trace.overhead_frac"] = 1 - traced / plain if plain else 0.0
        metrics = {m: _metric(units, m, layer[m]) for m in units}
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        e2e = dict(last["end_to_end"], peak_pss_mb=last["peak_pss_mb"])
        e2e["ok_frac"] = 1.0 - failed / attempted
        metrics = {m: _metric(units, m, e2e[m]) for m in units}

    print(f"perfbench: {args.workload} seed {args.seed}: "
          f"{last['end_to_end']['rounds']} timed rounds, "
          f"inputs {json.dumps(last['inputs'])}")
    for name, m in metrics.items():
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}")
    print(f"perfbench: wall {time.monotonic() - started:.1f} s")
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
