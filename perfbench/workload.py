"""One benchmark run of one workload, in one process with one JVM.

Started by ``run.py`` in its own process session; writes its result as
JSON to ``--result``. Phases: session start, input set-up, warm-up (the
seed round and the first rounds), the timed closed loop of rounds, (traced
runs: resume), session stop, then the output checks and — traced runs
only — the event-log ledger and the kernel floor. Nothing after the timed
loop is timed into an end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_SPAWN = float(os.environ.get("PERFBENCH_T0", time.time()))

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, inputs  # noqa: E402
from perfbench.floor import kernel_floor  # noqa: E402
from perfbench.ledger import Spans, driver_self_s, group_ledger  # noqa: E402
from perfbench.procs import kill_session, subreaper  # noqa: E402
from webcrawl_spark.datagen import render_page_html  # noqa: E402
from webcrawl_spark.frontier.oracle import CrawlConfig  # noqa: E402
from webcrawl_spark.sources.tableio import TableIO  # noqa: E402

FLOOR_PAGES = 150


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(xs):
    """Highest sample with at least ten samples above it; with fewer than
    eleven samples no such percentile exists, and the slowest sample is
    reported (the sample count is reported beside it)."""
    xs = sorted(xs)
    return xs[len(xs) - 11] if len(xs) >= 11 else (xs[-1] if xs else 0.0)


def start_session(name: str, k: int, trace: bool, run_dir: str):
    from webcrawl_spark.session import get_spark

    confs = {
        # the heap is committed and touched at start, so the JVM's share of
        # peak PSS is its configured size rather than wherever GC happened
        # to let the heap grow to in this run
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        "spark.sql.shuffle.partitions": str(k),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs["spark.eventLog.dir"] = log_dir
        confs["spark.eventLog.compress"] = "false"
    spark = get_spark(f"perfbench-{name}", master=f"local[{k}]",
                      extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway's stdin so the JVM exits, and wait
    for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _walk(root: str) -> dict[str, int]:
    sizes = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                sizes[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return sizes


def _written(before: dict, after: dict, root: str) -> dict:
    new = {p: s for p, s in after.items() if before.get(p) != s}
    shard_dir = os.path.join(root, "bloom_shards") + os.sep
    return {"bytes": sum(new.values()), "files": len(new),
            "bloom_bytes": sum(s for p, s in new.items()
                               if p.startswith(shard_dir))}


class Runner:
    def __init__(self, args) -> None:
        self.w = inputs.WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = args.run_dir
        self.k = min(4, len(os.sched_getaffinity(0)))
        self.spans = Spans(f"{self.w.name}-seed{self.seed}-trace{args.trace}")
        self.out: dict = {"workload": self.w.name, "seed": self.seed,
                          "errors": [], "attempted": 0, "failed": 0}
        self.rounds: list[dict] = []      # timed round spans

    # --- crawl workloads --------------------------------------------------
    def run_crawl(self, spark) -> None:
        from pyspark.sql import functions as F

        from webcrawl_spark.frontier.crawl import SparkCrawl

        w = self.w

        with self.spans.span("setup.inputs", group="setup"):
            site = inputs.site_for(w, self.seed)
            # four partitions per core: big rounds extract in the corpus
            # layout, and small tasks keep one slow core from setting a
            # stage's time
            pages = inputs.pages_corpus(spark, w, self.seed, site,
                                        4 * self.k)
            n, html = pages.agg(F.count(F.lit(1)),
                                F.sum(F.length("html"))).first()
        self.cfg = inputs.crawl_config(w, site)
        self.out["inputs"] = {"pages": n, "html_mb": html / 1e6}
        self.root = os.path.join(self.run_dir, "crawl")
        crawl = SparkCrawl(spark, pages, self.cfg, self.root,
                           engine=inputs.engine_config(w))
        for i in range(1 + w.warmup_rounds):         # seed round + warm-up
            with self.spans.span("warmup.round", group=f"warmup-{i}"):
                crawl.run(max_rounds=1)
        self.out["setup_s"] = time.time() - T_SPAWN

        def step() -> bool:
            rnd = crawl.io.committed_round() + 1

            def one():
                if not crawl.run(max_rounds=1):
                    raise RuntimeError(f"round {rnd}: the crawl ran out of "
                                       "queued URLs inside the timed window")
            return self._timed("frontier.crawl.round", rnd, one)

        def supply() -> bool:
            meta = crawl.io.checkpoint_meta()
            queued = meta["frontier_count"] - meta["processed"]
            return queued >= w.crawl["host_budget"] * w.cycle

        self._window(spark, step, supply)
        if self.trace:
            with self.spans.span("sources.tableio.resume", group="resume") \
                    as sp:
                SparkCrawl(spark, pages, self.cfg, self.root,
                           engine=inputs.engine_config(w)).run(max_rounds=0)
            self.out["resume_s"] = sp["seconds"]

    def _timed(self, name: str, rnd: int, fn) -> bool:
        """One timed round in its own span and job group; a round that
        raises counts as failed and ends the window."""
        before = _walk(self.root) if self.trace else None
        self.out["attempted"] += 1
        try:
            with self.spans.span(name, group=f"round-{rnd}", round=rnd) as sp:
                fn()
        except Exception:
            self.out["failed"] += 1
            self.out["errors"].append(traceback.format_exc(limit=3))
            return False
        if self.trace:
            sp["written"] = _written(before, _walk(self.root), self.root)
        self.rounds.append(sp)
        return True

    def _window(self, spark, step, supply) -> None:
        """Closed loop: whole cycles of timed rounds until ``--seconds`` of
        round time has passed or ``supply()`` says another cycle would run
        short of input. Also records the JVM's old-generation peak over the
        window (the heap is pre-touched, so peak PSS cannot show it)."""
        pools = _old_gen_pools(spark)
        for p in pools:
            p.resetPeakUsage()
        try:
            while True:
                for _ in range(self.w.cycle):
                    if not step():
                        return
                if (sum(r["seconds"] for r in self.rounds) >= self.seconds
                        or not supply()):
                    return
        finally:
            self.out["jvm_old_gen_peak_mb"] = sum(
                p.getPeakUsage().getUsed() for p in pools) / 2**20

    def check_crawl(self) -> None:
        res = checks.check_crawl(self.root, self.seed, self.w.site, self.cfg,
                                 self.k)
        self.out["errors"] += res["errors"]
        metrics = {m["round"]: m for m in
                   TableIO(None, self.root).read_json("round_metrics")}
        fetched = [res["fetched"].get(r["round"], 0) for r in self.rounds]
        threshold = inputs.engine_config(self.w).small_round_threshold
        cands = [res["candidates"].get(r["round"], 0) for r in self.rounds]
        self.out["round_urls"] = fetched
        self.out["inputs"].update({
            "rounds": len(self.rounds),
            "candidates_per_round": cands,
            "fetched_per_round": fetched,
            "small_round_threshold": threshold,
        })
        # path assertion: a datagen or threshold change must not move the
        # workload onto the other round tail unnoticed
        if self.w.path == "distributed":
            wrong = [c for c in cands if c < threshold]
        else:
            wrong = [c for c in cands if c >= threshold]
        if wrong:
            self.out["errors"].append(
                f"{len(wrong)} timed rounds left the {self.w.path} tail "
                f"(candidates {wrong[:3]} vs threshold {threshold})")
        new = sum(metrics.get(r["round"], {}).get("new_urls", 0)
                  for r in self.rounds)
        self.layer = {
            "frontier.crawl.fetched_per_round": _mean(fetched),
            "frontier.crawl.candidates_per_round": _mean(cands),
            "frontier.crawl.admit_ratio": new / sum(cands) if sum(cands)
            else 0.0,
            "frontier.crawl.distributed_round_frac":
                sum(c >= threshold for c in cands) / len(cands),
        }
        self.floor_urls = res["sample_urls"][-FLOOR_PAGES:]
        self.floor_keys = res["frontier"]
        self.floor_opts = self.cfg.filter_options()

    # --- ingest workload --------------------------------------------------
    def run_ingest(self, spark) -> None:
        w = self.w

        with self.spans.span("setup.inputs", group="setup"):
            site = inputs.site_for(w, self.seed)
            self.plan = inputs.warc_plan(w, self.seed, site)
            globs, html = inputs.write_warc_batches(
                site, self.plan, os.path.join(self.run_dir, "warc"))
        self.expected = [inputs.expected_rows(b) for b in self.plan]
        self.out["inputs"] = {
            "pages": len(site.pages), "html_mb": html / 1e6,
            "warc_files": sum(len(b) for b in self.plan),
        }
        self.root = os.path.join(self.run_dir, "ingest")
        io = TableIO(spark, self.root)
        for b in range(w.warmup_rounds):
            with self.spans.span("warmup.round", group=f"warmup-{b}"):
                self._ingest_batch(spark, io, b, globs[b])
        self.out["setup_s"] = time.time() - T_SPAWN
        nxt = [w.warmup_rounds]

        def step() -> bool:
            b = nxt[0]
            nxt[0] += 1
            return self._timed("operators.scrape.batch", b,
                               lambda: self._ingest_batch(spark, io, b,
                                                          globs[b]))

        self._window(spark, step, lambda: nxt[0] + w.cycle <= len(globs))
        if self.trace:
            from webcrawl_spark.sources.warc import warc_pages

            with self.spans.span("sources.warc.read", group="warc-read") as sp:
                warc_pages(spark, globs[0]).count()
            self.out["warc_read_s"] = sp["seconds"]
            with self.spans.span("sources.tableio.resume") as sp:
                again = TableIO(spark, self.root)
                again.rollback_uncommitted(["pages"])
                again.committed_round()
            self.out["resume_s"] = sp["seconds"]

    @staticmethod
    def _ingest_batch(spark, io, b: int, glob_b: str) -> None:
        from webcrawl_spark.kernels.scrape import ScrapeOptions
        from webcrawl_spark.operators.scrape import scrape
        from webcrawl_spark.sources.warc import warc_pages

        pages = warc_pages(spark, glob_b)
        out = scrape(pages, ScrapeOptions(formats=("markdown", "links")))
        io.append(out.drop("html"), "pages", b)
        io.commit_round(b)

    def check_ingest(self) -> None:
        res = checks.check_ingest(self.root, self.seed, self.w.site,
                                  self.expected, self.k)
        self.out["errors"] += res["errors"]
        per_batch = [len(self.expected[r["round"]]) for r in self.rounds]
        self.out["round_urls"] = per_batch
        links = [res["links"].get(r["round"], 0) for r in self.rounds]
        self.out["inputs"].update({"rounds": len(self.rounds),
                                   "pages_per_round": per_batch,
                                   "links_per_round": links})
        self.floor_urls = res["sample_urls"][-FLOOR_PAGES:]
        self.floor_keys = res["keys"]
        # reference defaults: the ingest path itself classifies no links
        self.floor_opts = CrawlConfig(
            seed_url=self.floor_urls[0]).filter_options()

    # --- results ----------------------------------------------------------
    def end_to_end(self) -> dict:
        secs = [r["seconds"] for r in self.rounds]
        self.out["round_s"] = secs
        attempted = max(1, self.out["attempted"])
        failed = attempted if self.out["errors"] else self.out["failed"]
        return {
            "setup_s": self.out.get("setup_s", 0.0),
            "urls_per_s": sum(self.out["round_urls"]) / sum(secs),
            "round_p50_s": _median(secs),
            "ok_frac": 1.0 - failed / attempted,
            "rounds": len(secs),
        }

    def per_layer(self) -> dict:
        """Per-layer metrics of a traced run (event log + walk + floor)."""
        ledger = group_ledger(os.path.join(self.run_dir, "eventlog"))
        n = len(self.rounds)
        per = {key: 0.0 for key in ("jobs", "tasks", "task_run_s",
                                    "task_cpu_s", "python_s",
                                    "python_sent_bytes", "shuffle_bytes",
                                    "spill_bytes", "output_bytes")}
        driver = 0.0
        for r in self.rounds:
            g = ledger.get(r["group"], {})
            for key in per:
                per[key] += g.get(key, 0.0)
            driver += driver_self_s(r, g.get("job_intervals", {}).values())
        per = {key: v / n for key, v in per.items()}
        secs = [r["seconds"] for r in self.rounds]
        written = [r.get("written", {}) for r in self.rounds]
        m = {}
        m["session.start_s"] = self.out["session_s"]
        m["session.jvm_old_gen_peak_mb"] = self.out["jvm_old_gen_peak_mb"]
        m["sources.tableio.bytes_written_per_round"] = _mean(
            [x.get("bytes", 0) for x in written])
        m["sources.tableio.files_per_round"] = _mean(
            [x.get("files", 0) for x in written])
        m["sources.tableio.resume_s"] = self.out.get("resume_s", 0.0)
        if self.w.kind == "crawl":
            every = inputs.engine_config(self.w).compact_queued_every
            comp = [r["seconds"] for r in self.rounds
                    if every > 0 and r["round"] % every == 0]
            m.update(self.layer)
            m.update({
                "frontier.crawl.rounds": n,
                "frontier.crawl.round_s": _median(secs),
                "frontier.crawl.round_tail_s": _tail(secs),
                "frontier.crawl.jobs_per_round": per["jobs"],
                "frontier.crawl.tasks_per_round": per["tasks"],
                "frontier.crawl.task_run_s_per_round": per["task_run_s"],
                "frontier.crawl.task_cpu_s_per_round": per["task_cpu_s"],
                "frontier.crawl.python_s_per_round": per["python_s"],
                "frontier.crawl.shuffle_bytes_per_round":
                    per["shuffle_bytes"],
                "frontier.crawl.spill_bytes_per_round": per["spill_bytes"],
                "frontier.crawl.driver_s_per_round": driver / n,
                "sources.tableio.bloom_shards_bytes_per_round": _mean(
                    [x.get("bloom_bytes", 0) for x in written]),
            })
            if comp:
                m["frontier.crawl.compaction_round_s"] = _median(comp)
        else:
            m.update({
                "operators.scrape.batches": n,
                "operators.scrape.batch_s": _median(secs),
                "operators.scrape.task_run_s": per["task_run_s"],
                "operators.scrape.python_s": per["python_s"],
                "operators.scrape.python_data_sent_bytes":
                    per["python_sent_bytes"],
                "operators.scrape.write_bytes": per["output_bytes"],
                "sources.warc.read_s": self.out.get("warc_read_s", 0.0),
            })
        site = inputs.site_for(self.w, self.seed)
        pages = [(u, render_page_html(site, u)) for u in self.floor_urls]
        with self.spans.span("kernels.floor"):
            m.update(kernel_floor(pages, self.floor_opts, self.floor_keys))
        names = _layer_metric_names()
        self.out["not_exercised"] = [k for k in names if k not in m]
        return {k: m.get(k, 0.0) for k in names}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _old_gen_pools(spark) -> list:
    """The JVM heap's old-generation memory pools (G1: "G1 Old Gen", which
    also holds humongous objects). Eden is left out: its peak is the young
    generation size G1 chose, not data the program kept."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
            and ("Old" in p.getName() or "Tenured" in p.getName())]


def _die_with_runner(run_dir: str) -> None:
    """When run.py dies without cleaning up (it is SIGKILLed), the kernel
    sends this process SIGTERM (``procs.die_with_parent``). Then kill and
    reap the rest of this process session — the JVM, the pyspark daemon
    and its workers —, remove the run directory and exit."""
    if os.getsid(0) != os.getpid():
        return                   # not started by run.py in its own session

    def handler(signum, _frame):
        kill_session(os.getpid(), spare=os.getpid())
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(128 + signum)

    subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, handler)


def _layer_metric_names() -> list[str]:
    """BENCHMARK.json's per-layer metrics this process measures (run.py adds
    the trace.* overhead ones); a traced run of a workload that does not
    exercise a layer reports that layer's metrics as 0."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return [m["name"] for m in bench["per_layer"]
            if not m["name"].startswith("trace.")]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args(argv)
    _die_with_runner(args.run_dir)

    r = Runner(args)
    spark = None
    try:
        with r.spans.span("session.start"):
            spark = start_session(r.w.name, r.k, r.trace, r.run_dir)
        r.out["session_s"] = time.time() - T_SPAWN
        r.spans.sc = spark.sparkContext
        r.run_crawl(spark) if r.w.kind == "crawl" else r.run_ingest(spark)
    finally:
        if spark is not None:
            r.spans.sc = None
            with r.spans.span("session.stop"):
                stop_session(spark)
    if not r.rounds:
        raise RuntimeError("no timed round completed:\n"
                           + "\n".join(r.out["errors"]))
    with r.spans.span("checks"):
        r.check_crawl() if r.w.kind == "crawl" else r.check_ingest()
    r.out["end_to_end"] = r.end_to_end()
    if r.trace:
        r.out["per_layer"] = r.per_layer()
    r.spans.write(args.spans)
    with open(args.result, "w") as fh:
        json.dump(r.out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
