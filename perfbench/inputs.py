"""Workload definitions and their seeded inputs.

Every input is a pure function of the workload and ``--seed``: the site
graph and page bytes come from ``webcrawl_spark.datagen.build_site`` /
``render_page_html``, and the WARC files from
``webcrawl_spark.sources.warc.build_warc_bytes``. The program under test
only ever sees these generated inputs (a pages DataFrame, WARC files).
Why each workload exists is stated in BENCHMARK.json and README.md.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

from webcrawl_spark.datagen import SiteSpec, build_site, render_page_html
from webcrawl_spark.frontier.crawl import EngineConfig
from webcrawl_spark.frontier.oracle import CrawlConfig


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                      # "crawl" | "ingest"
    site: dict                     # build_site kwargs, seed excluded
    warmup_rounds: int             # untimed rounds after the seed round
    # crawl workloads
    crawl: dict = field(default_factory=dict)   # CrawlConfig kwargs
    engine: dict = field(default_factory=dict)  # EngineConfig kwargs
    cycle: int = 1                 # the timed window is whole cycles
    seed_host_budget: int = 0      # per-round refill of the seed host
    path: str = ""                 # "driver" | "distributed" tail expected
    # ingest workload
    files_per_batch: int = 0
    pages_per_file: int = 0
    batches: int = 0


WORKLOADS = {
    w.name: w for w in [
        Workload(
            name="crawl_polite",
            kind="crawl",
            # six hosts reached through subdomain/external links. The seed
            # host may fetch 20 per round, the others 5: its sitemap-seeded
            # articles spread the crawl to every host within a few rounds,
            # after which each round fetches ~45 URLs across all six. From
            # round 3 on, four consecutive rounds fetch 170-190 URLs
            # whatever the seed (the token buckets conserve the budget)
            site=dict(n_hosts=6, pages_per_host=500, n_hot_hosts=0,
                      density=1),
            warmup_rounds=2,
            crawl=dict(max_depth=3, allow_backward_crawling=True,
                       allow_external_content_links=True,
                       allow_subdomains=True, host_budget=5,
                       budget_capacity=20, enforce_robots=True,
                       use_sitemap=True, priority_mode=True),
            seed_host_budget=20,
            # both compactions land on every 4th round, so each 4-round
            # cycle holds exactly one compaction round: windows of whole
            # cycles carry the same mix whatever the host speed
            engine=dict(compact_queued_every=4, compact_keys_every=4),
            cycle=4,
            path="driver",
        ),
        Workload(
            name="crawl_bulk",
            kind="crawl",
            # one seed host of 5.4k pages plus 600 three-page hosts. The
            # timed cycle is rounds 2 and 3. Round 2 fetches the seed host's
            # 450 sections: 5.4k candidate links, 4.9k admitted. Round 3
            # fetches 2800 of its articles: ~1.95 candidate links each, and
            # their links to the small hosts (roots and sec0, admitted as
            # subdomain/external content links) add ~900 new URLs. So one
            # round is tail-heavy, the other extraction-heavy, and both
            # admit and shard new URLs.
            site=dict(n_hosts=601, pages_per_host=1, n_hot_hosts=1,
                      hot_factor=5400, density=2),
            warmup_rounds=1,
            crawl=dict(max_depth=3, allow_external_content_links=True,
                       allow_subdomains=True, host_budget=2800),
            # no compaction before round 16: crawl_polite measures it
            engine=dict(compact_queued_every=16, compact_keys_every=16),
            # the site holds exactly one cycle
            cycle=2,
            path="distributed",
        ),
        Workload(
            name="ingest_warc",
            kind="ingest",
            site=dict(n_hosts=8, pages_per_host=600, n_hot_hosts=0,
                      density=2),
            # one batch is one scrape task (AQE coalesces warc_pages' dedup
            # shuffle to a partition), so a window of six averages over the
            # speed of whichever core runs it. Batch times still fall over
            # the first few batches as the JVM warms up: two untimed batches
            # take the steepest part of that out of the window
            warmup_rounds=2,
            cycle=6,
            files_per_batch=4,
            pages_per_file=50,
            batches=8,
        ),
    ]
}


def site_for(w: Workload, seed: int) -> SiteSpec:
    return build_site(seed=seed, **w.site)


def crawl_config(w: Workload, site: SiteSpec) -> CrawlConfig:
    kw = dict(w.crawl)
    if kw.get("enforce_robots"):
        kw["robots"] = site.robots
    if kw.get("use_sitemap"):
        kw["sitemaps"] = site.sitemaps
    if kw.get("priority_mode"):
        kw["host_rank"] = {h: i % 3 for i, h in enumerate(site.hosts)}
    if w.seed_host_budget:
        kw["host_budget_overrides"] = {site.hosts[0]: w.seed_host_budget}
    return CrawlConfig(seed_url=f"https://{site.hosts[0]}/", limit=None,
                       **kw)


def engine_config(w: Workload) -> EngineConfig:
    return EngineConfig(**w.engine)


def _render_batches(seed: int, site_kwargs: dict):
    """mapInPandas body: (url) rows → (url, html) rows, rendered in the
    Python workers from the seed (render_page_html is a pure function of
    seed and url, so this equals rendering on the driver)."""
    def render(batches):
        import pandas as pd

        site = build_site(seed=seed, **site_kwargs)
        for pdf in batches:
            yield pd.DataFrame({
                "url": pdf["url"],
                "html": [render_page_html(site, u).encode("utf-8")
                         for u in pdf["url"]],
            })
    return render


def pages_corpus(spark, w: Workload, seed: int, site: SiteSpec, parts: int):
    """The crawl's fetch corpus: every page of the site as (url, html
    binary), rendered in parallel, cached and materialized in ``parts``
    partitions."""
    urls = spark.createDataFrame([(u,) for u in site.urls()], "url string")
    pages = (urls.repartition(parts)
             .mapInPandas(_render_batches(seed, w.site),
                          "url string, html binary")
             .cache())
    pages.count()
    return pages


# --- ingest_warc inputs ---------------------------------------------------

_EPOCH = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)


def warc_plan(w: Workload, seed: int,
              site: SiteSpec) -> list[list[list[dict]]]:
    """Record plan per batch → file → record: ``url``, ``status``,
    ``ts`` (seconds after epoch). Each file holds ``pages_per_file`` distinct
    200 captures, plus one re-capture of a page from its own batch (same
    bytes, later timestamp) and one 404 for a URL the site does not have,
    so the pages table must hold only the unique 200 responses."""
    urls = site.urls()
    random.Random(f"warc:{seed}").shuffle(urls)
    per_batch = w.files_per_batch * w.pages_per_file
    if per_batch * w.batches > len(urls):
        raise ValueError("ingest site too small for the batch plan")
    plan = []
    for b in range(w.batches):
        mine = urls[b * per_batch:(b + 1) * per_batch]
        files = []
        for f in range(w.files_per_batch):
            chunk = mine[f * w.pages_per_file:(f + 1) * w.pages_per_file]
            recs = [{"url": u, "status": 200, "ts": i}
                    for i, u in enumerate(chunk)]
            again = mine[(f * 7 + b) % len(mine)]
            recs.append({"url": again, "status": 200, "ts": 10_000 + f})
            recs.append({"url": f"https://{site.hosts[f % len(site.hosts)]}"
                                f"/missing/b{b}f{f}",
                         "status": 404, "ts": 20_000 + f})
            files.append(recs)
        plan.append(files)
    return plan


def expected_rows(plan_batch: list[list[dict]]) -> set[str]:
    """URLs the pages table must hold after one batch: unique 200s."""
    return {r["url"] for recs in plan_batch for r in recs
            if r["status"] == 200}


def write_warc_batches(site: SiteSpec, plan,
                       root: str) -> tuple[list[str], int]:
    """Write every batch's WARC files under ``root/batch=<b>/``, each a
    per-record-gzipped WARC built by build_warc_bytes; returns one glob per
    batch and the HTML bytes written."""
    from webcrawl_spark.sources.warc import build_warc_bytes

    globs, html_bytes = [], 0
    for b, files in enumerate(plan):
        bdir = os.path.join(root, f"batch={b}")
        os.makedirs(bdir, exist_ok=True)
        globs.append(os.path.join(bdir, "*.warc.gz"))
        for f, recs in enumerate(files):
            records = [{
                "url": r["url"],
                "warc_ts": _EPOCH + dt.timedelta(seconds=r["ts"]),
                "html": (render_page_html(site, r["url"])
                         if r["status"] == 200
                         else "<html>gone</html>").encode("utf-8"),
                "http_status": r["status"],
            } for r in recs]
            with open(os.path.join(bdir, f"part-{f:03d}.warc.gz"),
                      "wb") as fh:
                fh.write(build_warc_bytes(records, gzip_members=True))
            html_bytes += sum(len(r["html"]) for r in records)
    return globs, html_bytes
