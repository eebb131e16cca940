"""Output checks, run after the Spark session has stopped and outside every
timed window. Tables are read back with pyarrow, not Spark.

Crawls are checked against ``frontier.oracle.round_crawl`` on the same site
and config: per-round URL sets, fetch order, and the final frontier URL set.
Every fetched page's markdown must be byte-identical to
``kernels.scrape.markdown_for_page``. The per-page kernel results (markdown
and ``page_links``) are computed once, in a small process pool; the oracle
then runs single-threaded and looks the links up instead of re-extracting
them — same kernel, same inputs, computed in parallel.
"""

from __future__ import annotations

import glob
import multiprocessing
import os
from contextlib import contextmanager

import pyarrow.parquet as pq

from webcrawl_spark.datagen import build_site, render_page_html
from webcrawl_spark.frontier import oracle as oracle_mod
from webcrawl_spark.kernels.crawl import page_links
from webcrawl_spark.kernels.scrape import markdown_for_page
from webcrawl_spark.sources.tableio import TableIO

_SITE = None
_OPTS = None


def _init_worker(seed: int, site_kwargs: dict, cfg) -> None:
    global _SITE, _OPTS
    _SITE = build_site(seed=seed, **site_kwargs)
    _OPTS = cfg.filter_options() if cfg is not None else None


def _page_facts(url: str):
    """(url, golden markdown, page_links or None) for one page."""
    html = render_page_html(_SITE, url)
    links = page_links(html, url, _OPTS) if _OPTS is not None else None
    return url, markdown_for_page(html, url), links


def page_facts(seed: int, site_kwargs: dict, cfg, urls: list[str],
               procs: int) -> dict:
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs, initializer=_init_worker,
                  initargs=(seed, site_kwargs, cfg)) as pool:
        facts = pool.map(_page_facts, urls, chunksize=32)
    return {u: (md, links) for u, md, links in facts}


def read_rounds(root: str, table: str, columns: list[str],
                upto: int) -> dict[int, list[dict]]:
    """Rows per committed round of a TableIO table."""
    out: dict[int, list[dict]] = {}
    for rdir in glob.glob(os.path.join(root, table, "round=*")):
        rnd = int(os.path.basename(rdir).split("=", 1)[1])
        if rnd > upto or not glob.glob(os.path.join(rdir, "**", "*.parquet"),
                                       recursive=True):
            continue
        out[rnd] = pq.read_table(rdir, columns=columns).to_pylist()
    return out


@contextmanager
def _links_from(facts: dict):
    """Serve the oracle's page_links calls from precomputed results."""
    def cached(html, url, opts):
        hit = facts.get(url)
        return hit[1] if hit is not None else page_links(html, url, opts)

    oracle_mod.page_links = cached
    try:
        yield
    finally:
        oracle_mod.page_links = page_links


def _markdown_errors(rows, facts) -> list[str]:
    bad = [r["url"] for r in rows if r["markdown"] != facts[r["url"]][0]]
    return ([f"{len(bad)} markdown values differ from markdown_for_page, "
             f"e.g. {bad[:3]}"] if bad else [])


def check_crawl(root: str, seed: int, site_kwargs: dict, cfg,
                procs: int) -> dict:
    """Compare a finished crawl workdir with the oracle. Returns errors and
    the per-round sizes the path assertion needs."""
    upto = TableIO(None, root).committed_round()
    result = read_rounds(root, "crawl_result",
                         ["url", "seq", "status", "priority", "markdown",
                          "links"], upto)
    rounds = sorted(result)
    ordered = {r: sorted(result[r], key=lambda x: (x["priority"], x["seq"]))
               for r in rounds}
    fetched = [x for r in rounds for x in ordered[r] if x["status"] == 200]
    site = build_site(seed=seed, **site_kwargs)
    facts = page_facts(seed, site_kwargs, cfg,
                       [x["url"] for x in fetched], procs)
    errors = _markdown_errors(fetched, facts)

    # the oracle fetches exactly as many pages as the engine did, then sees
    # only fetch errors: it can discover nothing after the engine's last
    # round, so its discovered list is the frontier as of that round
    budget = [sum(len(ordered[r]) for r in rounds)]

    def fetch(url):
        budget[0] -= 1
        if budget[0] < 0 or url not in site.pages:
            return None
        return "<html>" if url in facts else render_page_html(site, url)

    with _links_from(facts):
        trace = oracle_mod.round_crawl(fetch, cfg)
    want_rounds = trace.rounds[:len(rounds)]
    for i, r in enumerate(rounds):
        got = [x["url"] for x in ordered[r]]
        want = want_rounds[i] if i < len(want_rounds) else []
        if got != want:
            errors.append(f"round {r}: {len(got)} URLs fetched, oracle "
                          f"selects {len(want)}; first differences "
                          f"{sorted(set(got) ^ set(want))[:3]}")
            break
    if [x["url"] for x in fetched] != trace.fetch_order:
        errors.append("fetch order differs from the oracle")
    frontier = [row["url"] for rows in read_rounds(
        root, "frontier", ["url"], upto).values() for row in rows]
    if (len(frontier) != len(set(frontier))
            or set(frontier) != set(trace.discovered)):
        errors.append(f"frontier holds {len(frontier)} URLs "
                      f"({len(set(frontier))} distinct), oracle discovered "
                      f"{len(trace.discovered)}")
    return {
        "errors": errors,
        "fetched": {r: len(ordered[r]) for r in rounds},
        "candidates": {r: sum(len(x["links"]) for x in ordered[r])
                       for r in rounds},
        "frontier": frontier,
        "sample_urls": [x["url"] for x in fetched],
    }


def check_ingest(root: str, seed: int, site_kwargs: dict,
                 expected: list[set[str]], procs: int) -> dict:
    """Each committed batch must hold exactly its unique 200 responses,
    with markdown byte-identical to markdown_for_page."""
    upto = TableIO(None, root).committed_round()
    tables = read_rounds(root, "pages", ["url", "markdown", "links"], upto)
    errors: list[str] = []
    for b in range(upto + 1):
        urls = [r["url"] for r in tables.get(b, [])]
        if len(urls) != len(set(urls)) or set(urls) != expected[b]:
            errors.append(f"batch {b}: {len(urls)} rows, expected "
                          f"{len(expected[b])} unique 200 responses")
    rows = [r for b in sorted(tables) for r in tables[b]]
    facts = page_facts(seed, site_kwargs, None,
                       sorted({r["url"] for r in rows}), procs)
    errors += _markdown_errors(rows, facts)
    return {
        "errors": errors,
        "links": {b: sum(len(r["links"] or []) for r in tables[b])
                  for b in tables},
        "keys": sorted({r["url"] for r in rows}
                       | {l for r in rows for l in (r["links"] or [])}),
        "sample_urls": [r["url"] for r in rows],
    }
