"""operators/hostrank.py — weighted PageRank over the host link graph
(north star: priority = depth + host-rank, with the rank COMPUTED from
the corpus instead of hand-maintained): numpy power-iteration parity,
dangling-mass handling, edge extraction through the crawl's own link
kernel, level quantization, and end-to-end crawl scheduling parity when
the computed levels feed CrawlConfig.host_rank."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webcrawl_spark.operators.hostrank import (
    as_host_rank,
    attach_host_priority,
    host_link_edges,
    host_pagerank,
    host_rank_levels,
)

DAMPING = 0.85


def _random_edges(seed, n_nodes=30, n_edges=150):
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n_nodes, n_edges)
    dst = rng.integers(0, n_nodes, n_edges)
    keep = src != dst
    w = rng.integers(1, 6, n_edges).astype(float)
    return [(f"h{s}.com", f"h{d}.com", float(x))
            for s, d, x in zip(src[keep], dst[keep], w[keep])]


def _numpy_pagerank(edges, n_iter, damping=DAMPING):
    """Reference semantics: weighted transition, uniform dangling
    redistribution, fixed iterations from the uniform vector."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    idx = {h: i for i, h in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for s, d, x in edges:
        w[idx[s], idx[d]] += x
    outw = w.sum(axis=1)
    has_out = outw > 0
    p = np.zeros_like(w)
    p[has_out] = w[has_out] / outw[has_out, None]
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dang = r[~has_out].sum()
        r = (1 - damping) / n + damping * (p.T @ r + dang / n)
    return dict(zip(nodes, r))


class TestPagerank:
    @pytest.mark.parametrize("seed,n_iter", [(1, 10), (2, 7), (3, 12)])
    def test_matches_numpy_power_iteration(self, spark, seed, n_iter):
        edges = _random_edges(seed)
        df = spark.createDataFrame(
            edges, "src string, dst string, weight double")
        got = {r["host"]: r["rank"]
               for r in host_pagerank(df, n_iter=n_iter).collect()}
        want = _numpy_pagerank(edges, n_iter)
        assert set(got) == set(want)
        for h in want:
            assert got[h] == pytest.approx(want[h], abs=1e-12)

    def test_rank_is_a_distribution(self, spark):
        df = spark.createDataFrame(
            _random_edges(7), "src string, dst string, weight double")
        total = host_pagerank(df, n_iter=10).agg(F.sum("rank")).first()[0]
        assert total == pytest.approx(1.0, abs=1e-9)

    def test_dangling_sink_mass_redistributed(self, spark):
        # b is a pure sink: without redistribution its mass would leak
        edges = [("a.com", "b.com", 1.0), ("c.com", "a.com", 1.0),
                 ("a.com", "c.com", 1.0)]
        df = spark.createDataFrame(
            edges, "src string, dst string, weight double")
        got = {r["host"]: r["rank"]
               for r in host_pagerank(df, n_iter=20).collect()}
        want = _numpy_pagerank(edges, 20)
        for h in want:
            assert got[h] == pytest.approx(want[h], abs=1e-12)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    def test_duplicate_edges_pre_aggregated(self, spark):
        dup = [("a.com", "b.com", 1.0), ("a.com", "b.com", 2.0),
               ("b.com", "a.com", 1.0)]
        merged = [("a.com", "b.com", 3.0), ("b.com", "a.com", 1.0)]
        d1 = spark.createDataFrame(
            dup, "src string, dst string, weight double")
        d2 = spark.createDataFrame(
            merged, "src string, dst string, weight double")
        r1 = {r["host"]: r["rank"] for r in host_pagerank(d1, 8).collect()}
        r2 = {r["host"]: r["rank"] for r in host_pagerank(d2, 8).collect()}
        assert r1 == r2

    def test_empty_graph(self, spark):
        df = spark.createDataFrame([],
                                   "src string, dst string, weight double")
        assert host_pagerank(df, 3).count() == 0


@pytest.mark.parametrize("op", ["host_pagerank", "host_hits"])
def test_input_lineage_runs_once(spark, op):
    """The input edge lineage (host_link_edges: a full HTML parse per
    page) is evaluated exactly once per call: a counting UDF on the input
    rows sees each row once, whatever the iteration count."""
    from webcrawl_spark.operators import hostrank

    edges = _random_edges(3)
    acc = spark.sparkContext.accumulator(0)

    def tag(src):
        acc.add(1)
        return src

    df = spark.createDataFrame(
        edges, "src string, dst string, weight double").select(
        F.udf(tag, "string")("src").alias("src"), "dst", "weight")
    getattr(hostrank, op)(df, 4).collect()
    assert acc.value == len(edges)


class TestHostLinkEdges:
    def test_cross_host_weights(self, spark):
        pages = [
            ("https://a.com/", "<a href='https://b.com/x'>1</a>"
                               "<a href='https://b.com/y'>2</a>"
                               "<a href='https://a.com/self'>s</a>"),
            ("https://a.com/p2", "<a href='https://c.com/'>3</a>"),
            ("https://b.com/", "<a href='https://a.com/'>4</a>"),
        ]
        df = spark.createDataFrame(
            [(u, h.encode()) for u, h in pages], "url string, html binary")
        got = {(r["src"], r["dst"]): r["weight"]
               for r in host_link_edges(df).collect()}
        assert got == {("a.com", "b.com"): 2.0,
                       ("a.com", "c.com"): 1.0,
                       ("b.com", "a.com"): 1.0}

    def test_relative_links_resolve_to_same_host_and_drop(self, spark):
        df = spark.createDataFrame(
            [("https://a.com/d/", b"<a href='x'>r</a>"
                                  b"<a href='https://b.com/'>b</a>")],
            "url string, html binary")
        got = {(r["src"], r["dst"]) for r in host_link_edges(df).collect()}
        assert got == {("a.com", "b.com")}


class TestLevels:
    def test_levels_monotone_in_rank(self, spark):
        df = spark.createDataFrame(
            _random_edges(5), "src string, dst string, weight double")
        ranks = host_pagerank(df, 10)
        joined = (host_rank_levels(ranks, n_levels=4)
                  .join(ranks, "host").collect())
        by_rank = sorted(joined, key=lambda r: -r["rank"])
        levels = [r["level"] for r in by_rank]
        assert levels == sorted(levels)          # best rank ⇒ lowest level
        assert min(levels) == 0
        assert max(levels) <= 3

    def test_as_host_rank_keeps_the_head(self, spark):
        df = spark.createDataFrame(
            _random_edges(6), "src string, dst string, weight double")
        levels = host_rank_levels(host_pagerank(df, 10), n_levels=4)
        head = as_host_rank(levels, top_n=5)
        assert len(head) == 5
        worst_kept = max(head.values())
        dropped = {r["host"]: r["level"] for r in levels.collect()
                   if r["host"] not in head}
        assert all(lv >= worst_kept for lv in dropped.values())

    def test_attach_host_priority_matches_dict_semantics(self, spark):
        levels = spark.createDataFrame(
            [("a.com", 0), ("b.com", 3)], "host string, level int")
        cand = spark.createDataFrame(
            [("a.com", 1), ("b.com", 1), ("c.com", 2)],
            "host string, depth int")
        got = {(r["host"], r["priority"])
               for r in attach_host_priority(cand, levels).collect()}
        assert got == {("a.com", 1), ("b.com", 4), ("c.com", 2)}


class TestCrawlIntegration:
    def test_computed_levels_schedule_the_crawl(self, spark, tmp_path):
        """End-to-end: rank the synthetic site's host graph, feed the
        computed levels into CrawlConfig.host_rank, and the engine's
        priority schedule matches the python oracle given the same
        levels — the north star's priority = depth + host-rank with the
        rank actually computed from the corpus."""
        from webcrawl_spark.datagen import build_site, render_page_html
        from webcrawl_spark.frontier.crawl import SparkCrawl
        from webcrawl_spark.frontier.oracle import CrawlConfig, round_crawl

        site = build_site(seed=31, n_hosts=4, pages_per_host=20,
                          n_hot_hosts=1, hot_factor=3)
        rows = [(u, render_page_html(site, u).encode())
                for u in site.urls()]
        pages_df = spark.createDataFrame(rows, "url string, html binary")
        ranks = host_pagerank(host_link_edges(pages_df), n_iter=10)
        hr = as_host_rank(host_rank_levels(ranks, n_levels=4), top_n=4)
        assert len(hr) >= 2 and len(set(hr.values())) >= 2

        cfg = CrawlConfig(seed_url=f"https://{site.hosts[0]}/", limit=40,
                          max_depth=3, allow_backward_crawling=True,
                          host_budget=5, priority_mode=True, host_rank=hr)

        def fetch(url):
            return (render_page_html(site, url)
                    if url in site.pages else None)

        oracle = round_crawl(fetch, cfg)
        crawl = SparkCrawl(spark, pages_df, cfg, str(tmp_path / "hr"))
        crawl.run()
        assert crawl.fetch_order() == oracle.fetch_order


class TestTablePriority:
    """host_rank_table: the at-scale twin of CrawlConfig.host_rank — a
    (host, level) DataFrame broadcast-joined into admission instead of a
    plan-literal map (a 10^7-host rank map cannot be a config literal)."""

    def _site(self, spark):
        from webcrawl_spark.datagen import build_site, render_page_html

        site = build_site(seed=31, n_hosts=4, pages_per_host=20,
                          n_hot_hosts=1, hot_factor=3)
        rows = [(u, render_page_html(site, u).encode())
                for u in site.urls()]
        pages = spark.createDataFrame(rows, "url string, html binary")
        ranks = host_pagerank(host_link_edges(pages), n_iter=10)
        levels = host_rank_levels(ranks, n_levels=4) \
            .localCheckpoint(eager=True)
        return site, pages, levels

    def _cfg(self, site, hr):
        from webcrawl_spark.frontier.oracle import CrawlConfig

        return CrawlConfig(seed_url=f"https://{site.hosts[0]}/", limit=40,
                           max_depth=3, allow_backward_crawling=True,
                           host_budget=5, priority_mode=True,
                           host_rank=hr)

    def _run(self, spark, pages, cfg, workdir, levels=None, engine=None):
        from webcrawl_spark.frontier.crawl import SparkCrawl

        crawl = SparkCrawl(spark, pages, cfg, workdir, engine=engine,
                           host_rank_table=levels)
        crawl.run()
        return crawl.fetch_order()

    def test_table_matches_dict_semantics(self, spark, tmp_path):
        """Same levels as dict vs as table → identical fetch order
        (exercises the seed + limit-replay driver paths)."""
        site, pages, levels = self._site(spark)
        full = {r["host"]: int(r["level"]) for r in levels.collect()}
        a = self._run(spark, pages, self._cfg(site, full),
                      str(tmp_path / "dict"))
        b = self._run(spark, pages, self._cfg(site, {}),
                      str(tmp_path / "table"), levels=levels)
        assert a == b and len(a) > 10

    def test_table_priority_distributed_admission(self, spark, tmp_path):
        """small_round_threshold=1 forces _admit_distributed — the
        broadcast-join priority path — and still matches the dict run."""
        from webcrawl_spark.frontier.crawl import EngineConfig
        from webcrawl_spark.frontier.oracle import CrawlConfig

        site, pages, levels = self._site(spark)
        full = {r["host"]: int(r["level"]) for r in levels.collect()}

        def cfg(hr):
            return CrawlConfig(seed_url=f"https://{site.hosts[0]}/",
                               limit=None, max_depth=3,
                               allow_backward_crawling=True,
                               host_budget=5, priority_mode=True,
                               host_rank=hr)

        eng = lambda: EngineConfig(small_round_threshold=1)  # noqa: E731
        a = self._run(spark, pages, cfg(full), str(tmp_path / "d"),
                      engine=eng())
        b = self._run(spark, pages, cfg({}), str(tmp_path / "t"),
                      levels=levels, engine=eng())
        assert a == b and len(a) > 10

    def test_with_priority_plan_broadcasts(self, spark, tmp_path):
        """Plan gate: the table path joins the levels table with a
        broadcast hash join — no shuffle of the candidate side."""
        from webcrawl_spark.frontier.crawl import SparkCrawl
        from webcrawl_spark.frontier.oracle import CrawlConfig

        levels = spark.createDataFrame(
            [("a.com", 1), ("b.com", 2)], "host string, level int")
        pages = spark.createDataFrame(
            [("https://a.com/", b"<a href='https://b.com/'>x</a>")],
            "url string, html binary")
        cfg = CrawlConfig(seed_url="https://a.com/", priority_mode=True)
        crawl = SparkCrawl(spark, pages, cfg, str(tmp_path / "w"),
                           host_rank_table=levels)
        cand = spark.createDataFrame(
            [("a.com", 1), ("c.com", 2)], "host string, depth int")
        out = crawl._with_priority(cand)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        got = {(r["host"], r["priority"]) for r in out.collect()}
        assert got == {("a.com", 2), ("c.com", 2)}


def _numpy_hits(edges, n_iter):
    """Weighted HITS, L2-normalized each half-step, all-ones init."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    idx = {h: i for i, h in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for s, d, x in edges:
        w[idx[s], idx[d]] += x
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(n_iter):
        auth = w.T @ hub
        auth = auth / np.linalg.norm(auth)
        hub = w @ auth
        hub = hub / np.linalg.norm(hub)
    return dict(zip(nodes, zip(hub, auth)))


class TestHits:
    @pytest.mark.parametrize("seed,n_iter", [(4, 10), (8, 6)])
    def test_matches_numpy(self, spark, seed, n_iter):
        from webcrawl_spark.operators.hostrank import host_hits

        edges = _random_edges(seed)
        df = spark.createDataFrame(
            edges, "src string, dst string, weight double")
        got = {r["host"]: (r["hub"], r["authority"])
               for r in host_hits(df, n_iter=n_iter).collect()}
        want = _numpy_hits(edges, n_iter)
        assert set(got) == set(want)
        for h, (hb, au) in want.items():
            assert got[h][0] == pytest.approx(hb, abs=1e-12)
            assert got[h][1] == pytest.approx(au, abs=1e-12)

    def test_hub_vs_authority_roles(self, spark):
        from webcrawl_spark.operators.hostrank import host_hits

        # directory.com links out to everything; popular.com only receives
        edges = [("directory.com", f"p{i}.com", 1.0) for i in range(4)]
        edges += [(f"p{i}.com", "popular.com", 1.0) for i in range(4)]
        df = spark.createDataFrame(
            edges, "src string, dst string, weight double")
        got = {r["host"]: r for r in host_hits(df, 10).collect()}
        best_hub = max(got.values(), key=lambda r: r["hub"])["host"]
        best_auth = max(got.values(), key=lambda r: r["authority"])["host"]
        assert best_hub == "directory.com"
        assert best_auth == "popular.com"

    def test_empty_graph(self, spark):
        from webcrawl_spark.operators.hostrank import host_hits

        df = spark.createDataFrame([],
                                   "src string, dst string, weight double")
        assert host_hits(df, 3).count() == 0
