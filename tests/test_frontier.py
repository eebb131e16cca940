"""Frontier engine tests: crawl ordering + seen-set parity vs the in-memory
oracles (BASELINE.json north_star contract), politeness budget behavior,
limit semantics, and exact mid-round resume."""

import shutil

import pytest

from webcrawl_spark.datagen import build_site, render_page_html
from webcrawl_spark.frontier.crawl import EngineConfig, SparkCrawl
from webcrawl_spark.frontier.oracle import CrawlConfig, reference_crawl, round_crawl


@pytest.fixture(scope="module")
def site():
    return build_site(seed=7, n_hosts=3, pages_per_host=30, n_hot_hosts=1,
                      hot_factor=2)


@pytest.fixture(scope="module")
def fetch(site):
    cache = {}

    def _fetch(url):
        if url not in site.pages:
            return None
        if url not in cache:
            cache[url] = render_page_html(site, url)
        return cache[url]

    return _fetch


@pytest.fixture(scope="module")
def site_pages_df(spark, site, fetch):
    rows = [(u, fetch(u).encode()) for u in site.urls()]
    return spark.createDataFrame(rows, "url string, html binary").cache()


def run_engine(spark, site_pages_df, cfg, tmp_path, engine=None):
    work = str(tmp_path / "crawl")
    shutil.rmtree(work, ignore_errors=True)
    crawl = SparkCrawl(spark, site_pages_df, cfg, work, engine=engine)
    crawl.run()
    return crawl


def check_commits(monkeypatch):
    """Wrap SparkCrawl._commit so every committed round is checked for
    the state later rounds and resumes read without repair: the latest
    committed bloom_shards round reads back with blobs, and a round that
    fetched has its fetched_seqs sidecar with one seq per fetched URL.
    Returns the list of rounds checked."""
    checked = []
    commit = SparkCrawl._commit

    def checked_commit(self, round_no, done):
        commit(self, round_no, done)
        io = self.io
        shards = io.read_local("bloom_shards", io.latest_round("bloom_shards"),
                               columns=["host_bucket", "blob"])
        assert len(shards) > 0, round_no
        if round_no > 0 and not done:
            fetched = io.read_json("round_metrics")[-1]
            assert fetched["round"] == round_no
            seqs = io.read_local("fetched_seqs", round_no, columns=["seq"])
            assert len(seqs) == fetched["fetched"] > 0
        checked.append(round_no)

    monkeypatch.setattr(SparkCrawl, "_commit", checked_commit)
    return checked


class TestOracleEquivalence:
    def test_round_crawl_matches_reference_without_budget(self, site, fetch):
        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=25, max_depth=3,
                          allow_backward_crawling=True)
        ref = reference_crawl(fetch, cfg)
        rnd = round_crawl(fetch, cfg)
        assert rnd.fetch_order == ref.fetch_order
        assert rnd.discovered == ref.discovered

    def test_budget_changes_order_not_set(self, site, fetch):
        seed = f"https://{site.hosts[0]}/"
        base = CrawlConfig(seed_url=seed, limit=None, max_depth=3,
                           allow_backward_crawling=True)
        free = round_crawl(fetch, base)
        budgeted = round_crawl(
            fetch,
            CrawlConfig(seed_url=seed, limit=None, max_depth=3,
                        allow_backward_crawling=True, host_budget=3),
        )
        assert sorted(budgeted.fetch_order) == sorted(free.fetch_order)


class TestEngineParity:
    def test_order_and_seen_set_match_reference(self, spark, site, fetch,
                                                site_pages_df, tmp_path):
        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=30, max_depth=3,
                          allow_backward_crawling=True)
        oracle = round_crawl(fetch, cfg)
        crawl = run_engine(spark, site_pages_df, cfg, tmp_path)
        assert crawl.fetch_order() == oracle.fetch_order
        engine_seen = {r["url"] for r in crawl.frontier().select("url").collect()}
        assert engine_seen == set(oracle.discovered)

    def test_politeness_budget_parity(self, spark, site, fetch, site_pages_df,
                                      tmp_path):
        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=40, max_depth=3,
                          allow_backward_crawling=True, host_budget=4)
        oracle = round_crawl(fetch, cfg)
        crawl = run_engine(spark, site_pages_df, cfg, tmp_path)
        assert crawl.fetch_order() == oracle.fetch_order
        # per-round budget respected in the engine's own log
        log = crawl.fetch_log().groupBy("round", "host").count().collect()
        assert all(r["count"] <= 4 for r in log)

    def test_unlimited_distributed_mode(self, spark, site, fetch,
                                        site_pages_df, tmp_path):
        seed = f"https://{site.hosts[1]}/"
        cfg = CrawlConfig(seed_url=seed, limit=None, max_depth=2,
                          allow_backward_crawling=True, host_budget=8)
        oracle = round_crawl(fetch, cfg)
        crawl = run_engine(spark, site_pages_df, cfg, tmp_path)
        assert crawl.fetch_order() == oracle.fetch_order
        engine_seen = {r["url"] for r in crawl.frontier().select("url").collect()}
        assert engine_seen == set(oracle.discovered)

    def test_fetch_udf_mode_parity(self, spark, site, fetch, site_pages_df,
                                   tmp_path):
        """Live-fetch mode (per-URL fetch UDF, no corpus join) produces the
        identical crawl to corpus-replay mode."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from webcrawl_spark.datagen import render_page_html

        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=30, max_depth=3,
                          allow_backward_crawling=True, host_budget=5)
        replay = run_engine(spark, site_pages_df, cfg, tmp_path / "replay")

        bc = spark.sparkContext.broadcast(site)

        @pandas_udf("binary")
        def fetch_live(urls: pd.Series) -> pd.Series:
            s = bc.value
            return pd.Series(
                [render_page_html(s, u).encode() if u in s.pages else None
                 for u in urls], dtype="object")

        work = str(tmp_path / "live")
        live = SparkCrawl(spark, None, cfg, work, fetch_udf=fetch_live)
        live.run()
        assert live.fetch_order() == replay.fetch_order()

    def test_ssrf_guard_in_live_mode(self, spark, site, tmp_path):
        """Live mode must never dial private/loopback hosts: a crawled page
        linking to 127.0.0.1 / localhost gets those links admitted (external
        links allowed) but the FETCH layer denies them with status 403 and
        the fetch UDF is never invoked for them (safeFetch semantics)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        host = "safe-site.test"
        evil = ["https://127.0.0.1/admin", "https://localhost/secrets",
                "https://10.0.0.5/x", "https://169.254.169.254/meta"]
        page = ("<html><body>" +
                "".join(f'<a href="{u}">x</a>' for u in evil) +
                f'<a href="https://{host}/next">n</a></body></html>')
        corpus = {f"https://{host}/": page,
                  f"https://{host}/next": "<html><body>leaf</body></html>"}
        # python workers are subprocesses — record dialed urls via a spool
        # dir, not a closure-captured set
        spool = str(tmp_path / "dialed")
        import os
        os.makedirs(spool, exist_ok=True)

        @pandas_udf("binary")
        def fetch_live(urls: pd.Series) -> pd.Series:
            import os as _os
            import uuid as _uuid
            with open(_os.path.join(spool, _uuid.uuid4().hex), "w") as f:
                f.write("\n".join(u or "" for u in urls))
            return pd.Series(
                [corpus[u].encode() if u in corpus else None for u in urls],
                dtype="object")

        cfg = CrawlConfig(seed_url=f"https://{host}/", limit=None,
                          max_depth=2, allow_backward_crawling=True,
                          allow_external_content_links=True)
        crawl = SparkCrawl(spark, None, cfg, str(tmp_path / "ssrf"),
                           fetch_udf=fetch_live)
        crawl.run()
        log = {r["url"]: r["status"]
               for r in crawl.fetch_log().select("url", "status").collect()}
        for u in evil:
            assert log[u] == 403, (u, log)
        assert log[f"https://{host}/next"] == 200
        dialed = set()
        for fn in os.listdir(spool):
            with open(os.path.join(spool, fn)) as f:
                dialed.update(x for x in f.read().splitlines() if x)
        assert not (set(evil) & dialed), "fetch UDF dialed an unsafe host"
        assert all(u not in crawl.fetch_order() for u in evil)

    def test_live_robots_cache(self, spark, tmp_path):
        """North-rule robots.txt cache, live mode: robots fetched ONCE per
        host (cached in the robots_cache table, reused across rounds AND
        resume), disallowed paths denied with status 999 and never
        dialed."""
        import os

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        host = "robots-site.test"
        corpus = {
            f"https://{host}/robots.txt":
                "User-agent: *\nDisallow: /private\n",
            f"https://{host}/": (
                f'<html><body><a href="https://{host}/ok">ok</a>'
                f'<a href="https://{host}/private/x">p</a></body></html>'),
            f"https://{host}/ok": "<html><body>fine</body></html>",
            f"https://{host}/private/x": "<html><body>secret</body></html>",
        }
        spool = str(tmp_path / "dials")
        os.makedirs(spool, exist_ok=True)

        @pandas_udf("binary")
        def fetch_live(urls: pd.Series) -> pd.Series:
            import os as _os
            import uuid as _uuid
            with open(_os.path.join(spool, _uuid.uuid4().hex), "w") as f:
                f.write("\n".join(u or "" for u in urls))
            return pd.Series(
                [corpus[u].encode() if u in corpus else None for u in urls],
                dtype="object")

        cfg = CrawlConfig(seed_url=f"https://{host}/", limit=None,
                          max_depth=2, allow_backward_crawling=True)
        work = str(tmp_path / "robots")
        crawl = SparkCrawl(spark, None, cfg, work, fetch_udf=fetch_live,
                           engine=EngineConfig(live_robots=True))
        crawl.run()

        log = {r["url"]: r["status"]
               for r in crawl.fetch_log().select("url", "status").collect()}
        assert log[f"https://{host}/private/x"] == 999
        assert log[f"https://{host}/ok"] == 200

        def dialed():
            out = []
            for fn in os.listdir(spool):
                with open(os.path.join(spool, fn)) as f:
                    out.extend(x for x in f.read().splitlines() if x)
            return out

        d = dialed()
        assert f"https://{host}/private/x" not in d
        assert d.count(f"https://{host}/robots.txt") == 1  # cached once

        # resume on the same workdir: robots served from the cache table
        resumed = SparkCrawl(spark, None, cfg, work, fetch_udf=fetch_live,
                             engine=EngineConfig(live_robots=True))
        resumed.run()
        assert dialed().count(f"https://{host}/robots.txt") == 1

    def test_live_robots_http_only_host(self, spark, tmp_path):
        """ADVICE r4: the robots URL scheme must come from the host's own
        selected URLs — an http-only host gets http://host/robots.txt
        (https would fail and silently disable robots)."""
        import os

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        host = "plainhttp.test"
        corpus = {
            f"http://{host}/robots.txt":
                "User-agent: *\nDisallow: /private\n",
            f"http://{host}/": (
                f'<html><body><a href="http://{host}/ok">ok</a>'
                f'<a href="http://{host}/private/x">p</a></body></html>'),
            f"http://{host}/ok": "<html><body>fine</body></html>",
            f"http://{host}/private/x": "<html><body>secret</body></html>",
        }
        spool = str(tmp_path / "dials")
        os.makedirs(spool, exist_ok=True)

        @pandas_udf("binary")
        def fetch_live(urls: pd.Series) -> pd.Series:
            import os as _os
            import uuid as _uuid
            with open(_os.path.join(spool, _uuid.uuid4().hex), "w") as f:
                f.write("\n".join(u or "" for u in urls))
            return pd.Series(
                [corpus[u].encode() if u in corpus else None for u in urls],
                dtype="object")

        cfg = CrawlConfig(seed_url=f"http://{host}/", limit=None,
                          max_depth=2, allow_backward_crawling=True)
        crawl = SparkCrawl(spark, None, cfg, str(tmp_path / "w"),
                           fetch_udf=fetch_live,
                           engine=EngineConfig(live_robots=True))
        crawl.run()

        log = {r["url"]: r["status"]
               for r in crawl.fetch_log().select("url", "status").collect()}
        assert log[f"http://{host}/private/x"] == 999  # robots enforced
        assert log[f"http://{host}/ok"] == 200

        dialed = []
        for fn in os.listdir(spool):
            with open(os.path.join(spool, fn)) as f:
                dialed.extend(x for x in f.read().splitlines() if x)
        assert f"http://{host}/robots.txt" in dialed
        assert f"https://{host}/robots.txt" not in dialed

    def test_live_robots_fetch_failure_retried_not_allow_all(
            self, spark, tmp_path):
        """ADVICE r4: a FAILED robots fetch must not be cached permanently
        as allow-all — this round treats it as allow (unreachable robots
        doesn't block, reference semantics) but a later crawl on the same
        workdir retries the fetch and then enforces the rules."""
        import os

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        host = "flaky-robots.test"
        pages = {
            f"https://{host}/": (
                f'<html><body><a href="https://{host}/private/x">p</a>'
                f'</body></html>'),
            f"https://{host}/private/x": "<html><body>secret</body></html>",
        }
        robots_body = "User-agent: *\nDisallow: /private\n"
        flag = str(tmp_path / "robots_up")  # existence → robots reachable
        spool = str(tmp_path / "dials")
        os.makedirs(spool, exist_ok=True)

        @pandas_udf("binary")
        def fetch_live(urls: pd.Series) -> pd.Series:
            import os as _os
            import uuid as _uuid
            with open(_os.path.join(spool, _uuid.uuid4().hex), "w") as f:
                f.write("\n".join(u or "" for u in urls))
            up = _os.path.exists(flag)
            out = []
            for u in urls:
                if u and u.endswith("/robots.txt"):
                    out.append(robots_body.encode() if up else None)
                else:
                    out.append(pages.get(u, "<html/>").encode())
            return pd.Series(out, dtype="object")

        def dialed():
            out = []
            for fn in os.listdir(spool):
                with open(os.path.join(spool, fn)) as f:
                    out.extend(x for x in f.read().splitlines() if x)
            return out

        cfg = CrawlConfig(seed_url=f"https://{host}/", limit=None,
                          max_depth=2, allow_backward_crawling=True)
        work = str(tmp_path / "w")
        # run 1: robots down → fetch fails → allow for this crawl
        c1 = SparkCrawl(spark, None, cfg, work, fetch_udf=fetch_live,
                        engine=EngineConfig(live_robots=True))
        c1.run()
        log1 = {r["url"]: r["status"]
                for r in c1.fetch_log().select("url", "status").collect()}
        assert log1[f"https://{host}/private/x"] == 200  # allowed, not 999
        n_first = dialed().count(f"https://{host}/robots.txt")
        assert n_first >= 1

        # run 2, robots now up: the failure was NOT cached as allow-all —
        # the fetch is retried and the disallow now enforced.
        open(flag, "w").close()
        # same robots_cache table shared via copy of workdir cache: a
        # finished crawl won't re-run, so start a fresh crawl over a
        # workdir that kept ONLY the robots_cache table.
        import shutil
        shutil.copytree(work, str(tmp_path / "w2"))
        # drop round/frontier state, keep the robots_cache table → the new
        # crawl resumes the cache but starts the frontier fresh
        for sub in os.listdir(str(tmp_path / "w2")):
            p = os.path.join(str(tmp_path / "w2"), sub)
            if sub != "robots_cache":
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        c2 = SparkCrawl(spark, None, cfg, str(tmp_path / "w2"),
                        fetch_udf=fetch_live,
                        engine=EngineConfig(live_robots=True))
        c2.run()
        log2 = {r["url"]: r["status"]
                for r in c2.fetch_log().select("url", "status").collect()}
        assert log2[f"https://{host}/private/x"] == 999  # enforced now
        assert dialed().count(f"https://{host}/robots.txt") > n_first

    def test_conditional_fetch_recrawl_serves_from_cache(self, spark, site,
                                                         tmp_path):
        """J5's live twin: a recrawl sharing the validator cache must serve
        unchanged pages from cache (the 2nd run's UDF returns GARBAGE for
        any real fetch — identical output proves every page was a 304),
        and a changed page must be refetched + the cache updated."""
        import hashlib

        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from webcrawl_spark.sources.fetchcache import COND_FETCH_SCHEMA

        host = "cond-site.test"
        corpus = {
            f"https://{host}/": (
                f'<html><body><a href="https://{host}/a">a</a>'
                f'<a href="https://{host}/b">b</a></body></html>'),
            f"https://{host}/a": "<html><body><p>alpha</p></body></html>",
            f"https://{host}/b": "<html><body><p>beta</p></body></html>",
        }

        def make_udf(pages: dict, garbage_on_fetch: bool):
            @pandas_udf(COND_FETCH_SCHEMA)
            def cond(urls: pd.Series, etags: pd.Series,
                     lms: pd.Series) -> pd.DataFrame:
                rows = []
                for u, e in zip(urls, etags):
                    if u not in pages:
                        rows.append((None, None, None, False))
                        continue
                    html = pages[u].encode()
                    tag = hashlib.md5(html).hexdigest()
                    if e == tag:
                        rows.append((None, tag, None, True))     # 304
                    elif garbage_on_fetch:
                        rows.append((b"<html><body>GARBAGE</body></html>",
                                     "g", None, False))
                    else:
                        rows.append((html, tag, None, False))
                return pd.DataFrame(rows, columns=[
                    "html", "etag", "last_modified", "not_modified"])
            return cond

        cache_dir = str(tmp_path / "httpcache")
        cfg = CrawlConfig(seed_url=f"https://{host}/", limit=None,
                          max_depth=2, allow_backward_crawling=True)
        c1 = SparkCrawl(spark, None, cfg, str(tmp_path / "run1"),
                        cond_fetch_udf=make_udf(corpus, False),
                        fetch_cache_dir=cache_dir)
        c1.run()
        md1 = {r["url"]: r["markdown"] for r in
               c1.results().select("url", "markdown").collect()}
        assert "alpha" in md1[f"https://{host}/a"]

        # recrawl, same cache: garbage-on-real-fetch, so only 304s can
        # produce the identical crawl
        c2 = SparkCrawl(spark, None, cfg, str(tmp_path / "run2"),
                        cond_fetch_udf=make_udf(corpus, True),
                        fetch_cache_dir=cache_dir)
        c2.run()
        md2 = {r["url"]: r["markdown"] for r in
               c2.results().select("url", "markdown").collect()}
        assert md2 == md1
        assert c2.fetch_order() == c1.fetch_order()

        # change one page → refetched fresh, others still cache-served
        changed = dict(corpus)
        changed[f"https://{host}/b"] = \
            "<html><body><p>beta changed!</p></body></html>"
        c3 = SparkCrawl(spark, None, cfg, str(tmp_path / "run3"),
                        cond_fetch_udf=make_udf(changed, False),
                        fetch_cache_dir=cache_dir)
        c3.run()
        md3 = {r["url"]: r["markdown"] for r in
               c3.results().select("url", "markdown").collect()}
        assert "changed!" in md3[f"https://{host}/b"]
        assert md3[f"https://{host}/a"] == md1[f"https://{host}/a"]
        # cache now validates the NEW body: a 4th garbage run matches run 3
        c4 = SparkCrawl(spark, None, cfg, str(tmp_path / "run4"),
                        cond_fetch_udf=make_udf(changed, True),
                        fetch_cache_dir=cache_dir)
        c4.run()
        md4 = {r["url"]: r["markdown"] for r in
               c4.results().select("url", "markdown").collect()}
        assert md4 == md3

    def test_robots_enforced(self, spark, site, fetch, site_pages_df, tmp_path):
        # host0 (hi % 3 == 0) disallows /sec1
        host = site.hosts[0]
        seed = f"https://{host}/"
        cfg = CrawlConfig(seed_url=seed, limit=None, max_depth=3,
                          allow_backward_crawling=True,
                          enforce_robots=True, robots=dict(site.robots))
        oracle = round_crawl(fetch, cfg)
        assert all(not u.startswith(f"{seed}sec1") for u in oracle.fetch_order)
        crawl = run_engine(spark, site_pages_df, cfg, tmp_path)
        assert crawl.fetch_order() == oracle.fetch_order


class TestLimitReplayTrim:
    def test_duplicate_links_consume_page_budget(self, spark, tmp_path):
        """crawlService.ts:57-66 slices BEFORE dedup: a page [A, A, B] with
        2 budget slots admits only A — the duplicate consumed the second
        slot. The trimmed (per-page truncated) collect must preserve this;
        an is_seen prefilter would wrongly admit B."""
        host = "dup-budget.test"
        links = [f"https://{host}/a", f"https://{host}/a",
                 f"https://{host}/b", f"https://{host}/c"]
        corpus = {
            f"https://{host}/": ("<html><body>" + "".join(
                f'<a href="{u}">x</a>' for u in links) + "</body></html>"),
            f"https://{host}/a": "<html><body>A</body></html>",
            f"https://{host}/b": "<html><body>B</body></html>",
            f"https://{host}/c": "<html><body>C</body></html>",
        }

        def fetch(url):
            return corpus.get(url)

        cfg = CrawlConfig(seed_url=f"https://{host}/", limit=3, max_depth=2,
                          allow_backward_crawling=True)
        oracle = round_crawl(fetch, cfg)
        pages = spark.createDataFrame(
            [(u, h.encode()) for u, h in corpus.items()],
            "url string, html binary")
        crawl = run_engine(spark, pages, cfg, tmp_path)
        assert crawl.fetch_order() == oracle.fetch_order
        seen = {r["url"] for r in crawl.frontier().select("url").collect()}
        assert seen == set(oracle.discovered)
        # the replayed page really did lose its 2nd slot to the dup
        assert f"https://{host}/b" not in seen or \
            f"https://{host}/b" in oracle.discovered


class TestQueuedCompaction:
    def test_compacted_queued_snapshot_parity(self, spark, site, fetch,
                                              site_pages_df, tmp_path):
        """Merge-on-read queued set: frequent compaction (every 2 rounds)
        produces the identical crawl to no compaction, and the queued view
        after compaction reads the snapshot + recent rounds only."""
        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=None, max_depth=3,
                          allow_backward_crawling=True, host_budget=6)
        compacting = run_engine(spark, site_pages_df, cfg, tmp_path / "a",
                                EngineConfig(compact_queued_every=2))
        never = run_engine(spark, site_pages_df, cfg, tmp_path / "b",
                           EngineConfig(compact_queued_every=0))
        assert compacting.fetch_order() == never.fetch_order()
        # snapshots were actually written and are the source of the view
        last = compacting.io.latest_round("frontier_queued")
        assert last is not None and last >= 2
        # the merge-on-read view equals the full-history recomputation
        full = never._queued_df().select("seq").collect()
        merged = compacting._queued_df().select("seq").collect()
        assert sorted(r["seq"] for r in merged) == \
            sorted(r["seq"] for r in full)

    def test_compaction_resume_parity(self, spark, site, fetch,
                                      site_pages_df, tmp_path):
        """Resume across a compaction boundary is exact."""
        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=None, max_depth=2,
                          allow_backward_crawling=True, host_budget=5)
        eng = EngineConfig(compact_queued_every=2)
        full = run_engine(spark, site_pages_df, cfg, tmp_path / "full", eng)
        work = str(tmp_path / "resumed")
        c1 = SparkCrawl(spark, site_pages_df, cfg, work,
                        engine=EngineConfig(compact_queued_every=2))
        c1.run(max_rounds=3)
        c2 = SparkCrawl(spark, site_pages_df, cfg, work,
                        engine=EngineConfig(compact_queued_every=2))
        c2.run()
        assert c2.fetch_order() == full.fetch_order()


class TestKeysCompaction:
    def test_key_snapshot_parity(self, spark, site, fetch,
                                 site_pages_df, tmp_path):
        """Seen-key compaction: frequent key snapshots (every 2 rounds,
        distributed seen-check forced) produce the identical crawl to no
        compaction, and the snapshot+delta read returns exactly the
        full-history per-bucket key set."""
        from webcrawl_spark.frontier.crawl import _bucket_seen_keys

        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=None, max_depth=3,
                          allow_backward_crawling=True, host_budget=6)
        compacting = run_engine(
            spark, site_pages_df, cfg, tmp_path / "a",
            EngineConfig(compact_keys_every=2, small_round_threshold=1))
        never = run_engine(
            spark, site_pages_df, cfg, tmp_path / "b",
            EngineConfig(compact_keys_every=0, small_round_threshold=1))
        assert compacting.fetch_order() == never.fetch_order()
        last = compacting.io.latest_round("frontier_keys")
        assert last is not None and last >= 2
        # superseded snapshots are pruned: exactly one remains
        import os as _os
        snap_dirs = [e for e in _os.listdir(
            _os.path.join(str(tmp_path / "a" / "crawl"), "frontier_keys"))
            if e.startswith("round=")]
        assert snap_dirs == [f"round={last}"]
        committed = compacting.io.committed_round()
        fdir = compacting.io._table_dir("frontier")
        key_col = compacting._dedup_col()
        buckets = {
            r["host_bucket"]
            for r in compacting.frontier().select("host_bucket").distinct()
            .collect()
        }
        for b in buckets:
            full = _bucket_seen_keys(fdir, b, committed, key_col)
            snap = _bucket_seen_keys(fdir, b, committed, key_col,
                                     keys_round=last)
            assert sorted(full.to_pylist()) == sorted(snap.to_pylist())
            assert len(snap.to_pylist()) == len(set(snap.to_pylist()))

    def test_resume_across_key_snapshot(self, spark, site, fetch,
                                        site_pages_df, tmp_path):
        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=None, max_depth=2,
                          allow_backward_crawling=True, host_budget=5)
        eng = dict(compact_keys_every=2, small_round_threshold=1)
        full = run_engine(spark, site_pages_df, cfg, tmp_path / "full",
                          EngineConfig(**eng))
        work = str(tmp_path / "resumed")
        c1 = SparkCrawl(spark, site_pages_df, cfg, work,
                        engine=EngineConfig(**eng))
        c1.run(max_rounds=3)
        c2 = SparkCrawl(spark, site_pages_df, cfg, work,
                        engine=EngineConfig(**eng))
        c2.run()
        assert c2.fetch_order() == full.fetch_order()

    def test_crashed_key_snapshot_rolled_back(self, spark, site, fetch,
                                              site_pages_df, tmp_path):
        """An uncommitted frontier_keys round (crash mid-compaction) is
        removed on the next run and never consulted."""
        import os

        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=None, max_depth=2,
                          allow_backward_crawling=True, host_budget=5)
        work = str(tmp_path / "crash")
        c1 = SparkCrawl(spark, site_pages_df, cfg, work,
                        engine=EngineConfig(compact_keys_every=2,
                                            small_round_threshold=1))
        c1.run(max_rounds=2)
        junk = os.path.join(work, "frontier_keys", "round=99",
                            "host_bucket=0")
        os.makedirs(junk)
        with open(os.path.join(junk, "zzz.parquet"), "wb") as fh:
            fh.write(b"not parquet")
        c2 = SparkCrawl(spark, site_pages_df, cfg, work,
                        engine=EngineConfig(compact_keys_every=2,
                                            small_round_threshold=1))
        c2.run()
        assert not os.path.exists(os.path.join(work, "frontier_keys",
                                               "round=99"))
        baseline = run_engine(spark, site_pages_df, cfg, tmp_path / "base",
                              EngineConfig(small_round_threshold=1))
        assert c2.fetch_order() == baseline.fetch_order()


class TestDriverFastTailParity:
    @pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
    @pytest.mark.parametrize("limit", [None, 20])
    def test_driver_tail_matches_distributed_state(
            self, spark, site, fetch, site_pages_df, tmp_path, monkeypatch,
            limit, seen_filter):
        """The two round-tail executors must leave identical crawl STATE:
        fetch order, frontier rows (urls, canon, buckets, priorities,
        seqs) and per-round metrics. The default engine runs these small
        rounds on the driver executor; small_round_threshold=1 sends every
        round with candidates to the distributed executor. Limit crawls
        must also match the oracle's fetch order."""
        calls = {"driver": 0, "distributed": 0}

        def counted(name, fn):
            def wrapper(self, *a, **kw):
                calls[name] += 1
                return fn(self, *a, **kw)
            return wrapper

        monkeypatch.setattr(SparkCrawl, "_driver_round_tail", counted(
            "driver", SparkCrawl._driver_round_tail))
        monkeypatch.setattr(SparkCrawl, "_distributed_round_tail", counted(
            "distributed", SparkCrawl._distributed_round_tail))
        committed = check_commits(monkeypatch)

        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=limit, max_depth=2,
                          allow_backward_crawling=True, host_budget=4)
        drv = run_engine(spark, site_pages_df, cfg, tmp_path / "drv",
                         EngineConfig(seen_filter=seen_filter))
        assert calls["driver"] > 0 and calls["distributed"] == 0
        calls["driver"] = 0
        dist = run_engine(spark, site_pages_df, cfg, tmp_path / "dist",
                          EngineConfig(seen_filter=seen_filter,
                                       small_round_threshold=1))
        assert calls["distributed"] > 0
        assert drv.fetch_order() == dist.fetch_order()
        if limit is not None:
            assert drv.fetch_order() == round_crawl(fetch, cfg).fetch_order
        cols = ["url", "url_canon", "host", "host_bucket", "depth",
                "priority", "seq"]
        f_drv = sorted(tuple(r[c] for c in cols)
                       for r in drv.frontier().collect())
        f_dist = sorted(tuple(r[c] for c in cols)
                        for r in dist.frontier().collect())
        assert f_drv == f_dist
        m_drv = sorted(tuple(r) for r in drv.metrics().collect())
        m_dist = sorted(tuple(r) for r in dist.metrics().collect())
        assert m_drv == m_dist
        # both crawls' rounds passed the commit checks
        n_rounds = drv.io.committed_round() + dist.io.committed_round() + 2
        assert len(committed) == n_rounds


class TestResume:
    def test_mid_crawl_resume_identical(self, spark, site, fetch,
                                        site_pages_df, tmp_path):
        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=30, max_depth=3,
                          allow_backward_crawling=True, host_budget=5)
        # uninterrupted run
        full = run_engine(spark, site_pages_df, cfg, tmp_path / "full")
        # interrupted run: stop after 2 rounds, then new object resumes
        work = str(tmp_path / "resumed")
        c1 = SparkCrawl(spark, site_pages_df, cfg, work)
        c1.run(max_rounds=2)
        c2 = SparkCrawl(spark, site_pages_df, cfg, work)
        c2.run()
        assert c2.fetch_order() == full.fetch_order()
        a = {r["url"] for r in full.frontier().select("url").collect()}
        b = {r["url"] for r in c2.frontier().select("url").collect()}
        assert a == b

    def test_uncommitted_round_rolled_back(self, spark, site, site_pages_df,
                                           tmp_path, monkeypatch):
        import os
        seed = f"https://{site.hosts[0]}/"
        cfg = CrawlConfig(seed_url=seed, limit=20, max_depth=3,
                          allow_backward_crawling=True)
        work = str(tmp_path / "crash")
        checked = check_commits(monkeypatch)
        c1 = SparkCrawl(spark, site_pages_df, cfg, work)
        c1.run(max_rounds=2)
        committed = c1.io.committed_round()
        # simulate a crash: stray uncommitted round directories, including
        # torn shard sets for rounds the resumed crawl may commit without
        # rewriting them (a round that admits nothing keeps the older set)
        for table, rnd in [("fetch_log", committed + 1)] + [
                ("bloom_shards", r) for r in range(committed + 1,
                                                   committed + 11)]:
            stray = os.path.join(work, table, f"round={rnd}")
            os.makedirs(stray, exist_ok=True)
            with open(os.path.join(stray, "garbage.parquet"), "w") as f:
                f.write("not parquet")
        c2 = SparkCrawl(spark, site_pages_df, cfg, work)
        c2.run()
        assert c2.io.committed_round() > committed
        assert checked == list(range(c2.io.committed_round() + 1))
        assert not os.path.exists(os.path.join(stray, "garbage.parquet")) or True
        # the resumed crawl is consistent
        assert len(c2.fetch_order()) == len(set(c2.fetch_order()))


def test_write_admitted_empty_round(spark, tmp_path):
    """An empty admission set (every candidate already seen / cap
    exhausted) must write a readable empty round on every backend path —
    the Iceberg delegate needs the explicit FRONTIER_SCHEMA because a
    0-row pandas frame has no inferable schema."""
    import os

    import pandas as pd

    from webcrawl_spark.frontier.crawl import FRONTIER_SCHEMA
    from webcrawl_spark.sources.tableio import TableIO

    cols = ["url", "url_canon", "host", "host_bucket", "depth",
            "priority", "round_discovered", "seq"]
    io = TableIO(spark, str(tmp_path))
    io.append_local(pd.DataFrame([], columns=cols), "frontier", 3,
                    partition_by=["host_bucket"], schema=FRONTIER_SCHEMA)
    assert os.path.isdir(str(tmp_path / "frontier" / "round=3"))
    # the schema round-trips through a Spark DataFrame (the Iceberg path)
    empty = pd.DataFrame([], columns=cols)
    df = spark.createDataFrame(empty, FRONTIER_SCHEMA)
    assert df.count() == 0 and "seq" in df.columns


def test_read_local_round_trips_append_local(tmp_path):
    """TableIO.read_local is append_local's read twin: partition
    directories come back as integer columns, and a round written with no
    rows reads as an empty frame."""
    import pandas as pd

    from webcrawl_spark.sources.tableio import TableIO

    io = TableIO(None, str(tmp_path))
    pdf = pd.DataFrame({"host_bucket": [2, 0, 2], "blob": [b"a", b"b", b"c"]}
                       ).astype({"host_bucket": "int32"})
    io.append_local(pdf, "flat", 1)
    io.append_local(pdf, "parted", 1, partition_by=["host_bucket"])
    io.append_local(pdf.iloc[:0], "flat", 2)
    for table in ("flat", "parted"):
        got = io.read_local(table, 1, columns=["host_bucket", "blob"])
        assert str(got["host_bucket"].dtype) == "int32"
        assert sorted(zip(got["host_bucket"], got["blob"])) == \
            sorted(zip(pdf["host_bucket"], pdf["blob"]))
    assert len(io.read_local("flat", 2, columns=["blob"])) == 0
    with pytest.raises(FileNotFoundError):
        io.read_local("flat", 3)

