"""Host-rank: weighted PageRank over the host→host link graph.

north_star parity: the frontier's priority is ``depth + host-rank``. The
reference treats host-rank as an operator input (crawlService.ts priority
hints passed alongside the crawl config); this module COMPUTES it from
the corpus link graph so the priority queue can favor well-linked hosts
instead of relying on hand-maintained hints. The algorithm is the public
weighted PageRank (Brin & Page, WWW 1998) with uniform dangling-mass
redistribution — fixed iteration count, fully deterministic given the
edge list, which is what makes the SQL oracle possible.

Scale shape (10^10-URL corpus → ~10^7-10^8 hosts):
- ``host_link_edges`` explodes links once and aggregates to weighted
  host pairs — after the explode everything is hash-only host strings;
  page html never reaches the aggregation shuffle.
- ``host_pagerank`` aggregates + caches the edge table once (the one
  pass over the input lineage — with ``host_link_edges`` input, the HTML
  parse); each iteration is ONE shuffle keyed on dst over the (small)
  rank table joined against the cached edges. Every iteration is
  ``localCheckpoint``ed, so plan depth — and with it Catalyst analysis
  time — stays constant in n_iter, and the dangling mass is observed on
  that materialization as a driver scalar (no per-iteration collect).
  MEASURED: analysis cost is superlinear in depth; per-iteration
  truncation ran 10 iterations in 8.2 s vs 36.6 s at a cadence of 5 on
  a 100k-edge graph (scripts/graph_probe.py) — the checkpoint's
  ~n_hosts-row materialization is noise next to it.
- ``host_rank_levels`` quantizes rank into small integer levels without
  a global window: cut points come from one driver-side approxQuantile
  (O(n_levels) driver memory), assignment is a pure Column expression.
- ``as_host_rank`` materializes ONLY the top-N ranked hosts as the
  CrawlConfig.host_rank dict: priority hints matter for the head of the
  host distribution; the tail shares the default level, which keeps the
  literal host→level map bounded regardless of corpus size. For a
  fully-mapped priority at 10^7+ hosts, join the levels table instead
  (``attach_host_priority`` — broadcast; levels ≪ candidates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from ..functions import links_udf, url_host

__all__ = [
    "host_hits",
    "host_link_edges",
    "host_pagerank",
    "host_rank_levels",
    "as_host_rank",
    "attach_host_priority",
]


def _edge_cache_partitions(edges: DataFrame, n_e: int) -> int:
    """Partition count for the per-iteration edge caches, derived from the
    DATA (never from spark.sql.shuffle.partitions): every iteration
    re-scans these tables, so a tiny graph cached in 32-200 near-empty
    partitions pays (stages × partitions × iterations) task launches of
    pure overhead — measured 13.8 s vs 169.7 s for 10 HITS iterations on
    40k edges at 8 vs 200 partitions. ~250k edge rows per task keeps the
    CPU-bound iteration scans parallel (1M edges: PageRank 16.4 → 10.9 s
    at 32 cores vs one 2M-row partition), capped toward ~5M-row
    (~150 MB) partitions once the graph far exceeds the core count."""
    sc = edges.sparkSession.sparkContext
    cap = max(sc.defaultParallelism * 4, -(-n_e // 5_000_000))
    return max(1, min(-(-n_e // 250_000), cap))


def host_link_edges(pages: DataFrame, url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """(url, html) pages → weighted host→host edges (src, dst, weight).

    Links are pulled through the same oracle-tested extraction kernel the
    crawl uses (L1 extract_links via links_udf). Intra-host links are
    dropped — a self-endorsement carries no rank information and would
    otherwise dominate the mass of template-navigation-heavy sites.
    """
    links = pages.select(
        url_host(F.col(url_col)).alias("src"),
        F.explode(links_udf(F.col(html_col), F.col(url_col))).alias("link"),
    )
    return (
        links.select("src", url_host(F.col("link")).alias("dst"))
        .where((F.col("src") != F.col("dst"))
               & (F.col("src") != "") & (F.col("dst") != ""))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def _cached_edges(edges: DataFrame) -> tuple[DataFrame, int]:
    """(src, dst, w) with duplicate pairs' weights summed, persisted, and
    its row count: the ONE evaluation of the input lineage (with
    host_link_edges input, a full HTML parse). Every later read — the
    partition sizing, the edge caches, the host set — hits this cache."""
    e = (edges.groupBy("src", "dst").agg(F.sum("weight").alias("w"))
         .persist())
    return e, e.count()


def host_pagerank(edges: DataFrame, n_iter: int = 10,
                  damping: float = 0.85) -> DataFrame:
    """Weighted PageRank over (src, dst, weight) edges → (host, rank).

    rank_{t+1}(h) = (1-d)/N + d * (Σ_{e: e.dst=h} rank_t(e.src) *
    w(e)/out_w(e.src) + dangling_t/N), dangling_t = Σ rank_t over hosts
    with no out-edges. Fixed ``n_iter`` (no convergence test ⇒
    deterministic plan and oracle-replayable). Returns a lineage-free
    (localCheckpoint'd) DataFrame; the internal edge caches are released
    before returning.
    """
    edges, n_e = _cached_edges(edges)
    if n_e == 0:
        edges.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "host string, rank double")
    p_e = _edge_cache_partitions(edges, n_e)
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # partition the (big) edge table on the per-iteration join key ONCE:
    # every iteration's rank⋈edges join then reuses the cached layout and
    # only the (small) rank table moves — without this the edges were
    # re-shuffled on src every iteration (guide §2.4: operations keyed the
    # same way should share one exchange)
    e_norm = (edges.join(outw, "src")
              .select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
              .repartition(p_e, "src")
              .persist())
    # hosts carry a precomputed ``dang`` flag (no out-edges): the dangling
    # mass is then a filter+agg over the rank table instead of a per-
    # iteration distinct + anti-join re-derived from the edge table
    src_hosts = e_norm.select(F.col("src").alias("host")).distinct()
    hosts = (edges.select(F.col("src").alias("host"))
             .union(edges.select(F.col("dst").alias("host")))
             .distinct()
             .join(src_hosts.withColumn("_out", F.lit(True)), "host", "left")
             .select("host", F.col("_out").isNull().alias("dang"))
             .repartition(p_e, "host")
             .persist())
    n = hosts.count()
    ranks = hosts.withColumn("rank", F.lit(1.0 / n))
    # dangling mass as a DRIVER SCALAR carried between iterations, observed
    # for free on each iteration's checkpoint materialization — a broadcast
    # scalar subquery instead would run as a SEPARATE pass over the rank
    # table every iteration (no exchange reuse into scalar subqueries; the
    # same effect doubles HITS's half-steps, see host_hits)
    dm = float(ranks.filter(F.col("dang"))
               .agg(F.coalesce(F.sum("rank"), F.lit(0.0))).first()[0])
    for i in range(n_iter):
        contrib = (ranks.join(e_norm, ranks["host"] == e_norm["src"])
                   .groupBy(F.col("dst").alias("host"))
                   .agg(F.sum(F.col("rank") * F.col("p")).alias("m")))
        ranks = (hosts.join(contrib, "host", "left")
                 .select("host", "dang",
                         (F.lit((1.0 - damping) / n)
                          + F.lit(damping)
                          * (F.coalesce(F.col("m"), F.lit(0.0))
                             + F.lit(dm) / n)).alias("rank")))
        if i + 1 < n_iter:
            obs = Observation(f"pr_dang_{i}")
            ranks = ranks.observe(
                obs,
                F.coalesce(F.sum(F.when(F.col("dang"), F.col("rank"))),
                           F.lit(0.0)).alias("dm"),
            ).localCheckpoint(eager=True)
            dm = float(obs.get["dm"])
    ranks = ranks.select("host", "rank").localCheckpoint(eager=True)
    for df in (edges, e_norm, hosts):
        df.unpersist()
    return ranks


def host_hits(edges: DataFrame, n_iter: int = 10) -> DataFrame:
    """Weighted HITS over (src, dst, weight) edges → (host, hub, authority).

    Kleinberg's algorithm (JACM 1999), fixed ``n_iter`` mutual-
    reinforcement iterations from the all-ones vector with L2
    normalization each half-step:
    auth_{t}(v) = Σ_{u→v} w(u,v)·hub_{t-1}(u), then auth /= ‖auth‖₂;
    hub_{t}(u) = Σ_{u→v} w(u,v)·auth_{t}(v),  then hub  /= ‖hub‖₂.
    Deterministic given the edge list (no convergence test), so the SQL
    oracle can unroll it. Complements PageRank in the priority mix: hubs
    are the link-list pages a crawler mines for discovery; authorities
    are what it wants ranked fetch-first.

    Scale shape mirrors host_pagerank: the edge table is aggregated and
    cached once; each half-step is one shuffle keyed on the gathering
    side; every iteration is localCheckpoint'ed with its L2 norms
    observed as driver scalars."""
    e, n_e = _cached_edges(edges)
    if n_e == 0:
        e.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "host string, hub double, authority double")
    p_e = _edge_cache_partitions(e, n_e)
    # two cached copies, each partitioned on its half-step's join key, so
    # the per-iteration joins move only the (small) score tables — the
    # edge table is shuffled exactly twice for the whole run instead of
    # twice per iteration (guide §2.4)
    e_src = e.repartition(p_e, "src").persist()
    e_dst = e.repartition(p_e, "dst").persist()
    hosts = (e.select(F.col("src").alias("host"))
             .union(e.select(F.col("dst").alias("host")))
             .distinct().repartition(p_e, "host").persist())
    scores = hosts.select("host", F.lit(1.0).alias("hub"),
                          F.lit(1.0).alias("authority"))
    # Store the RAW half-step vectors and carry their L2 norms as driver
    # scalars observed on each iteration's checkpoint materialization. The
    # L2 normalization is a scalar divide, so any positive multiple of the
    # true vector normalizes to the same result — consumers divide by the
    # stored vector's own observed norm and the scalar cancels exactly (fp
    # rounding ~1e-15/step, six orders below the oracle's 1e-9 grid). No
    # per-iteration norm scalar subquery, each of which Spark would execute
    # as a SEPARATE full re-run of the half-step join+agg (scalar
    # subqueries reuse no exchanges).
    hn = 1.0  # the original recurrence feeds the UNnormalized ones
    an = 1.0
    for i in range(n_iter):
        auth = (scores.join(e_src, scores["host"] == e_src["src"])
                .groupBy(F.col("dst").alias("host"))
                .agg(F.sum((F.col("hub") / F.lit(hn)) * F.col("w"))
                     .alias("a_raw")))
        hub = (auth.join(e_dst, auth["host"] == e_dst["dst"])
               .groupBy(F.col("src").alias("host"))
               .agg(F.sum(F.col("a_raw") * F.col("w")).alias("h_raw")))
        scores = (hosts.join(hub, "host", "left")
                  .join(auth, "host", "left")
                  .select("host",
                          F.coalesce(F.col("h_raw"), F.lit(0.0))
                          .alias("hub"),
                          F.coalesce(F.col("a_raw"), F.lit(0.0))
                          .alias("authority")))
        obs = Observation(f"hits_norms_{i}")
        scores = scores.observe(
            obs,
            F.sqrt(F.sum(F.col("hub") * F.col("hub"))).alias("hn"),
            F.sqrt(F.sum(F.col("authority") * F.col("authority")))
            .alias("an"),
        ).localCheckpoint(eager=True)
        m = obs.get
        hn, an = float(m["hn"]), float(m["an"])
    scores = scores.select(
        "host", (F.col("hub") / F.lit(hn)).alias("hub"),
        (F.col("authority") / F.lit(an)).alias("authority"),
    ).localCheckpoint(eager=True)
    for df in (e, e_src, e_dst, hosts):
        df.unpersist()
    return scores


def host_rank_levels(ranks: DataFrame, n_levels: int = 8) -> DataFrame:
    """(host, rank) → (host, level): quantile levels, 0 = best-ranked.

    No global window (an ntile over all hosts would funnel every row
    through one task): cut points come from a single driver-side
    approxQuantile (exact at relativeError=0 on the small rank table;
    O(n_levels) driver memory), assignment is a pure Column when-chain.
    """
    qs = [i / n_levels for i in range(1, n_levels)]
    cuts = ranks.approxQuantile("rank", qs, 0.0)
    # level counts DOWN as rank climbs past each quantile cut
    level: Column = F.lit(n_levels - 1)
    for j, c in enumerate(cuts):
        level = F.when(F.col("rank") > F.lit(c),
                       F.lit(n_levels - 2 - j)).otherwise(level)
    return ranks.select("host", level.cast("int").alias("level"))


def as_host_rank(levels: DataFrame, top_n: int = 10_000) -> dict[str, int]:
    """Levels table → CrawlConfig.host_rank dict, HEAD ONLY: the top_n
    best-levelled hosts (deterministic host tie-break). Everything else
    falls back to the config default (level 0 shift is irrelevant —
    priority is ordinal). Bounded driver materialization by contract."""
    rows = (levels.orderBy("level", "host").limit(top_n).collect())
    return {r["host"]: int(r["level"]) for r in rows}


def attach_host_priority(df: DataFrame, levels: DataFrame,
                         depth_col: str = "depth",
                         host_col: str = "host") -> DataFrame:
    """The at-scale alternative to the literal host→level map: broadcast
    the (small) levels table onto a candidate frame and emit
    priority = depth + level (missing hosts → level 0)."""
    lv = levels.select(F.col("host").alias(host_col),
                       F.col("level").alias("_hr_level"))
    return (df.join(F.broadcast(lv), host_col, "left")
            .withColumn("priority",
                        (F.col(depth_col)
                         + F.coalesce(F.col("_hr_level"), F.lit(0)))
                        .cast("int"))
            .drop("_hr_level"))
