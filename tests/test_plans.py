"""Plan-hygiene gates: the physical plans the engine promises (SURVEY.md §4
optimizer notes) — broadcast joins for dim tables, TakeOrderedAndProject for
top-ks, parquet filter pushdown, and JVM-only expression paths for the
native queries — asserted against `.explain` output so regressions that
silently de-optimize a plan fail CI."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_brand_revenue_broadcasts_dim(spark):
    plan = _plan(entrymod.q_brand_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_topk_take_ordered(spark):
    plan = _plan(entrymod.q_cosine_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_segment_top_orders_take_ordered(spark):
    plan = _plan(entrymod.q_segment_top_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_round_metrics_pushdown_and_no_python(spark):
    """TPC-H Q1 shape: the shipdate predicate must reach the parquet scan,
    and nothing in the plan may leave the JVM."""
    plan = _plan(entrymod.q_round_metrics(spark, SF_DIR))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters", 1)[1][:200]
    assert "EvalPython" not in plan  # no Batch/ArrowEvalPython stages


def test_native_text_queries_stay_jvm_side(spark):
    """token/quality/lang queries are pure Column expressions — whole-stage
    codegen, no Python workers."""
    for q in ("q_token_stats", "q_quality_filter", "q_lang_id"):
        df = entrymod.queries()[q](spark, SF_DIR)
        plan = _plan(df)
        assert "EvalPython" not in plan, q  # no Batch/ArrowEvalPython
        # force execution so AQE finalizes, then check codegen spans exist
        df.count()
        final = _plan(df)
        assert "EvalPython" not in final, q


def test_scan_prunes_columns(spark):
    """Reading 2 columns of lineitem must not scan all 16 (ReadSchema)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    plan = _plan(li.groupBy("l_returnflag").agg(F.sum("l_quantity")))
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_bloom_cogroup_runs_num_buckets_tasks(spark):
    """The bloom probe/shard-write cogroups must run num_buckets tasks, not
    spark.sql.shuffle.partitions — empty pandas groups plus python-worker
    spin-up grew with core count (r2 negative-scaling finding). The
    repartition(num_buckets, key) on both children must satisfy the
    cogroup's required distribution (exactly one Exchange per child)."""
    import tempfile

    from pyspark.sql import functions as F

    from webcrawl_spark.frontier.crawl import EngineConfig, SparkCrawl
    from webcrawl_spark.frontier.oracle import CrawlConfig

    n_buckets = 4
    crawl = SparkCrawl(
        spark, spark.createDataFrame([("https://h/", b"")],
                                     "url string, html binary"),
        CrawlConfig(seed_url="https://h/"), tempfile.mkdtemp(prefix="plan_"),
        engine=EngineConfig(num_buckets=n_buckets),
    )
    cand = spark.range(100).select(
        F.lit(0).alias("source_priority"), F.col("id").alias("source_seq"),
        F.lit(0).alias("link_pos"),
        F.concat(F.lit("https://h/"), F.col("id")).alias("link"),
        F.concat(F.lit("https://h/"), F.col("id")).alias("url_canon"),
        F.concat(F.lit("https://h/"), F.col("id")).alias("dedup_key"),
        F.xxhash64(F.col("id").cast("string")).alias("dedup_hash"),
        F.pmod(F.col("id"), F.lit(n_buckets)).cast("int").alias("cand_bucket"),
    )
    shards = spark.createDataFrame([], "host_bucket int, blob binary")
    # big round: task count = num_buckets (full bucket spread)
    probed = crawl._bloom_probe(cand, shards, n_rows=100_000)
    assert probed.rdd.getNumPartitions() == n_buckets
    # each child exchanges once into num_buckets; no second exchange to the
    # default shuffle-partition count (AQE plan string repeats the tree in
    # its Initial Plan section — inspect the final plan only)
    final_plan = _plan(probed).split("== Initial Plan ==")[0]
    assert final_plan.count("Exchange hashpartitioning") == 2
    assert f", {n_buckets})" in final_plan.split(
        "Exchange hashpartitioning", 1)[1][:80]
    # tiny round: ONE task — no per-bucket python-worker spin-up storm
    tiny = crawl._bloom_probe(cand, shards, n_rows=100)
    assert tiny.rdd.getNumPartitions() == 1


def test_seen_check_never_scans_frontier(spark, tmp_path):
    """The r3 structural fix: with Bloom on, the exact seen-check happens
    INSIDE the bucket-local cogroup (per-bucket pyarrow key read), so the
    round's seen-check plan contains NO frontier scan, NO sort-merge join,
    and no exchange beyond the two bucket repartitions — the full frontier
    key column never enters a shuffle. Exactness is asserted under a
    deliberately FP-heavy Bloom config (50% FP target), where correctness
    can only come from the in-task exact check."""
    from pyspark.sql import functions as F

    from webcrawl_spark.datagen import build_site, render_page_html
    from webcrawl_spark.frontier.crawl import EngineConfig, SparkCrawl
    from webcrawl_spark.frontier.oracle import CrawlConfig

    site = build_site(seed=23, n_hosts=3, pages_per_host=20, n_hot_hosts=0)
    rows = [(u, render_page_html(site, u).encode()) for u in site.urls()]
    pages = spark.createDataFrame(rows, "url string, html binary")
    cfg = CrawlConfig(seed_url=f"https://{site.hosts[0]}/", limit=None,
                      max_depth=3, allow_backward_crawling=True,
                      allow_external_content_links=True)
    eng = EngineConfig(num_buckets=4, bloom_fp_rate=0.5,
                       bloom_keys_per_shard=16)
    crawl = SparkCrawl(spark, pages, cfg, str(tmp_path / "sl"), engine=eng)
    crawl.run(max_rounds=3)

    frontier_urls = [r["url"] for r in
                     crawl.frontier().select("url").collect()]
    seen_set = set(frontier_urls)
    probes = frontier_urls[:10] + [f"https://{site.hosts[0]}/nope{i}"
                                   for i in range(10)]
    cand = spark.createDataFrame(
        [(0, 0, i, u) for i, u in enumerate(probes)],
        "source_priority int, source_seq long, link_pos int, link string",
    ).select(
        "*",
        F.col("link").alias("url_canon"), F.col("link").alias("dedup_key"),
        F.xxhash64(F.col("link")).alias("dedup_hash"),
        F.pmod(F.xxhash64(F.regexp_extract("link", r"https://([^/]+)/", 1)),
               F.lit(eng.num_buckets)).cast("int").alias("cand_bucket"),
    )
    probed = crawl._bloom_probe(cand, crawl._shards_df(), n_rows=100_000)

    plan = _plan(probed).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan and "Join" not in plan
    assert "frontier" not in plan           # no frontier (or queued) scan
    assert plan.count("Exchange hashpartitioning") == 2

    got = {r["link"]: r["is_seen"] for r in probed.collect()}
    assert got == {u: (u in seen_set) for u in probes}


def test_crawl_fetch_join_broadcasts_selection(spark):
    """The pages corpus side of the synthetic fetch must never shuffle:
    the selection is broadcast, so the plan has a BroadcastHashJoin and no
    Exchange on top of the pages scan."""
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [(f"https://h/{i}", bytearray(b"<html></html>")) for i in range(50)],
        "url string, html binary")
    selected = spark.createDataFrame(
        [(f"https://h/{i}", i) for i in range(5)], "url string, seq long")
    p = pages.select(F.col("url").alias("page_url"), "html")
    joined = p.join(F.broadcast(selected), p["page_url"] == selected["url"],
                    "inner")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_frontier_write_file_count(spark, tmp_path):
    """Distributed admission must write O(num_buckets) files per round,
    not O(tasks × buckets): a partitioned write from task-scattered rows
    emits one file per (task, bucket-value) pair — the silent file
    explosion that made the round job slower at 32 cores than at 8."""
    import os

    from webcrawl_spark.datagen import build_site, render_page_html
    from webcrawl_spark.frontier.crawl import EngineConfig, SparkCrawl
    from webcrawl_spark.frontier.oracle import CrawlConfig

    site = build_site(seed=11, n_hosts=4, pages_per_host=25, n_hot_hosts=0)
    rows = [(u, render_page_html(site, u).encode()) for u in site.urls()]
    pages = spark.createDataFrame(rows, "url string, html binary")
    cfg = CrawlConfig(seed_url=f"https://{site.hosts[0]}/", limit=None,
                      max_depth=3, allow_backward_crawling=True,
                      allow_external_content_links=True)
    wd = str(tmp_path / "fcount")
    n_buckets = 8
    crawl = SparkCrawl(
        spark, pages, cfg, wd,
        engine=EngineConfig(num_buckets=n_buckets, small_round_threshold=1),
    )
    crawl.run(max_rounds=3)
    for rnd in range(1, 3):
        rdir = os.path.join(wd, "frontier", f"round={rnd}")
        if not os.path.isdir(rdir):
            continue
        n_files = sum(
            1 for _, _, files in os.walk(rdir)
            for f in files if f.endswith(".parquet")
        )
        assert n_files <= n_buckets, (rnd, n_files)
        sdir = os.path.join(wd, "fetched_seqs", f"round={rnd}")
        n_seq = sum(
            1 for _, _, files in os.walk(sdir)
            for f in files if f.endswith(".parquet")
        )
        assert n_seq == 1, (rnd, n_seq)


def test_chunking_no_shuffle_no_python(spark):
    """chunk_documents is per-row array ops + one generator explode —
    any Exchange or Python eval in its plan is a regression."""
    from webcrawl_spark.operators.corpus import chunk_documents

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(chunk_documents(docs, max_words=32, overlap=8))
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "Generate" in plan          # the single posexplode


def test_repetition_and_pii_stay_jvm_side(spark):
    """Repetition stats and PII redaction are pure Column expressions —
    no Python workers, no shuffle."""
    from webcrawl_spark.operators.textstats import (
        redact_pii, with_repetition_stats)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    for df in (with_repetition_stats(docs),
               docs.select(redact_pii(F.col("text")).alias("t"))):
        plan = _plan(df)
        assert "Python" not in plan
        assert "Exchange" not in plan


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark gram-hash set must broadcast; the corpus side must
    never sort-merge (a SMJ here means the corpus grams shuffled)."""
    from pyspark.sql import functions as F

    from webcrawl_spark.operators.corpus import contamination_flags

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    bench = docs.filter(F.col("doc_id") % 100 == 0) \
        .select(F.substring("text", 1, 200).alias("text"))
    plan = _plan(contamination_flags(docs, bench, n=8))
    assert "BroadcastHashJoin" in plan


def test_ivf_cell_partitioned_table_prunes(spark, tmp_path):
    """The IVF scale path: persist embeddings partitioned by cell, probe
    nprobe cells — the scan must show a cell partition filter (partition
    pruning, not a full-table scan + filter)."""
    import numpy as np

    from webcrawl_spark.operators.similarity import (
        ivf_assign, random_anchors)

    rng = np.random.RandomState(5)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = random_anchors(16, 8, seed=3)
    path = str(tmp_path / "emb_by_cell")
    ivf_assign(emb, anchors).write.partitionBy("cell").parquet(path)

    table = spark.read.parquet(path)
    from pyspark.sql import functions as F

    probed = table.filter(F.col("cell").isin([0, 3]))
    plan = _plan(probed)
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1)[1][:120]
    # and the probe truly reads only the probed cells
    cells = {r["cell"] for r in probed.select("cell").distinct().collect()}
    assert cells <= {0, 3}


def test_perplexity_lm_join_broadcasts(spark):
    """score_perplexity's token->logprob lookup must be a broadcast hash
    join by default (vocab << token stream); a sort-merge join here means
    the whole exploded token stream shuffled on the token string."""
    from webcrawl_spark.operators.lm import score_perplexity, train_unigram_lm

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(score_perplexity(docs, train_unigram_lm(docs)))
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_dsir_ratio_join_broadcasts(spark):
    """dsir_weights joins a <= n_buckets-row log-ratio table onto the
    gram stream — must broadcast, never shuffle the gram stream on
    bucket."""
    from pyspark.sql import functions as F

    from webcrawl_spark.operators.lm import dsir_weights

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(dsir_weights(docs, docs.filter(F.col("lang") == "en"),
                              n=2, n_buckets=256))
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_passage_removal_text_never_shuffles(spark):
    """remove_duplicate_passages: only (_id, _pos, _h) rows may enter an
    Exchange — the text column joins back by id via broadcast/SMJ on ids,
    but the window-discovery shuffles must not carry text."""
    from webcrawl_spark.operators.corpus import remove_duplicate_passages

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(remove_duplicate_passages(docs, n=8))
    # the span-coverage rebuild is ONE Arrow-vectorized stage (r6 — the
    # Catalyst exists-per-word scan was O(words × flagged) per doc); no
    # row-pickled Python may appear
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") <= 1
    # every Exchange's output attribute list must be hash/pos/id-only or
    # id-keyed; none may materialize the text column
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


# Spark jobs of rounds 1 and 2 of the crawl below (driver executor,
# parquet backend, unlimited crawl) as measured before the round tail
# became one pipeline: the ceiling for the driver tail's fixed cost.
_DRIVER_ROUND_JOBS = [13, 15]


def test_driver_round_job_count(spark, tmp_path):
    """Every small round runs on the driver executor, whose job count is
    pinned: an unlimited round and a limit round alike may launch no more
    Spark jobs than _DRIVER_ROUND_JOBS. A TableIO read that quietly
    becomes a Spark job fails this. Each round runs under its own job
    group, read back from the status tracker."""
    from webcrawl_spark.datagen import build_site, render_page_html
    from webcrawl_spark.frontier.crawl import SparkCrawl
    from webcrawl_spark.frontier.oracle import CrawlConfig

    sc = spark.sparkContext
    site = build_site(seed=7, n_hosts=3, pages_per_host=30, n_hot_hosts=1,
                      hot_factor=2)
    pages = spark.createDataFrame(
        [(u, render_page_html(site, u).encode()) for u in site.urls()],
        "url string, html binary")
    try:
        for limit in (None, 20):
            cfg = CrawlConfig(seed_url=f"https://{site.hosts[0]}/",
                              limit=limit, max_depth=2,
                              allow_backward_crawling=True, host_budget=4)
            work = str(tmp_path / f"jobs_{limit}")
            SparkCrawl(spark, pages, cfg, work).run(max_rounds=1)  # seed
            counts = []
            for rnd in (1, 2):
                group = f"plan_round_jobs_{limit}_{rnd}"
                sc.setJobGroup(group, group)
                SparkCrawl(spark, pages, cfg, work).run(max_rounds=1)
                counts.append(
                    len(sc.statusTracker().getJobIdsForGroup(group)))
            assert all(c <= cap for c, cap in
                       zip(counts, _DRIVER_ROUND_JOBS)), (limit, counts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
