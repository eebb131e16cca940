"""SparkCrawl — the crawl frontier + fetch scheduler as round-scheduled
DataFrame jobs (SURVEY.md §3.1 "Spark re-expression", BASELINE.json north
rule).

Each scheduling round is ONE DataFrame job chain:

  queued frontier rows
    → per-host top-k under the politeness budget  (Window.partitionBy(host))
    → global FIFO cap                              (ordered limit)
    → synthetic fetch + extraction + link lineage  (ONE pass: join pages,
      markdown + link extraction Arrow UDFs in the same stage, written to
      crawl_result — the fetch-lineage checkpoint table)
    → admission F1                                 (classify UDF)
    → seen-set dedup                               (per-bucket cogroup:
                                                    Bloom prefilter + exact
                                                    bucket-local key read —
                                                    the frontier never
                                                    enters a shuffle)
    → dense seq assignment                         (native: per-group offsets
                                                    + row_number — no RDD, no
                                                    per-row Python)
    → append frontier + per-round metrics, atomic round commit (TableIO)

State model (round 2): ALL cross-round state is file-backed in TableIO
tables — frontier, crawl_result (fetch lineage incl. discovered links),
host_budget, bloom_shards, round_metrics. Reads are lazy snapshot scans
bounded to committed rounds, so plan depth is constant, resume needs no
reconstruction, and nothing crawl-sized ever lives on the driver. The only
driver-resident values are three integers (processed, next_seq,
frontier_count) mirrored in the checkpoint metadata.

Queued-set computation (merge-on-read): the queued view is a compacted
``frontier_queued`` snapshot (written every ``compact_queued_every`` rounds;
≙ Iceberg MERGE + compaction) plus the frontier deltas since that snapshot,
LEFT ANTI the fetched seqs of only the rounds since the snapshot (≙ Iceberg
merge-on-read equality deletes applied at scan). Per-round read cost is
O(queued) + O(rounds since compaction) — it never rescans the full fetch
history, so the round job's fixed cost stays flat as the crawl ages.

Seen-key compaction: the exact seen-check's per-bucket key read ages the
same way (one frontier file per bucket per round), so every
``compact_keys_every`` rounds the dedup-key column is consolidated into a
``frontier_keys`` snapshot (one file per bucket; ≙ Iceberg
rewrite_data_files) and tasks read snapshot + post-snapshot deltas.

Round tail: ONE pipeline after extraction — classify (F1) → exact seen
check → first-occurrence admission (the reference's per-page ``limit``
budget on limit crawls) → frontier write → seen-filter shard update — run
by one of TWO executors, chosen on the round's candidate-link count alone:
- driver (candidates < small_round_threshold): one Spark job collects the
  round's links; the same kernels run in-process and append_local writes
  the frontier rows and shard blobs. Limit or not, either TableIO backend.
- distributed (the rest — the 10^10 path): pinned classify UDF → bucket-
  local cogroup probe → unlimited crawls admit with a first-occurrence
  window + native dense seqs; limit crawls (≤10k, types.ts:86) collect a
  per-page-trimmed candidate set into the driver's replay function.

Seen-filter (Bloom/cuckoo) shards, one blob per host_bucket:
- build/update: one update_blob kernel (frontier/cuckoo.py) — applied in a
  cogroup(previous blobs, new url-hashes) by host_bucket on distributed
  rounds, on the blobs read back with TableIO.read_local on driver rounds.
- probe: cogroup(candidates by cand_bucket, shard blobs by host_bucket) →
  vectorized numpy membership per bucket, then an EXACT bucket-local check:
  maybe-seen candidates are verified in the same task against the bucket's
  own frontier key files (column-pruned pyarrow read — ≙ an Iceberg
  storage-partitioned join). No round ever shuffles the frontier key
  column; buckets that probe all-new skip the read. Driver rounds read the
  same per-bucket key files.
- resume: read the latest committed bloom_shards round — no rebuild scan of
  the frontier.

Scale posture:
- frontier partitioned by host_bucket = xxhash64(host) % B so one host's
  URLs co-locate (politeness windows and shard probes shuffle within
  buckets); AQE skew handling backs up the explicit budget top-k.
- the `html` binary column never enters a shuffle (project early).
- above small_round_threshold candidate links (not fetches: 5k link-heavy
  pages can carry 10^6) only a limit crawl's trimmed candidates reach the
  driver.

Ordering contract (W1): fetch order equals the in-memory oracle
(frontier/oracle.py round_crawl; ≡ the reference BFS FIFO when budget is
None). Dedup key configurable: "url" = reference exact-string discovered
set; "url_canon" = north-rule canonicalized mode.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import (canonicalize_url, classify_links_udf, url_depth,
                         url_host)
from ..kernels.classify import link_classifier
from ..kernels.crawl import page_links
from ..kernels.scrape import markdown_for_page
from ..kernels import urlkit
from ..sources.iceberg_io import make_tableio
from ..sources.tableio import round_entries
from .cuckoo import shard_from_bytes, update_blob
from .oracle import CrawlConfig

__all__ = ["SparkCrawl", "EngineConfig"]

# rounds one run() executes when the caller gives no max_rounds
MAX_ROUNDS = 1000

# fetch_log is a projection of crawl_result (columnar reads prune the
# markdown/links columns away); bloom shards persist per round so resume
# never rescans the frontier.
TABLES = ["frontier", "crawl_result", "round_metrics", "host_budget",
          "bloom_shards", "frontier_queued", "frontier_keys",
          "fetched_seqs", "robots_cache"]

FRONTIER_SCHEMA = (
    "url string, url_canon string, host string, host_bucket int, "
    "depth int, priority int, round_discovered int, seq long"
)

# columns flowing through classification → bloom probe → admission
_CAND_SCHEMA = (
    "source_priority int, source_seq long, link_pos int, link string, "
    "url_canon string, dedup_key string, dedup_hash long, cand_bucket int"
)


class EngineConfig:
    """Engine-level knobs layered over the semantic CrawlConfig."""

    def __init__(
        self,
        num_buckets: int = 32,
        dedup_key: str = "url",           # "url" (reference parity) | "url_canon"
        seen_filter: str = "bloom",       # "bloom" | "cuckoo" (north rule
        #                                   names both; same shard contract)
        bloom_keys_per_shard: int = 100_000,
        bloom_fp_rate: float = 0.01,
        small_round_threshold: int = 5000,
        compact_queued_every: int = 8,
        compact_keys_every: int = 16,
        live_robots: bool = False,
    ) -> None:
        self.num_buckets = num_buckets
        self.dedup_key = dedup_key
        if seen_filter not in ("bloom", "cuckoo"):
            raise ValueError("seen_filter must be 'bloom' or 'cuckoo'")
        self.seen_filter = seen_filter
        self.bloom_keys_per_shard = bloom_keys_per_shard
        self.bloom_fp_rate = bloom_fp_rate
        # rounds with fewer CANDIDATE LINKS than this run the round tail on
        # the driver executor (identical result, none of the distributed
        # stages' fixed cost); bigger rounds run the distributed executor.
        # Gated on the candidate count, not the fetch count — 5k link-heavy
        # pages can carry 10^6 candidates, which must never hit the driver.
        self.small_round_threshold = small_round_threshold
        # rewrite the compacted queued snapshot every K rounds (the Iceberg
        # MERGE/compaction cadence); between compactions the queued view is
        # snapshot + deltas − recent fetched seqs (merge-on-read)
        self.compact_queued_every = compact_queued_every
        # consolidate the frontier's per-bucket dedup-KEY column into a
        # frontier_keys snapshot every K rounds (parquet backend; ≙ Iceberg
        # rewrite_data_files): the bucket-local exact seen-check then reads
        # one consolidated file + the post-snapshot round deltas instead of
        # one file per round for the crawl's lifetime. 0 disables.
        self.compact_keys_every = compact_keys_every
        # live modes only: per-host robots.txt cache (the north rule's
        # "robots.txt cache"): each round fetches robots.txt ONCE for
        # selection hosts not yet cached (robots_cache table, committed
        # with the round), and selected URLs a host's robots disallow are
        # denied at the fetch layer with status 999 — never dialed.
        # Complements the classify-time robots gate (cfg.enforce_robots,
        # reference parity) for crawls whose robots aren't known up front.
        self.live_robots = live_robots


def _unsafe_host_udf():
    """(host) → bool, vectorized SSRF guard (kernels/classify.py
    is_unsafe_host — safeFetch.ts semantics)."""
    from ..kernels.classify import is_unsafe_host

    def batch(hosts: pd.Series) -> pd.Series:
        return hosts.map(lambda h: is_unsafe_host(h or ""))

    return pandas_udf(batch, T.BooleanType())


def _extract_udf(cfg: CrawlConfig):
    """Fused X2+L2 extraction: (html, url, expandable) →
    struct(markdown, links) in ONE Arrow stage. Markdown is produced for
    every fetched page; links only when ``expandable`` (depth/status
    guard). Fusing matters because the html column is the round's widest
    payload — two separate UDFs ship every page's bytes across the Arrow
    boundary twice."""
    opts = cfg.filter_options()

    def batch(htmls: pd.Series, urls: pd.Series,
              expandable: pd.Series) -> pd.DataFrame:
        from ..functions import _as_text
        mds, lnks = [], []
        for html, url, expand in zip(htmls, urls, expandable):
            text = _as_text(html)
            if text:
                try:
                    mds.append(markdown_for_page(text, url))
                except Exception:
                    mds.append("")
            else:
                mds.append("")
            if expand and text and text.strip().startswith("<"):
                try:
                    lnks.append(page_links(text, url, opts))
                except Exception:
                    lnks.append([])
            else:
                lnks.append([])
        return pd.DataFrame({"markdown": mds, "links": lnks})

    return pandas_udf(batch, T.StructType([
        T.StructField("markdown", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]))


# per-python-worker incremental cache for the bucket-local exact check:
# (frontier_dir, bucket, key_col) → (paths already read, arrow key array).
# The frontier only ever GROWS by appended round files, so a worker that
# sees the same bucket again reads just the delta — O(new keys), flat in
# frontier size. Guards: a cached path missing from the current listing
# (crash rollback rewrote/removed a round) invalidates the entry; total
# cached rows are capped per worker (at the cap, entries fall back to
# re-reading, oldest evicted first). Purely an executor-side optimization —
# correctness never depends on a cache hit, and hit rate depends on
# bucket→worker affinity (high in local mode / small pools, best-effort on
# a large cluster).
_SEEN_KEY_CACHE: "dict[tuple, tuple[set, object]]" = {}
_SEEN_CACHE_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_SEEN_CACHE_ROWS",
                                          "2000000"))

# Sentinel stored in robots_cache when the robots.txt fetch itself failed
# (vs a genuinely empty robots.txt, stored as ''). '\x00' cannot appear in
# a decoded UTF-8 robots body the kernel would parse meaningfully.
_ROBOTS_FETCH_FAILED = "\x00robots-fetch-failed"


def _bucket_seen_keys(frontier_dir: str, bucket: int, committed: int,
                      key_col: str, paths: list[str] | None = None,
                      keys_round: int | None = None):
    """One bucket's frontier dedup-key column as a pyarrow ChunkedArray,
    read executor-side (column-pruned, committed rounds only, new rounds
    incrementally on cache hits; values never materialize as Python
    objects). This is the per-bucket exact seen structure the Bloom cogroup
    consults — the frontier table is partitioned by host_bucket, so the
    listing + read touch exactly this bucket's files (≙ an Iceberg
    storage-partitioned scan). On a cluster the table dir is shared storage
    (S3/HDFS via pyarrow.fs); tasks read their bucket directly, nothing
    shuffles."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    if paths is None:
        # parquet backend: partition-pruned directory glob. The Iceberg
        # backend passes explicit committed file paths from the .files
        # metadata table instead (dirs can hold orphaned uncommitted files).
        # With a committed frontier_keys snapshot (keys_round), the read is
        # that snapshot's ONE consolidated per-bucket file plus only the
        # round deltas after it — O(bucket keys + rounds since compaction)
        # instead of one file per round for the crawl's whole lifetime.
        paths = []
        if keys_round is not None:
            paths.extend(_glob.glob(os.path.join(
                os.path.dirname(frontier_dir), "frontier_keys",
                f"round={keys_round}", f"host_bucket={bucket}",
                "*.parquet")))
        floor = keys_round if keys_round is not None else -1
        for _, rdir in round_entries(frontier_dir, floor, committed):
            paths.extend(_glob.glob(os.path.join(
                rdir, f"host_bucket={bucket}", "*.parquet")))
    if not paths:
        return pa.chunked_array([], type=pa.string())
    ck = (frontier_dir, bucket, key_col)
    cur = set(paths)
    cached = _SEEN_KEY_CACHE.get(ck)
    if cached is not None and cached[0] <= cur:
        done, arr = cached
        new = [p for p in paths if p not in done]
        if new:
            delta = pq.read_table(new, columns=[key_col]).column(0)
            arr = pa.chunked_array(arr.chunks + delta.chunks,
                                   type=arr.type)
            # Re-enforce the cap on the incremental path too: a worker
            # with bucket affinity would otherwise grow its cached key
            # arrays with frontier size, past the bound the cap exists
            # for. Evict (don't keep) an over-cap entry — same policy
            # as the insert path below.
            if len(arr) > _SEEN_CACHE_MAX_ROWS:
                _SEEN_KEY_CACHE.pop(ck, None)
            else:
                _SEEN_KEY_CACHE[ck] = (cur, arr)
        return arr
    if cached is not None:          # rollback/rewrite: listing lost paths
        _SEEN_KEY_CACHE.pop(ck, None)
    arr = pq.read_table(paths, columns=[key_col]).column(0)
    total = len(arr) + sum(len(v[1]) for v in _SEEN_KEY_CACHE.values())
    while _SEEN_KEY_CACHE and total > _SEEN_CACHE_MAX_ROWS:
        oldest = next(iter(_SEEN_KEY_CACHE))
        total -= len(_SEEN_KEY_CACHE.pop(oldest)[1])
    if len(arr) <= _SEEN_CACHE_MAX_ROWS:
        _SEEN_KEY_CACHE[ck] = (cur, arr)
    return arr


def _assign_dense_seq(df: DataFrame, start: int) -> DataFrame:
    """Dense global sequence in (source_priority, source_seq, link_pos)
    order, fully native (no RDD, no per-row Python):

    1. per-group counts, group = (source_priority, source_seq) — one page's
       admitted links;
    2. running-sum offsets over the *groups* (a single-task window over one
       row per fetched page — bounded by the round's fetch count, tiny
       relative to the link rows);
    3. seq = start + group_offset + row_number within group by link_pos.

    Every admitted link row stays JVM-side; only group-level rows pass
    through the global window."""
    counts = df.groupBy("source_priority", "source_seq").agg(
        F.count(F.lit(1)).alias("_cnt"))
    w_groups = Window.orderBy("source_priority", "source_seq") \
                     .rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "source_priority", "source_seq",
        F.coalesce(F.sum("_cnt").over(w_groups), F.lit(0)).alias("_offset"),
    )
    w_in_group = Window.partitionBy("source_priority", "source_seq") \
                       .orderBy("link_pos")
    return (
        df.join(F.broadcast(offsets), ["source_priority", "source_seq"])
        .withColumn(
            "seq",
            (F.lit(start) + F.col("_offset")
             + F.row_number().over(w_in_group) - 1).cast("long"),
        )
        .drop("_offset")
    )


class SparkCrawl:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame | None,
        cfg: CrawlConfig,
        workdir: str,
        engine: EngineConfig | None = None,
        fetch_udf=None,
        cond_fetch_udf=None,
        fetch_cache_dir: str | None = None,
        host_rank_table: DataFrame | None = None,
    ) -> None:
        """Fetch modes:
        - ``pages`` DataFrame (url, html binary): corpus-replay fetch — the
          round inner-joins the broadcast selection against the corpus
          (recrawl-from-archive shape; at cluster scale use a bucketed
          pages table so only co-partitioned buckets scan).
        - ``fetch_udf`` (url) → binary|null: live fetch — one Arrow batch
          call per selected URL, embarrassingly parallel, no corpus scan
          (the reference's per-URL HTTP fetch; null = fetch error → 404).
        - ``cond_fetch_udf`` (url, etag, last_modified) → COND_FETCH_SCHEMA
          struct: conditional live fetch (If-None-Match/If-Modified-Since —
          J5's live twin). Pair with ``fetch_cache_dir`` (shareable across
          crawls): validated URLs are served from the cache on 304 and
          fresh responses with validators are recorded back.
        Live modes always apply the SSRF guard: loopback/private/link-local
        hosts are denied with status 403 and never dialed.
        """
        modes = [pages is not None, fetch_udf is not None,
                 cond_fetch_udf is not None]
        assert sum(modes) == 1, \
            "exactly one of pages / fetch_udf / cond_fetch_udf"
        self.spark = spark
        self.pages = pages
        self.fetch_udf = fetch_udf
        self.cond_fetch_udf = cond_fetch_udf
        if fetch_cache_dir is not None:
            from ..sources.fetchcache import FetchCache
            self.fetch_cache = FetchCache(spark, fetch_cache_dir)
        else:
            self.fetch_cache = None
        self.cfg = cfg
        # host-rank at scale: a (host, level) DataFrame instead of the
        # CrawlConfig.host_rank literal dict. The dict shape holds for the
        # head of the host distribution (bounded config, plan-side literal
        # map); a fully-mapped rank over 10^7-10^8 hosts cannot be a plan
        # literal — it stays a table and joins in (operators/hostrank.py
        # computes it; attach semantics identical: missing host → level 0).
        self._levels_df = None
        if host_rank_table is not None:
            assert not cfg.host_rank, \
                "host_rank dict and host_rank_table are mutually exclusive"
            self._levels_df = host_rank_table.select(
                F.col("host").cast("string").alias("host"),
                F.col("level").cast("int").alias("level"))
        self.engine = engine or EngineConfig()
        # backend-pluggable table layer: parquet stand-in by default,
        # real Iceberg catalog tables with SPARK_GRAFT_TABLE_BACKEND=iceberg
        # (sources/iceberg_io.py documents the 1:1 mapping + required confs)
        self.io = make_tableio(spark, workdir)
        # the only driver-resident state: three counters (mirrored in the
        # checkpoint metadata); everything else lives in TableIO tables
        self._processed = 0
        self._next_seq = 1
        self._frontier_count = 0
        self._done = False

    # --- public API ------------------------------------------------------
    def run(self, max_rounds: int | None = None) -> int:
        """Run/resume to completion; returns rounds executed this call."""
        self.io.rollback_uncommitted(TABLES)
        self._load_state()
        executed = 0
        budget_rounds = max_rounds if max_rounds is not None else MAX_ROUNDS
        if self.io.committed_round() < 0:
            self._seed_round()
            executed += 1
        while executed < budget_rounds and not self._done:
            if not self._run_round():
                break
            executed += 1
        return executed

    def fetch_log(self) -> DataFrame:
        """Projection of crawl_result (parquet column pruning skips the
        markdown/links payloads entirely)."""
        return self.io.read("crawl_result").select(
            "url", "url_canon", "host", "depth", "priority", "seq", "status",
            "round",
        )

    def frontier(self) -> DataFrame:
        return self.io.read("frontier")

    def results(self) -> DataFrame:
        return self.io.read("crawl_result")

    def metrics(self) -> DataFrame:
        """Per-round metrics + per-bucket lineage (driver-side JSON rows)."""
        records = self.io.read_json("round_metrics")
        rows = [
            (r["round"], r["fetched"], r["new_urls"], r["processed"],
             str(r.get("denials", {})), str(r.get("bucket_new_counts", {})))
            for r in records
        ]
        return self.spark.createDataFrame(
            rows, "round int, fetched long, new_urls long, processed long, "
                  "denials string, bucket_new_counts string",
        )

    def fetch_order(self) -> list[str]:
        """Materialized successful-fetch sequence (ordering-contract probe;
        matches oracle CrawlTrace.fetch_order, which excludes fetch errors)."""
        return [
            r["url"]
            for r in self.fetch_log().filter(F.col("status") == 200)
            .orderBy("round", "priority", "seq").select("url").collect()
        ]

    # --- state -----------------------------------------------------------
    def _pin(self, df: DataFrame) -> DataFrame:
        """Materialize + truncate lineage for a DF consumed by multiple
        downstream jobs within one round. Only two per round survive the
        round-2 restructure: the classified candidates and the probed set."""
        return df.localCheckpoint(eager=True)

    def _frontier_df(self) -> DataFrame:
        """Committed frontier snapshot (rounds ≤ committed — during round N
        that is exactly the state as-of round start)."""
        return self.io.read("frontier").drop("round")

    def _queued_df(self) -> DataFrame:
        """Queued rows = compacted snapshot + frontier deltas since it, ANTI
        the fetched seqs of only the rounds since it (merge-on-read). Reads
        O(queued) + O(rounds since compaction) — never the full fetch
        history. On Iceberg this is the table's merge-on-read scan itself."""
        compact = self.io.latest_round("frontier_queued")
        if compact is None:
            base = self._frontier_df()
            since = -1
        else:
            base = self.io.read_round("frontier_queued", compact)
            delta = self.io.read_rounds("frontier", compact)
            if delta is not None:
                base = base.unionByName(delta.drop("round"))
            since = compact
        # fetched seqs come from the single-file-per-round sidecar (≙ the
        # Iceberg equality-delete files this view emulates) — reading the
        # wide crawl_result table here would touch one file per extraction
        # task per round
        fetched = self.io.read_rounds("fetched_seqs", since)
        if fetched is None:
            return base
        fetched = fetched.select(F.col("seq").alias("fseq"))
        return base.join(fetched, base["seq"] == fetched["fseq"], "left_anti")

    def _maybe_compact_queued(self, queued: DataFrame, selected: DataFrame,
                              new_rows_file: DataFrame | None,
                              round_no: int) -> None:
        """Every compact_queued_every rounds, rewrite the queued snapshot as
        of end-of-round: (queued-at-round-start ANTI this round's fetched
        seqs) ∪ this round's admitted rows. Cost O(queued) every K rounds —
        the Iceberg MERGE + partition-compaction cadence. Written before the
        round commit, so rollback_uncommitted cleans a crashed compaction."""
        every = self.engine.compact_queued_every
        if every <= 0 or round_no == 0 or round_no % every != 0:
            return
        fetched_now = selected.select(F.col("seq").alias("fseq"))
        remaining = queued.join(fetched_now,
                                queued["seq"] == fetched_now["fseq"],
                                "left_anti")
        if new_rows_file is not None:
            remaining = remaining.unionByName(
                new_rows_file.select(*remaining.columns))
        # one execution: pin, then count + write read the pinned data. An
        # empty snapshot is skipped (a partitioned write of zero rows leaves
        # a schemaless dir) — correctness is unaffected, the merge-on-read
        # view is valid for any older snapshot. Repartitioned on the
        # write's partition key first (one file per bucket, not per
        # task × bucket).
        remaining = remaining.repartition(
            self.engine.num_buckets, "host_bucket",
        ).localCheckpoint(eager=True)
        if remaining.count() == 0:
            return
        self.io.append(remaining, "frontier_queued", round_no,
                       partition_by=["host_bucket"])

    def _maybe_compact_keys(self, round_no: int) -> None:
        """Every compact_keys_every rounds, consolidate the frontier's
        (host_bucket, dedup-key) column into one per-bucket file under
        ``frontier_keys/round=N`` — the read the bucket-local exact
        seen-check does ages as O(rounds) files per bucket without this
        (the Iceberg equivalent is rewrite_data_files, so the parquet
        backend owns it). Incremental: previous snapshot + round deltas
        after it; only the key column is ever read or written. Runs before
        the round commit, so a crashed compaction is rolled back with the
        round."""
        every = self.engine.compact_keys_every
        if every <= 0 or round_no == 0 or round_no % every != 0:
            return
        if self.io.kind != "parquet":
            return
        key_col = self._dedup_col()
        cols = ["host_bucket", key_col]
        prev = self.io.latest_round("frontier_keys")
        # upto_round=round_no: read_rounds otherwise stops at the COMMITTED
        # round (round_no-1 mid-round) and the snapshot would silently drop
        # this round's keys — which the seen-check then never reads again,
        # because it skips all per-round files <= the snapshot round
        delta = self.io.read_rounds("frontier",
                                    prev if prev is not None else -1,
                                    upto_round=round_no)
        keys = delta.select(*cols) if delta is not None else None
        if prev is not None:
            base = self.io.read_round("frontier_keys", prev).select(*cols)
            keys = base if keys is None else base.unionByName(keys)
        if keys is None:
            return
        keys = keys.repartition(
            self.engine.num_buckets, "host_bucket",
        ).localCheckpoint(eager=True)
        if keys.count() == 0:
            return
        self.io.append(keys, "frontier_keys", round_no,
                       partition_by=["host_bucket"])
        # prune superseded snapshots (≙ Iceberg expire_snapshots): the new
        # one contains every key they held (it was just materialized via
        # localCheckpoint, so nothing still reads them). Safe against a
        # crash before this round commits: rollback drops the new snapshot
        # too, and with NO snapshot the seen-check falls back to the
        # per-round files — slower, never wrong (frontier round files are
        # never deleted).
        import shutil as _shutil

        for _, rdir in self.io._rounds("frontier_keys",
                                       upto_round=round_no - 1):
            _shutil.rmtree(rdir, ignore_errors=True)

    def _load_state(self) -> None:
        committed = self.io.committed_round()
        if committed < 0:
            return
        meta = self.io.checkpoint_meta()
        self._processed = int(meta.get("processed", 0))
        self._next_seq = int(meta.get("next_seq", 1))
        self._done = bool(meta.get("done", False))
        self._frontier_count = int(meta.get("frontier_count",
                                            self._next_seq))

    def _dedup_col(self) -> str:
        return "url" if self.engine.dedup_key == "url" else "url_canon"

    def _commit(self, round_no: int, done: bool) -> None:
        self.io.commit_round(
            round_no, processed=self._processed, next_seq=self._next_seq,
            frontier_count=self._frontier_count, done=done,
        )

    def _seed_round(self) -> None:
        """Round 0: seed URL first, then sitemap-contributed URLs
        (tryGetSitemap semantics via sources/seeding.py — shared verbatim
        with the oracle, so seeding order matches by construction)."""
        cfg = self.cfg
        seeds: list[str] = [cfg.seed_url]
        if cfg.use_sitemap and cfg.sitemaps:
            from ..sources.seeding import sitemap_seed_list

            limit = cfg.limit if cfg.limit is not None else float("inf")
            seen = {cfg.seed_url}
            for url in sitemap_seed_list(cfg.sitemaps.get, cfg):
                if url not in seen and len(seeds) < limit:
                    seen.add(url)
                    seeds.append(url)
        pr = self._priority_of_batch(seeds)
        rows = [
            (
                url, urlkit.canonicalize_url(url), urlkit.url_host(url), 0,
                urlkit.get_url_depth(urlkit.url_path(url)),
                pr(url), 0, seq,
            )
            for seq, url in enumerate(seeds)
        ]
        self._write_admitted(rows, 0)
        # every committed round has a shard set from here on: round 0's
        # covers the seeds, later rounds replace it when they admit URLs
        self._write_shards(self.io.read_round("frontier", 0), None, 0,
                           n_rows=len(rows))
        self._frontier_count = len(rows)
        self._processed = 0
        self._next_seq = len(rows)
        self._commit(0, done=False)

    def _priority_col(self, depth_col, host_col):
        """north_star priority = depth + host-rank (0 in FIFO mode)."""
        cfg = self.cfg
        if not cfg.priority_mode:
            return F.lit(0)
        rank = F.lit(0)
        if cfg.host_rank:
            mapping = F.create_map(*[
                F.lit(x) for kv in cfg.host_rank.items()
                for x in (kv[0], int(kv[1]))
            ])
            rank = F.coalesce(mapping[host_col].cast("int"), F.lit(0))
        return (depth_col + rank).cast("int")

    def _with_priority(self, df: DataFrame) -> DataFrame:
        """Adds ``priority`` to a frame that already has (host, depth).

        Dict mode inlines the bounded literal map (_priority_col); table
        mode broadcast-joins the (host, level) levels table — the only
        shape that holds when the rank map covers 10^7+ hosts. Missing
        hosts coalesce to level 0, bit-identical to the dict semantics."""
        if self._levels_df is None:
            return df.withColumn(
                "priority",
                self._priority_col(F.col("depth"), F.col("host")))
        if not self.cfg.priority_mode:
            return df.withColumn("priority", F.lit(0).cast("int"))
        lv = self._levels_df.withColumnRenamed("level", "_hr_level")
        return (df.join(F.broadcast(lv), "host", "left")
                .withColumn("priority",
                            (F.col("depth")
                             + F.coalesce(F.col("_hr_level"), F.lit(0)))
                            .cast("int"))
                .drop("_hr_level"))

    def _priority_of_batch(self, urls) -> "Callable[[str], int]":
        """Driver-side twin of cfg.priority_of for the bounded replay
        paths (seeds, _replay_admission). In table mode the
        levels for just the batch's hosts are fetched via one semi-join
        collect — O(distinct hosts in batch) rows, never the whole
        table."""
        if self._levels_df is None or not self.cfg.priority_mode:
            return self.cfg.priority_of
        hosts = sorted({urlkit.url_host(u) for u in urls} - {""})
        lv: dict[str, int] = {}
        if hosts:
            hdf = self.spark.createDataFrame(
                [(h,) for h in hosts], "host string")
            lv = {r["host"]: int(r["level"])
                  for r in self._levels_df.join(
                      F.broadcast(hdf), "host").collect()}

        def pr(url: str) -> int:
            return (urlkit.get_url_depth(urlkit.url_path(url))
                    + lv.get(urlkit.url_host(url), 0))

        return pr

    def _allowance_upper_bound(self) -> int | None:
        """Largest possible per-host selection this round (None = unlimited
        for some host): bounds the local pre-top-k used for skew control."""
        cfg = self.cfg
        if cfg.host_budget is None and not cfg.host_budget_overrides:
            return None
        candidates = list(cfg.host_budget_overrides.values())
        if cfg.host_budget is not None:
            candidates.append(cfg.host_budget)
        elif cfg.host_budget_overrides:
            return None  # default is unlimited for non-override hosts
        bound = max(candidates)
        if cfg.budget_capacity is not None:
            bound = max(bound, cfg.budget_capacity)
        return int(bound)

    def _refill_col(self):
        """Per-host budget refill as a Column over ``host`` (overrides map →
        default; null = unlimited)."""
        cfg = self.cfg
        base = (F.lit(float(cfg.host_budget)) if cfg.host_budget is not None
                else F.lit(None).cast("double"))
        if cfg.host_budget_overrides:
            mapping = F.create_map(*[
                F.lit(x) for kv in cfg.host_budget_overrides.items()
                for x in (kv[0], float(kv[1]))
            ])
            return F.coalesce(mapping[F.col("host")].cast("double"), base)
        return base

    # --- bloom shards (file-backed, executor-side lifecycle) --------------
    def _shards_df(self) -> DataFrame:
        """Latest committed shard set (host_bucket, blob)."""
        return self.io.read_round("bloom_shards",
                                  self.io.latest_round("bloom_shards"))

    def _cogroup_parts(self, n_rows: int) -> int:
        """Cogroup task count for the Bloom stages: spread buckets across
        tasks on big rounds (up to num_buckets), but never more tasks than
        ~2k rows each — an explicit repartition(N) disables AQE coalescing,
        so tiny rounds would otherwise pay num_buckets python-worker
        spin-ups for near-empty pandas groups (measured: the 371-fetch
        bench crawl ran 1.4× slower at local[32] than local[8], while the
        20k/100k probes need the full bucket spread). Hash partitioning by
        the bucket key keeps each bucket's rows in one task at ANY count."""
        return max(1, min(self.engine.num_buckets, n_rows // 2000 + 1))

    def _extract_parts(self, n_rows: int) -> int | None:
        """Task count for the extraction stage on SMALL rounds, or None to
        keep the input's full parallelism. A tiny selection inner-joined
        against the corpus inherits the corpus' partition count, so a
        30-row round ran one python-worker round trip and wrote one
        near-empty parquet file per corpus partition — and every downstream
        read (classify, probe) inherited that file count. ~64 rows/task
        (markdown extraction is the expensive per-row work, so tasks stay
        small) capped at the scheduler's parallelism; big rounds return
        None and keep the corpus layout."""
        if n_rows >= self.engine.small_round_threshold:
            return None
        cap = self.spark.sparkContext.defaultParallelism
        return max(1, min(n_rows // 64 + 1, cap))

    def _write_shards(self, new_rows: DataFrame, shards: DataFrame | None,
                      round_no: int, n_rows: int) -> None:
        """bloom_shards[round] = merge(bloom_shards[previous], new url
        hashes), entirely executor-side: a cogroup by bucket where each task
        deserializes its bucket's blob, adds the bucket's new hashes, and
        re-serializes. The north rule's 'one filter shard per host-hash
        partition' with the treeAggregate merge replaced by the cheaper
        per-bucket incremental update (a global merge never materializes)."""
        eng = self.engine
        n_parts = self._cogroup_parts(n_rows)
        dedup = self._dedup_col()
        # pre-partition both cogroup inputs to a row-count-sized task count
        # (≤ num_buckets): the cogroup's required hash distribution is then
        # already satisfied, so applyInPandas runs n_parts tasks instead of
        # spark.sql.shuffle.partitions (default 200) — which at 32 buckets
        # meant ~170 empty pandas groups + python-worker spin-up per stage,
        # growing with core count (the r2 negative-scaling finding).
        hashes = new_rows.select(
            "host_bucket", F.xxhash64(F.col(dedup)).alias("dedup_hash"),
        ).repartition(n_parts, "host_bucket")
        if shards is None:
            shards = self.spark.createDataFrame(
                [], "host_bucket int, blob binary")
        shards = shards.repartition(n_parts, "host_bucket")

        def merge(key, old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
            blob = update_blob(bytes(old["blob"].iloc[0]) if len(old) else None,
                               new["dedup_hash"].to_numpy(), eng)
            return pd.DataFrame({"host_bucket": [int(key[0])],
                                 "blob": [blob]})

        updated = (
            shards.groupBy("host_bucket")
            .cogroup(hashes.groupBy("host_bucket"))
            .applyInPandas(merge, "host_bucket int, blob binary")
        )
        self.io.append(updated, "bloom_shards", round_no)

    def _seen_key_reader(self):
        """``read(bucket)`` → that bucket's committed frontier dedup keys
        (_bucket_seen_keys), as a closure over plain values only, so
        _bloom_probe's tasks and the driver executor read the same files.
        The latest committed key snapshot replaces the per-round files it
        covers (see _maybe_compact_keys); TableIO.bucket_files supplies the
        backend's committed per-bucket file list, or None to glob."""
        io = self.io
        committed = io.committed_round()
        key_col = self._dedup_col()
        cache_key, files = io.bucket_files("frontier", committed)
        keys_round = io.latest_round("frontier_keys", committed)

        def read(bucket: int):
            return _bucket_seen_keys(
                cache_key, bucket, committed, key_col,
                paths=None if files is None else files.get(bucket, []),
                keys_round=keys_round)

        return read

    def _bloom_probe(self, allowed: DataFrame, shards: DataFrame,
                     n_rows: int) -> DataFrame:
        """Candidates + exact ``is_seen``, via a bucket-local cogroup against
        the shard table — no driver collect, no global broadcast; each task
        sees one bucket's candidates and that bucket's blob.

        The EXACT check is bucket-local too (the r3 structural fix): a
        candidate marked maybe-seen by the Bloom shard is verified against
        the bucket's own frontier key column, read in-task from the
        frontier's ``host_bucket=B`` partition directories (column-pruned
        pyarrow read of committed rounds only). Nothing about the frontier
        enters a shuffle: per round the seen-check costs a parallel
        O(frontier/num_buckets)-per-task partition-pruned READ instead of
        the previous full-frontier key shuffle + sort-merge join (the one
        plan the r3 verdict would not ship at 100×). Buckets whose
        candidates all probe definitely-new skip the read entirely. Size
        num_buckets so a bucket's key column fits a task (10^10 keys →
        4096 buckets ≈ 2.4M keys/bucket); on Iceberg this read is the
        storage-partitioned-join scan."""
        import numpy as np

        seen_keys = self._seen_key_reader()

        def probe(key, cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
            if not len(cand):
                out = cand.copy()
                out["is_seen"] = pd.Series([], dtype=bool)
                return out
            out = cand.copy()
            if not len(shard):
                # no shard ⇒ the bucket has no committed frontier rows
                out["is_seen"] = False
                return out
            blob = shard_from_bytes(bytes(shard["blob"].iloc[0]))
            h = cand["dedup_hash"].to_numpy().astype(np.uint64)
            maybe = blob.contains(h)
            if not maybe.any():
                out["is_seen"] = False
                return out
            seen = seen_keys(int(key[0]))
            # arrow-native membership: the C++ kernel builds the hash set
            # from the key column directly — candidate keys and bucket keys
            # never materialize as Python objects
            import pyarrow as pa
            import pyarrow.compute as pc
            hits = pc.is_in(
                pa.Array.from_pandas(cand["dedup_key"]), value_set=seen,
            ).to_numpy(zero_copy_only=False)
            out["is_seen"] = maybe & hits
            return out

        n_parts = self._cogroup_parts(n_rows)
        return (
            allowed.repartition(n_parts, "cand_bucket")
            .groupBy("cand_bucket")
            .cogroup(shards.repartition(n_parts, "host_bucket")
                     .groupBy("host_bucket"))
            .applyInPandas(probe, _CAND_SCHEMA + ", is_seen boolean")
        )

    # --- live fetch (fetch_udf / cond_fetch_udf modes) --------------------
    def _live_fetch(self, selected: DataFrame) -> DataFrame:
        """Live-mode fetch with the SSRF guard: unsafe hosts are SPLIT OFF
        before the fetch stage (a `when` guard would still hand the full
        batch to the UDF — conditional branches are not lazily evaluated
        per-row), denied as status 403 without ever dialing. Safe rows go
        through the plain or conditional fetch. Returns html + status."""
        flagged = selected.withColumn(
            "_unsafe", _unsafe_host_udf()(F.col("host")))
        safe = flagged.filter(~F.col("_unsafe")).drop("_unsafe")
        denied = (
            flagged.filter(F.col("_unsafe")).drop("_unsafe")
            .withColumn("html", F.lit(None).cast("binary"))
            .withColumn("status", F.lit(403))
        )
        robots_denied = None
        if self.engine.live_robots:
            safe, robots_denied = self._apply_live_robots(safe)
        if self.cond_fetch_udf is not None:
            fetched = self._cond_fetch(safe)
        else:
            fetched = safe.withColumn(
                "html", self.fetch_udf(F.col("url")),
            ).withColumn(
                "status",
                F.when(F.col("html").isNotNull(), 200).otherwise(404),
            )
        for extra in (denied, robots_denied):
            if extra is not None:
                fetched = fetched.unionByName(extra.select(*fetched.columns))
        return fetched

    def _fetch_body_col(self, url_col):
        """Raw fetch of an arbitrary URL column via whichever live UDF the
        crawl was built with (plain or conditional, validators null)."""
        if self.cond_fetch_udf is not None:
            return self.cond_fetch_udf(
                url_col, F.lit(None).cast("string"),
                F.lit(None).cast("string"))["html"]
        return self.fetch_udf(url_col)

    def _apply_live_robots(self, safe: DataFrame):
        """North-rule robots.txt cache, live modes: fetch robots once per
        newly-seen selection host (appended to the robots_cache table, so
        resume never refetches), then deny selected URLs the host's robots
        disallow — status 999, fetch UDF never invoked for them. All joins
        are bounded by the round's host set: the cache streams against a
        broadcast of the selection hosts, never shuffles."""
        io = self.io
        round_no = io.committed_round() + 1
        # Scheme comes from the host's own selected URLs (https preferred
        # when a host appears under both), not a hard-coded https:// — an
        # http-only host's robots fetch would otherwise always fail.
        sel_hosts = (
            safe.select(
                "host",
                F.regexp_extract("url", r"^([a-z][a-z0-9+.-]*)://", 1)
                .alias("scheme"))
            .groupBy("host")
            .agg(F.max("scheme").alias("scheme")))
        try:
            cached = io.read("robots_cache").select("host", "robots")
        except FileNotFoundError:
            cached = None
        if cached is not None:
            # Failure-marker rows don't count as known: the host is
            # retried next round instead of being allow-all forever.
            known = (
                cached.filter(F.col("robots") != _ROBOTS_FETCH_FAILED)
                .join(F.broadcast(sel_hosts.select("host")), "host", "inner"))
        else:
            known = self.spark.createDataFrame(
                [], "host string, robots string")
        missing = self._pin(sel_hosts.join(
            F.broadcast(known.select("host")), "host", "left_anti"))
        if missing.count():
            body = self._fetch_body_col(
                F.concat(F.col("scheme"), F.lit("://"), F.col("host"),
                         F.lit("/robots.txt")))
            # A failed fetch (null body) is cached as a MARKER, not as ''
            # (allow-all): this round treats it as allow (reference
            # semantics — unreachable robots doesn't block), but the
            # marker is excluded from `known` on later reads so the
            # fetch is retried, and a genuinely empty robots.txt stays
            # distinguishable from a failure.
            fetched = missing.select(
                "host",
                F.coalesce(F.decode(body, "UTF-8"),
                           F.lit(_ROBOTS_FETCH_FAILED))
                .alias("robots"),
            )
            # write-then-read-back: the robots fetch runs exactly once,
            # and a crash before the round commit rolls the file back
            io.append(fetched.coalesce(1), "robots_cache", round_no)
            known = known.unionByName(
                io.read_round("robots_cache", round_no)
                .select("host", "robots"))

        from ..kernels.robots import robots_allowed

        def batch(robots: pd.Series, urls: pd.Series) -> pd.Series:
            return pd.Series([robots_allowed(r, u or "")
                              for r, u in zip(robots, urls)])

        allowed_udf = pandas_udf(batch, T.BooleanType())
        flagged = self._pin(
            safe.join(F.broadcast(known), "host", "left")
            # failure marker → null → robots_allowed's allow-all branch
            .withColumn("robots",
                        F.when(F.col("robots") == _ROBOTS_FETCH_FAILED,
                               F.lit(None)).otherwise(F.col("robots")))
            .withColumn("_rb_ok", allowed_udf(F.col("robots"), F.col("url")))
            .drop("robots")
        )
        ok = flagged.filter(F.col("_rb_ok")).drop("_rb_ok")
        blocked = (
            flagged.filter(~F.col("_rb_ok")).drop("_rb_ok")
            .withColumn("html", F.lit(None).cast("binary"))
            .withColumn("status", F.lit(999))
        )
        return ok, blocked

    def _cond_fetch(self, safe: DataFrame) -> DataFrame:
        """Conditional GET round (J5's live form): probe the validator
        cache with a broadcast of the (politeness-bounded) selection — the
        cache streams, it never shuffles — hand (url, etag, last_modified)
        to the UDF, serve 304s from the cached body, and record fresh
        validated responses back. The pin materializes the round's
        responses ONCE so the cache write never re-invokes the fetch."""
        cache = (self.fetch_cache.probe(safe.select("url"))
                 if self.fetch_cache is not None else None)
        if cache is None:
            base = (
                safe.withColumn("_c_etag", F.lit(None).cast("string"))
                .withColumn("_c_lm", F.lit(None).cast("string"))
                .withColumn("_c_html", F.lit(None).cast("binary"))
            )
        else:
            hit = cache.select(
                "url", F.col("etag").alias("_c_etag"),
                F.col("last_modified").alias("_c_lm"),
                F.col("html").alias("_c_html"))
            base = safe.join(F.broadcast(hit), "url", "left")
        resp = self.cond_fetch_udf(F.col("url"), F.col("_c_etag"),
                                   F.col("_c_lm"))
        # pin FIRST, derive after: the pin materializes the fetch UDF's
        # struct exactly once — no Catalyst project-collapse can duplicate
        # the (side-effecting) fetch expression into the derived columns
        base = self._pin(base.withColumn("_r", resp))
        fetched = (
            base.withColumn(
                "html",
                F.when(F.col("_r.not_modified")
                       & F.col("_c_html").isNotNull(), F.col("_c_html"))
                .otherwise(F.col("_r.html")))
            .withColumn(
                "status",
                F.when(F.col("html").isNotNull(), 200).otherwise(404))
        )
        if self.fetch_cache is not None:
            fresh = fetched.filter(
                ~F.coalesce(F.col("_r.not_modified"), F.lit(False))
                & F.col("html").isNotNull())
            self.fetch_cache.record(fresh.select(
                "url", F.col("_r.etag").alias("etag"),
                F.col("_r.last_modified").alias("last_modified"), "html"))
        return fetched.drop("_c_etag", "_c_lm", "_c_html", "_r")

    # --- the round job ----------------------------------------------------
    def _trace(self, round_no: int, label: str, t0: float) -> float:
        """Phase timing (SPARK_GRAFT_TRACE=1) for perf work on the round's
        fixed cost; no-op in normal runs."""
        t1 = time.perf_counter()
        if os.environ.get("SPARK_GRAFT_TRACE"):
            print(f"TRACE r{round_no} {label}: {t1 - t0:.3f}s", flush=True)
        return t1

    def _run_round(self) -> bool:
        cfg, eng, io = self.cfg, self.engine, self.io
        round_no = io.committed_round() + 1
        limit = cfg.limit
        t = time.perf_counter()

        if limit is not None and limit - self._processed <= 0:
            self._done = True
            self._commit(round_no, done=True)
            return False

        # ---- selection: per-host budget top-k, then global FIFO cap ----
        queued = self._queued_df()
        use_budget = cfg.host_budget is not None or cfg.host_budget_overrides
        use_bucket = cfg.budget_capacity is not None and use_budget
        avail = None
        if use_bucket:
            # token-bucket: refill hosts with queued work, cap at capacity.
            # Lazy plan (evaluated in the selection job and again in the tiny
            # token-update job — both deterministic over committed files).
            hosts = queued.select("host").distinct()
            try:
                prev = self.io.read_round(
                    "host_budget",
                    self.io.latest_round("host_budget"),
                ).select("host", "tokens")
            except (FileNotFoundError, TypeError):
                prev = self.spark.createDataFrame(
                    [], "host string, tokens double")
            avail = (
                hosts.join(prev, "host", "left")
                .withColumn("tokens", F.coalesce(F.col("tokens"), F.lit(0.0)))
                .withColumn(
                    "allowance",
                    F.when(self._refill_col().isNull(),
                           F.lit(None).cast("double"))
                    .otherwise(F.least(F.lit(float(cfg.budget_capacity)),
                                       F.col("tokens") + self._refill_col())),
                )
            )
        if use_budget:
            if use_bucket:
                queued_a = queued.join(avail.select("host", "allowance"),
                                       "host", "left")
            else:
                queued_a = queued.withColumn("allowance", self._refill_col())
            allowance = F.col("allowance")

            # hot-host skew bound (north rule): before the per-host window
            # shuffle, keep only each host's local top-(cap) rows per input
            # partition — a hot host then ships at most cap × P rows into
            # the shuffle instead of its entire queued backlog.
            cap_bound = self._allowance_upper_bound()
            if cap_bound is not None:
                w_local = Window.partitionBy(
                    F.spark_partition_id(), "host"
                ).orderBy("priority", "seq")
                queued_a = (
                    queued_a.withColumn("_lrn", F.row_number().over(w_local))
                    .filter(allowance.isNull() | (F.col("_lrn") <= cap_bound))
                    .drop("_lrn")
                )

            w = Window.partitionBy("host").orderBy("priority", "seq")
            picked = (
                queued_a.withColumn("_rn", F.row_number().over(w))
                .filter(allowance.isNull() | (F.col("_rn") <= allowance))
                .drop("_rn", "allowance")
            )
        else:
            picked = queued
        if limit is not None:
            picked = picked.orderBy("priority", "seq") \
                           .limit(limit - self._processed)

        # ---- selection pin + synthetic fetch ----
        # The pages corpus is the 100-TB side: it must never shuffle. A
        # plain left join (picked preserved) forces a sort-merge join that
        # shuffles every page's html each round — measured 4-9 s/round even
        # on the synthetic corpus. Instead: pin the (politeness-bounded)
        # selection, broadcast it into an INNER join so pages streams in
        # place, and recover 404 misses with a column-pruned anti-join that
        # never touches the html column. On a real cluster with 10^7-row
        # rounds, swap the broadcast for a bucketed/co-partitioned pages
        # table on url hash — the join logic is unchanged.
        # selection count observed on the pin's materialization — no
        # separate count job (the hostrank Observation pattern)
        obs_sel = Observation(f"sel_{round_no}")
        selected = self._pin(
            picked.observe(obs_sel, F.count(F.lit(1)).alias("n")))
        n_selected = int(obs_sel.get["n"])
        t = self._trace(round_no, "selection pin", t)
        if n_selected == 0:
            self._done = True
            self._commit(round_no, done=True)
            return False
        base_depth = cfg.base_depth()
        if self.pages is None:
            fetched = self._live_fetch(selected)
        else:
            pages = self.pages.select(F.col("url").alias("page_url"),
                                      F.col("html"))
            hits = (
                pages.join(F.broadcast(selected),
                           pages["page_url"] == selected["url"], "inner")
                .drop("page_url")
            )
            # 404 misses: the corpus' size estimate (the full cached/scanned
            # relation) blocks auto-broadcast, so a direct
            # `selected ANTI pages.urls` falls back to a sort-merge join
            # that shuffles+sorts the corpus' url column every round.
            # Instead probe the corpus against the broadcast selection once
            # more (column-pruned stream, no shuffle) and anti-join the
            # selection against that ≤|selected|-row present-set — every
            # corpus access in the round is a broadcast-probed stream.
            present = (
                pages.select("page_url")
                .join(F.broadcast(selected.select(F.col("url").alias("_s"))),
                      F.col("page_url") == F.col("_s"), "inner")
                .select("page_url")
            )
            misses = (
                selected.join(F.broadcast(present),
                              selected["url"] == F.col("page_url"),
                              "left_anti")
                .withColumn("html", F.lit(None).cast("binary"))
            )
            fetched = hits.unionByName(misses)
        k_extract = self._extract_parts(n_selected)
        if k_extract is not None:
            # coalesce (no shuffle: html never moves) so the UDF stage and
            # its output files match the round size, not the corpus layout
            fetched = fetched.coalesce(k_extract)
        if "status" not in fetched.columns:   # live modes set it themselves
            fetched = fetched.withColumn(
                "status",
                F.when(F.col("html").isNotNull(), 200).otherwise(404))
        expandable = (
            (F.col("status") == 200)
            & (F.greatest(url_depth(F.col("url")) - F.lit(base_depth), F.lit(0))
               < F.lit(cfg.max_depth))
        )
        result_cols = ["url", "url_canon", "host", "host_bucket", "depth",
                       "priority", "seq", "status"]
        extracted = fetched.select(
            *result_cols,
            _extract_udf(cfg)(
                F.col("html"), F.col("url"), expandable
            ).alias("_x"),
        )
        combined = extracted.select(
            *result_cols, "_x.markdown", F.col("_x.links").alias("links"),
        ).withColumn("round", F.lit(round_no))
        # candidate count observed ON the write job (was a separate
        # count over the pinned classified candidates): gates the
        # round-tail executor choice with zero extra passes
        obs_cand = Observation(f"cand_{round_no}")
        combined = combined.observe(
            obs_cand,
            F.coalesce(F.sum(F.size("links")), F.lit(0)).alias("n_cand"))
        io.append(combined, "crawl_result", round_no)
        n_candidates = int(obs_cand.get["n_cand"])
        t = self._trace(round_no, "fetch+extract write", t)
        # fetched-seq sidecar (≙ an Iceberg equality-delete file): one tiny
        # file per round so the queued view's anti-join never re-opens the
        # wide crawl_result files (one per extraction task per round).
        # Sourced from the PINNED selection (seq sets are identical by
        # construction: combined = fetched(selected) 1:1) — no read-back of
        # the just-written round files. Small selections are written
        # driver-side (append_local — the _write_admitted precedent: same
        # file layout, none of the per-round Spark write fixed cost); the
        # collected (seq, host_bucket) rows also serve the round metrics.
        sel_rows = None
        if n_selected < eng.small_round_threshold:
            sel_rows = selected.select("seq", "host_bucket").collect()
            io.append_local(
                pd.DataFrame({"seq": [r["seq"] for r in sel_rows]})
                .astype({"seq": "int64"}),
                "fetched_seqs", round_no, schema="seq long")
        else:
            io.append(selected.select("seq").coalesce(1),
                      "fetched_seqs", round_no)
        t = self._trace(round_no, "fetched-seq sidecar", t)

        if use_bucket:
            # consume tokens: new state = allowance - used (finite hosts);
            # hosts without queued work keep their banked tokens untouched
            used = selected.groupBy("host").agg(
                F.count(F.lit(1)).cast("double").alias("used"))
            spent = (
                avail.join(used, "host", "left")
                .withColumn("used", F.coalesce(F.col("used"), F.lit(0.0)))
                .filter(F.col("allowance").isNotNull())
                .select("host",
                        (F.col("allowance") - F.col("used")).alias("tokens"))
            )
            untouched = prev.join(queued.select("host").distinct(),
                                  "host", "left_anti")
            io.append(
                spent.unionByName(untouched).withColumn("round",
                                                        F.lit(round_no)),
                "host_budget", round_no,
            )
        t = self._trace(round_no, "token update", t)

        # ---- admission (F1) + seen check + frontier write ----
        # One pipeline, two executors, chosen on the candidate count alone
        # (see the module docstring). Below the threshold the driver runs
        # the whole tail in-process — one Spark job (the link collect)
        # instead of the classify, probe and shard-merge python stages.
        if n_candidates < eng.small_round_threshold:
            n_new, drv = self._driver_round_tail(round_no)
            cls = shards = None
        else:
            cls, shards, n_new = self._distributed_round_tail(
                round_no, n_candidates)
            drv = None
        t = self._trace(round_no, "classify+seen check+admission", t)

        new_rows_file = (io.read_round("frontier", round_no)
                         if n_new else None)
        if n_new and drv is not None:
            self._update_shards_local(drv["new_hashes"], round_no)
        elif n_new:
            self._write_shards(new_rows_file, shards, round_no, n_rows=n_new)
        t = self._trace(round_no, "bloom shard write", t)
        self._maybe_compact_queued(queued, selected, new_rows_file, round_no)
        self._maybe_compact_keys(round_no)
        t = self._trace(round_no, "queued compaction", t)

        # ---- per-round metrics + per-bucket lineage ----
        # Metric groups already known on the driver (small selections, the
        # driver executor) are filled directly; any remaining distributed
        # groups run as ONE unioned agg + collect (parallel stages of a
        # single job — the round's fixed cost is job-count-bound). A fully
        # driver-resident round runs no metrics job at all.
        grouped: dict[str, dict] = {"denial": {}, "bucket_new": {},
                                    "bucket_fetched": {}}
        stats = None

        def _union(base, piece):
            return piece if base is None else base.unionByName(piece)

        if drv is not None:
            grouped["denial"] = drv["denials"]
            grouped["bucket_new"] = {
                b: len(h) for b, h in drv["new_hashes"].items()}
        else:
            stats = _union(stats, cls.filter(~F.col("c.allowed"))
                           .groupBy(F.lit("denial").alias("kind"),
                                    F.col("c.denial_reason").alias("key"))
                           .count())
            if n_new:
                stats = _union(stats, new_rows_file.groupBy(
                    F.lit("bucket_new").alias("kind"),
                    F.col("host_bucket").cast("string").alias("key"),
                ).count())
        if sel_rows is not None:
            grouped["bucket_fetched"] = Counter(
                r["host_bucket"] for r in sel_rows)
        else:
            stats = _union(stats, selected.groupBy(
                F.lit("bucket_fetched").alias("kind"),
                F.col("host_bucket").cast("string").alias("key"),
            ).count())
        if stats is not None:
            for r in stats.collect():
                key = r["key"] if r["kind"] == "denial" else int(r["key"])
                grouped[r["kind"]][key] = r["count"]

        def by_bucket(kind: str) -> dict[str, int]:
            return {str(k): v for k, v in sorted(grouped[kind].items())}

        t = self._trace(round_no, "metrics agg", t)
        io.append_json(
            {
                "round": round_no, "fetched": n_selected, "new_urls": n_new,
                "processed": self._processed + n_selected,
                "denials": dict(sorted(grouped["denial"].items())),
                "bucket_new_counts": by_bucket("bucket_new"),
                "bucket_fetched_counts": by_bucket("bucket_fetched"),
            },
            "round_metrics", round_no,
        )

        # ---- commit + counter advance ----
        self._processed += n_selected
        self._next_seq += n_new
        self._frontier_count += n_new
        self._commit(round_no, done=False)
        return True

    def _distributed_round_tail(self, round_no: int, n_candidates: int):
        """The round tail as Spark stages (candidates ≥
        small_round_threshold): pinned classify UDF → seen check → an
        unlimited crawl's distributed admission, or a limit crawl's
        per-page-trimmed collect into _replay_admission. Returns (the
        pinned classified links, the shard set probed, n_new)."""
        cfg, eng = self.cfg, self.engine
        cand = self.io.read_round("crawl_result", round_no).select(
            F.col("priority").alias("source_priority"),
            F.col("seq").alias("source_seq"),
            F.posexplode("links").alias("link_pos", "link"),
        )
        t = time.perf_counter()
        cls = self._pin(cand.withColumn(
            "c", classify_links_udf(cfg.filter_options())(F.col("link"))))
        t = self._trace(round_no, "  distributed: classify pin", t)
        dedup = self._dedup_col()
        allowed = (
            cls.filter(F.col("c.allowed"))
            .select("source_priority", "source_seq", "link_pos", "link")
            .withColumn("url_canon", canonicalize_url(F.col("link")))
            .withColumn("dedup_key", F.col("link" if dedup == "url"
                                           else "url_canon"))
            .withColumn("dedup_hash", F.xxhash64("dedup_key"))
            .withColumn(
                "cand_bucket",
                F.pmod(F.xxhash64(url_host(F.col("link"))),
                       F.lit(eng.num_buckets)).cast("int"))
        )

        # ---- seen-set check (bucket-local, no frontier shuffle) ----
        # ONE cogroup stage computes exact is_seen — shard membership
        # prefilter + per-bucket exact key read, all task-local (see
        # _bloom_probe)
        shards = self._shards_df()
        flagged = self._pin(
            self._bloom_probe(allowed, shards, n_rows=n_candidates))
        self._trace(round_no, "  distributed: seen-check probe pin", t)

        if cfg.limit is None:
            return cls, shards, self._admit_distributed(flagged, round_no)
        # Collect trim: only each page's first (limit − frontier_count)
        # links can ever be accepted — the page budget never exceeds that
        # — so later rows are dropped before the collect (a link-heavy
        # round collects O(pages × cap), not every classified link). Seen
        # rows within the window stay: accepted dups consume the budget.
        cap = cfg.limit - self._frontier_count
        rows = []
        if cap > 0:
            w_page = Window.partitionBy("source_priority", "source_seq") \
                           .orderBy("link_pos")
            rows = (
                flagged.withColumn("_pn", F.row_number().over(w_page))
                .filter(F.col("_pn") <= cap)
                .orderBy("source_priority", "source_seq", "link_pos")
                .select("source_seq", "link", "url_canon", "dedup_key",
                        "is_seen", "cand_bucket").collect()
            )
        return cls, shards, len(self._replay_admission(rows, round_no))

    def _admit_distributed(self, flagged: DataFrame, round_no: int) -> int:
        """Unlimited-crawl admission, fully distributed: first-occurrence
        window dedup, then the native dense-seq assignment."""
        eng, io = self.engine, self.io
        new_only = flagged.filter(~F.col("is_seen"))
        w_first = Window.partitionBy("dedup_key").orderBy(
            "source_priority", "source_seq", "link_pos")
        admitted = (
            new_only.withColumn("_rn", F.row_number().over(w_first))
            .filter(F.col("_rn") == 1).drop("_rn")
            .select("source_priority", "source_seq", "link_pos", "link",
                    "url_canon")
        )
        cols = self._with_priority(admitted.select(
            F.col("link").alias("url"),
            F.col("url_canon"),
            url_host(F.col("link")).alias("host"),
            F.pmod(F.xxhash64(url_host(F.col("link"))),
                   F.lit(eng.num_buckets)).cast("int").alias("host_bucket"),
            url_depth(F.col("link")).alias("depth"),
            F.lit(round_no).alias("round_discovered"),
            F.col("source_priority"), F.col("source_seq"), F.col("link_pos"),
        )).select(
            "url", "url_canon", "host", "host_bucket", "depth", "priority",
            "round_discovered", "source_priority", "source_seq", "link_pos",
        )
        # pinned: consumed by both the offsets broadcast and the final write
        # (without this the exact anti-join upstream would run twice)
        cols = self._pin(cols)
        new_rows = _assign_dense_seq(cols, self._next_seq) \
            .drop("source_priority", "source_seq", "link_pos")
        obs = Observation(f"admit_{round_no}")
        new_rows = new_rows.observe(obs, F.count(F.lit(1)).alias("n_new"))
        # hash-repartition on the write's partition key first: a partitioned
        # write from task-scattered rows emits one file per (task × bucket)
        # — up to shuffle_partitions × num_buckets near-empty files per
        # round at high core counts, and every later frontier scan pays the
        # listing + footer reads. One small shuffle caps it at one file per
        # bucket per round.
        new_rows = new_rows.repartition(eng.num_buckets, "host_bucket")
        io.append(new_rows, "frontier", round_no, partition_by=["host_bucket"])
        return int(obs.get["n_new"])

    def _driver_round_tail(self, round_no: int) -> tuple[int, dict]:
        """The round tail on the driver (candidates <
        small_round_threshold), against the SAME kernels and committed
        files as the distributed executor, so parity holds by construction:
        link_classifier is what the classify UDF wraps, walked in
        (source_priority, source_seq, link_pos) order; the seen check is
        _bloom_probe's exact per-bucket key read (_seen_key_reader — the
        filter has no false negatives, so prefilter + exact ≡ exact);
        admission is _replay_admission; buckets and key hashes come from
        the python xxhash64 twin (bit-parity gated in tests).

        Returns (n_new, {"denials", "new_hashes"}): the denial counts the
        distributed stats job would aggregate, and the admitted keys'
        hashes per bucket for _update_shards_local and the bucket counts."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..kernels.xxh64 import spark_bucket, xxhash64

        eng = self.engine
        rows = (self.io.read_round("crawl_result", round_no)
                .select("priority", "seq", "links")
                .filter(F.size("links") > 0).collect())
        classify = link_classifier(self.cfg.filter_options())
        use_url_key = eng.dedup_key == "url"
        denials: dict[str, int] = {}
        # [source_seq, link, url_canon, dedup_key, is_seen, bucket]
        cands: list[list] = []
        for r in sorted(rows, key=lambda r: (r["priority"], r["seq"])):
            for link in r["links"]:
                ok, _url, reason = classify(link)
                if not ok:
                    denials[reason] = denials.get(reason, 0) + 1
                    continue
                canon = urlkit.canonicalize_url(link) if link else ""
                bucket = spark_bucket(
                    urlkit.url_host(link) if link else "", eng.num_buckets)
                cands.append([r["seq"], link, canon,
                              link if use_url_key else canon, False, bucket])
        seen_keys = self._seen_key_reader()
        by_bucket: dict[int, list[list]] = {}
        for c in cands:
            by_bucket.setdefault(c[5], []).append(c)
        for b, group in by_bucket.items():
            seen = seen_keys(b)
            if len(seen) == 0:
                continue
            hits = pc.is_in(pa.array([c[3] for c in group], type=pa.string()),
                            value_set=seen).to_pylist()
            for c, h in zip(group, hits):
                c[4] = bool(h)
        new_hashes: dict[int, list[int]] = {}
        admitted = self._replay_admission(cands, round_no)
        for key, b in admitted:
            new_hashes.setdefault(b, []).append(xxhash64(key))
        return len(admitted), {"denials": denials, "new_hashes": new_hashes}

    def _update_shards_local(self, new_hashes: dict[int, list[int]],
                             round_no: int) -> None:
        """The driver executor's shard update: the latest committed blobs
        (TableIO.read_local), update_blob on each bucket with new keys, all
        blobs rewritten as this round's (host_bucket, blob) rows — the same
        table contents _write_shards' cogroup writes."""
        io = self.io
        old = io.read_local("bloom_shards", io.latest_round("bloom_shards"),
                            columns=["host_bucket", "blob"])
        blobs = {int(b): bytes(x) for b, x in zip(old["host_bucket"],
                                                   old["blob"])}
        for b, hashes in new_hashes.items():
            blobs[b] = update_blob(blobs.get(b), hashes, self.engine)
        pdf = pd.DataFrame(
            {"host_bucket": sorted(blobs),
             "blob": [blobs[b] for b in sorted(blobs)]}).astype(
            {"host_bucket": "int32"})
        io.append_local(pdf, "bloom_shards", round_no,
                        schema="host_bucket int, blob binary")

    def _replay_admission(self, rows, round_no: int) -> list[tuple[str, int]]:
        """First-occurrence admission over a round's allowed candidates
        ``(source_seq, link, url_canon, dedup_key, is_seen, bucket)`` in
        (source_priority, source_seq, link_pos) order; writes the admitted
        frontier rows (seqs assigned inline) and returns their
        (dedup_key, bucket) pairs. Limit crawls keep the reference's
        sequential cross-page semantics (crawlService.ts:57-66 +
        crawler.rs:267-269): per source page, accepted links — dups
        included — consume the page's (limit − frontier size) budget, and
        only unseen ones join the frontier."""
        limit = self.cfg.limit
        pr = self._priority_of_batch([r[1] for r in rows])
        admitted: list[tuple] = []
        round_new: dict[str, int] = {}      # admitted key → bucket
        page, used, budget = None, 0, 0
        for src, link, canon, key, seen, bucket in rows:
            if limit is not None:
                if src != page:
                    page, used = src, 0
                    budget = limit - self._frontier_count - len(admitted)
                if used >= budget:
                    continue
                used += 1
            if seen or key in round_new:
                continue
            round_new[key] = bucket
            admitted.append((
                link, canon, urlkit.url_host(link), 0,
                urlkit.get_url_depth(urlkit.url_path(link)),
                pr(link), round_no, self._next_seq + len(admitted),
            ))
        self._write_admitted(admitted, round_no)
        return list(round_new.items())

    def _write_admitted(self, admitted: list[tuple], round_no: int) -> None:
        # Driver-built rows are small by construction (seed round and
        # _replay_admission only): compute host_bucket with the python
        # xxhash64 twin (bit-parity gated in tests/test_urlkit.py) and
        # write the per-bucket files directly with pyarrow — pushing
        # O(1000) driver rows through Spark's dynamic-partition committer
        # costs 1-3 s of fixed overhead per round (one file open/commit
        # per bucket value inside one task), vs ~10 ms driver-side. The
        # file layout is identical, so every reader (hive-partitioned
        # scans, per-bucket seen-key files) is unchanged.
        from webcrawl_spark.kernels.xxh64 import spark_bucket

        cols = ["url", "url_canon", "host", "host_bucket", "depth",
                "priority", "round_discovered", "seq"]
        pdf = pd.DataFrame(admitted, columns=cols)
        pdf["host_bucket"] = [
            spark_bucket(h, self.engine.num_buckets) for h in pdf["host"]
        ] if len(pdf) else pdf["host_bucket"]
        pdf = pdf.astype({
            "url": "object", "url_canon": "object", "host": "object",
            "host_bucket": "int32", "depth": "int32", "priority": "int32",
            "round_discovered": "int32", "seq": "int64",
        })
        self.io.append_local(pdf, "frontier", round_no,
                             partition_by=["host_bucket"],
                             schema=FRONTIER_SCHEMA)
