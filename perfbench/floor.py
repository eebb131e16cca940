"""Kernel floor: the row kernels, the seen filters and the WARC parser timed
in the driver without Spark, single-threaded, on the workload's own inputs.

These rates do not depend on the scheduler, so they tell a kernel slowdown
from a plan slowdown. Each rate is the median over repeated passes.
"""

from __future__ import annotations

import datetime as dt
import statistics
import time

import numpy as np

from webcrawl_spark.frontier.bloom import BloomShard, bits_for, optimal_k
from webcrawl_spark.frontier.crawl import EngineConfig
from webcrawl_spark.frontier.cuckoo import CuckooShard, buckets_for
from webcrawl_spark.kernels.classify import (
    _build_robot, _compile_patterns, classify_link,
)
from webcrawl_spark.kernels.crawl import page_links
from webcrawl_spark.kernels.scrape import markdown_for_page
from webcrawl_spark.kernels.urlkit import canonicalize_url, parse_url
from webcrawl_spark.kernels.xxh64 import xxhash64
from webcrawl_spark.sources.warc import build_warc_bytes, parse_warc_bytes

_MIN_PASSES = 3
_MIN_SECONDS = 0.3


def _per_s(fn, n_items: int) -> float:
    """Items per second of ``fn()``: median pass time over at least three
    passes and ``_MIN_SECONDS`` of work."""
    times: list[float] = []
    while len(times) < _MIN_PASSES or sum(times) < _MIN_SECONDS:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n_items / statistics.median(times)


def _hashes(keys: list[str]) -> np.ndarray:
    return np.array([xxhash64(k) for k in keys],
                    dtype=np.int64).astype(np.uint64)


def _filters(keys: list[str]) -> dict[str, float]:
    """Bloom and cuckoo shards sized as the engine sizes them. The sorted
    keys are split in two: the first half is added, the whole set probed;
    probes of the second half that answer 'maybe' are false positives —
    each one an exact bucket-key read the seen check wastes."""
    eng = EngineConfig()
    keys = sorted(set(keys))
    half = len(keys) // 2
    seen, all_h = _hashes(keys[:half]), _hashes(keys)
    unseen = all_h[half:]
    m = bits_for(eng.bloom_keys_per_shard, eng.bloom_fp_rate)
    k = optimal_k(m, eng.bloom_keys_per_shard)
    bloom = BloomShard.build(seen, m, k)
    cuckoo = CuckooShard.build(seen, buckets_for(eng.bloom_keys_per_shard))
    return {
        "frontier.bloom.add_keys_per_s":
            _per_s(lambda: BloomShard(m, k).add(seen), len(seen)),
        "frontier.bloom.contains_keys_per_s":
            _per_s(lambda: bloom.contains(all_h), len(all_h)),
        "frontier.bloom.fp_rate":
            float(bloom.contains(unseen).mean()) if len(unseen) else 0.0,
        "frontier.cuckoo.contains_keys_per_s":
            _per_s(lambda: cuckoo.contains(all_h), len(all_h)),
        "frontier.cuckoo.fp_rate":
            float(cuckoo.contains(unseen).mean()) if len(unseen) else 0.0,
    }


def kernel_floor(pages: list[tuple[str, str]], opts,
                 keys: list[str]) -> dict[str, float]:
    """``pages``: (url, html) the workload processed; ``opts``: the
    FilterOptions its link classification uses; ``keys``: the dedup keys
    its seen filter holds."""
    out: dict[str, float] = {}
    out["kernels.scrape.markdown_pages_per_s"] = _per_s(
        lambda: [markdown_for_page(h, u) for u, h in pages], len(pages))
    out["kernels.crawl.page_links_pages_per_s"] = _per_s(
        lambda: [page_links(h, u, opts) for u, h in pages], len(pages))
    links = [l for u, h in pages for l in page_links(h, u, opts)]
    # the same per-batch hoisting the engine's classify UDF does
    base, initial = parse_url(opts.base_url), parse_url(opts.initial_url)
    excludes, includes = (_compile_patterns(opts.excludes),
                          _compile_patterns(opts.includes))
    robot = _build_robot(opts)
    out["kernels.classify.links_per_s"] = _per_s(
        lambda: [classify_link(l, opts, _base=base, _initial=initial,
                               _excludes=excludes, _includes=includes,
                               _robot=robot) for l in links], len(links))
    out["kernels.urlkit.canon_keys_per_s"] = _per_s(
        lambda: [canonicalize_url(l) for l in links], len(links))
    out.update(_filters(keys))
    epoch = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    records = [{"url": u, "warc_ts": epoch, "html": h.encode("utf-8")}
               for u, h in pages]
    mb = len(build_warc_bytes(records)) / 1e6
    gz = build_warc_bytes(records, gzip_members=True)
    out["sources.warc.parse_mb_per_s"] = _per_s(
        lambda: parse_warc_bytes(gz), 1) * mb
    return out
