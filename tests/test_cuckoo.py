"""frontier/cuckoo.py — cuckoo-filter shard (the north rule's named
Bloom alternative): no false negatives ever, bounded FP rate,
serialization/dispatch, merge from serialized state."""
import numpy as np
import pytest

from webcrawl_spark.frontier.bloom import BloomShard
from webcrawl_spark.frontier.cuckoo import (
    CuckooShard,
    buckets_for,
    shard_from_bytes,
    update_blob,
)

RNG = np.random.default_rng(99)


def _keys(n, seed=1):
    return np.random.default_rng(seed).integers(
        0, 2**63, size=n, dtype=np.int64).astype(np.uint64)


class TestCuckoo:
    def test_no_false_negatives(self):
        keys = _keys(5000)
        shard = CuckooShard.build(keys, buckets_for(10_000))
        assert shard.contains(keys).all()

    def test_fp_rate_bounded(self):
        keys = _keys(5000)
        shard = CuckooShard.build(keys, buckets_for(10_000))
        probe = _keys(20_000, seed=2)
        fp = shard.contains(probe).mean()
        # 16-bit fingerprints, 2 buckets x 4 slots: theoretical ~8/2^16
        assert fp < 0.01

    def test_high_load_spills_but_stays_exact(self):
        # force overflow: capacity sized for 64 keys, insert 640
        keys = _keys(640, seed=3)
        shard = CuckooShard.build(keys, buckets_for(64))
        assert shard.contains(keys).all()     # overflow path: no FN

    def test_serialization_roundtrip(self):
        keys = _keys(3000, seed=4)
        shard = CuckooShard.build(keys, buckets_for(4000))
        back = CuckooShard.from_bytes(shard.to_bytes())
        assert back.contains(keys).all()
        assert np.array_equal(back.table, shard.table)
        assert np.array_equal(back.overflow, shard.overflow)

    def test_dispatch_magic(self):
        ck = CuckooShard.build(_keys(100), buckets_for(200))
        bl = BloomShard.build(_keys(100), 4096, 4)
        assert isinstance(shard_from_bytes(ck.to_bytes()), CuckooShard)
        assert isinstance(shard_from_bytes(bl.to_bytes()), BloomShard)

    def test_incremental_add_matches_build(self):
        a, b = _keys(1000, seed=5), _keys(1000, seed=6)
        inc = CuckooShard(buckets_for(4000))
        inc.add(a)
        inc = CuckooShard.from_bytes(inc.to_bytes())   # shard lifecycle
        inc.add(b)
        assert inc.contains(a).all() and inc.contains(b).all()

    def test_merge_from_serialized_state(self):
        a, b = _keys(800, seed=7), _keys(800, seed=8)
        nb = buckets_for(4000)
        sa = CuckooShard.build(a, nb)
        sb = CuckooShard.build(b, nb)
        merged = sa.merge(CuckooShard.from_bytes(sb.to_bytes()))
        assert merged.contains(a).all() and merged.contains(b).all()

    def test_merge_spill_pattern_visible(self):
        # overfull merge: spilled (fp, bucket) patterns must stay probe-
        # visible for the original keys
        nb = buckets_for(32)
        a, b = _keys(200, seed=9), _keys(200, seed=10)
        merged = CuckooShard.build(a, nb).merge(CuckooShard.build(b, nb))
        assert merged.contains(a).all() and merged.contains(b).all()

    def test_empty(self):
        shard = CuckooShard(buckets_for(100))
        assert shard.contains(np.zeros(0, dtype=np.uint64)).shape == (0,)
        assert not shard.contains(_keys(50)).any()


class TestUpdateBlob:
    """update_blob is the one shard-update kernel of both round executors
    (the distributed cogroup merge and the driver's local update)."""

    @pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
    def test_fresh_then_incremental(self, kind):
        from webcrawl_spark.frontier.bloom import bits_for, optimal_k
        from webcrawl_spark.frontier.crawl import EngineConfig

        eng = EngineConfig(seen_filter=kind, bloom_keys_per_shard=2000)
        first = _keys(500, seed=3).astype(np.int64)
        more = _keys(500, seed=4).astype(np.int64)
        blob = update_blob(None, first, eng)
        # a fresh shard is sized from the engine's per-shard key budget
        if kind == "cuckoo":
            fresh = CuckooShard(buckets_for(2000))
        else:
            m = bits_for(2000, eng.bloom_fp_rate)
            fresh = BloomShard(m, optimal_k(m, 2000))
        fresh.add(first.astype(np.uint64))
        assert blob == fresh.to_bytes()
        # an existing blob keeps its kind and gains the new keys
        grown = shard_from_bytes(update_blob(blob, more, eng))
        assert isinstance(grown, type(fresh))
        assert grown.contains(first.astype(np.uint64)).all()
        assert grown.contains(more.astype(np.uint64)).all()
        # no hashes: the blob round-trips unchanged
        assert update_blob(blob, np.zeros(0, dtype=np.int64), eng) == blob


class TestCrawlParity:
    def test_cuckoo_same_result_as_bloom(self, spark, tmp_path):
        from webcrawl_spark.datagen import build_site, render_page_html
        from webcrawl_spark.frontier.crawl import EngineConfig
        from webcrawl_spark.frontier.oracle import CrawlConfig
        from tests.test_frontier import run_engine

        site = build_site(seed=7, n_hosts=3, pages_per_host=30,
                          n_hot_hosts=1, hot_factor=2)
        rows = [(u, render_page_html(site, u).encode())
                for u in site.urls()]
        site_pages_df = spark.createDataFrame(
            rows, "url string, html binary")
        seed = f"https://{site.hosts[1]}/"
        cfg = CrawlConfig(seed_url=seed, limit=20, max_depth=2,
                          allow_backward_crawling=True)
        bloom = run_engine(spark, site_pages_df, cfg, tmp_path / "b",
                           EngineConfig(seen_filter="bloom"))
        cuckoo = run_engine(spark, site_pages_df, cfg, tmp_path / "c",
                            EngineConfig(seen_filter="cuckoo"))
        assert bloom.fetch_order() == cuckoo.fetch_order()
        b_seen = {r["url"] for r in
                  bloom.frontier().select("url").collect()}
        c_seen = {r["url"] for r in
                  cuckoo.frontier().select("url").collect()}
        assert b_seen == c_seen
