"""Content-defined chunking: boundary determinism, shift-resilience (the
property that justifies CDC over fixed blocks), and corpus dedup stats."""

import hashlib

import numpy as np
from pyspark.sql import functions as F

from webcrawl_spark.operators.cdc import (
    cdc_chunks,
    chunk_payload,
    duplicate_bytes_fraction,
)


def _rand_bytes(n, seed):
    return bytes(np.random.RandomState(seed).randint(0, 256, size=n,
                                                     dtype=np.uint8))


class TestChunkPayload:
    def test_gear_table_digest_pinned(self):
        """The seeded gear table is part of the chunk-boundary contract:
        any change to how it is drawn moves every CDC boundary."""
        import hashlib

        from webcrawl_spark.operators.cdc import _gear_table

        table = _gear_table()
        assert table.dtype.name == "uint64" and table.shape == (256,)
        assert hashlib.sha256(table.astype("<u8").tobytes()).hexdigest() == \
            "5376225423c07a44e6078a818f3f835da59c09dc8b0a012e79ffc7f61fa10198"

    def test_chunks_cover_payload_exactly(self):
        data = _rand_bytes(5000, 1)
        chunks = chunk_payload(data)
        assert sum(ln for _, ln, _ in chunks) == len(data)
        assert [idx for idx, _, _ in chunks] == list(range(len(chunks)))
        # reassemble via hashes: each chunk md5 matches its span
        start = 0
        for _, ln, h in chunks:
            assert hashlib.md5(data[start:start + ln]).hexdigest() == h
            start += ln

    def test_boundaries_are_content_defined(self):
        # inserting bytes at the front only re-chunks the prefix: chunk
        # hashes after the edit's neighborhood are unchanged (the property
        # fixed-size blocking lacks)
        tail = _rand_bytes(4000, 2)
        a = chunk_payload(_rand_bytes(64, 3) + tail)
        b = chunk_payload(_rand_bytes(91, 4) + tail)
        ha = {h for _, _, h in a}
        hb = {h for _, _, h in b}
        shared = ha & hb
        # all tail chunks except the splice-neighborhood ones survive
        assert len(shared) >= min(len(ha), len(hb)) - 3
        assert len(shared) > 5

    def test_empty_payload_single_empty_chunk(self):
        assert chunk_payload(b"") == \
            [(0, 0, hashlib.md5(b"").hexdigest())]


class TestGearBoundaries:
    """The vectorized gear window hash (the 100-TB default path): scalar
    parity, coverage, and the same shift-resilience property the md5 form
    carries."""

    def test_matches_scalar_reference(self):
        from webcrawl_spark.operators.cdc import (
            _boundaries_gear, _gear_table,
        )

        data = _rand_bytes(3000, 21)
        window, divisor = 8, 64
        table = _gear_table()
        expect = []
        for p in range(window - 1, len(data)):
            h = 0
            for i in range(window):
                h = (h + (int(table[data[p - i]]) << i)) % (1 << 64)
            if h % divisor == 0:
                expect.append(p)
        assert _boundaries_gear(data, window, divisor) == expect

    def test_chunks_cover_payload_exactly(self):
        data = _rand_bytes(5000, 22)
        chunks = chunk_payload(data, hash_kind="gear")
        assert sum(ln for _, ln, _ in chunks) == len(data)
        start = 0
        for _, ln, h in chunks:
            assert hashlib.md5(data[start:start + ln]).hexdigest() == h
            start += ln

    def test_shift_resilience(self):
        tail = _rand_bytes(4000, 23)
        a = chunk_payload(_rand_bytes(64, 24) + tail, hash_kind="gear")
        b = chunk_payload(_rand_bytes(91, 25) + tail, hash_kind="gear")
        ha = {h for _, _, h in a}
        hb = {h for _, _, h in b}
        shared = ha & hb
        assert len(shared) >= min(len(ha), len(hb)) - 3
        assert len(shared) > 5

    def test_short_and_empty_payloads(self):
        assert chunk_payload(b"", hash_kind="gear") == \
            [(0, 0, hashlib.md5(b"").hexdigest())]
        short = b"abc"
        assert chunk_payload(short, hash_kind="gear") == \
            [(0, 3, hashlib.md5(short).hexdigest())]


class TestCdcSpark:
    def test_spark_matches_direct(self, spark):
        payloads = {i: _rand_bytes(2000 + i * 97, 10 + i) for i in range(6)}
        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in payloads.items()],
            "doc_id long, payload binary")
        got = {}
        for r in cdc_chunks(df).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["chunk_len"], r["chunk_md5"]))
        for i, p in payloads.items():
            assert sorted(got[i]) == chunk_payload(p)

    def test_duplicate_bytes_fraction(self, spark):
        shared = _rand_bytes(3000, 7)
        a = _rand_bytes(1000, 8) + shared
        b = _rand_bytes(1200, 9) + shared
        c = _rand_bytes(4000, 11)
        df = spark.createDataFrame(
            [(0, bytearray(a)), (1, bytearray(b)), (2, bytearray(c))],
            "doc_id long, payload binary")
        out = {r["doc_id"]: r for r in
               duplicate_bytes_fraction(cdc_chunks(df))
               .orderBy("doc_id").collect()}
        assert out[0]["n_bytes"] == len(a)
        # docs 0 and 1 share the tail chunks; doc 2 shares nothing
        assert out[0]["dup_bytes"] > 2000
        assert out[1]["dup_bytes"] > 2000
        assert out[2]["dup_bytes"] == 0
        assert out[2]["dup_frac_nano"] == 0


class TestGearGeneralForms:
    def test_non_power_of_two_divisor_and_window(self):
        """Exercises the uint64 general path (divisor not a power of two)
        and a window with multiple set bits (binary-doubling combine)."""
        from webcrawl_spark.operators.cdc import (
            _boundaries_gear, _gear_table,
        )

        data = _rand_bytes(2000, 31)
        for window, divisor in [(5, 63), (11, 100), (8, 64), (16, 1 << 20)]:
            table = _gear_table()
            expect = []
            for p in range(window - 1, len(data)):
                h = 0
                for i in range(window):
                    h = (h + (int(table[data[p - i]]) << i)) % (1 << 64)
                if h % divisor == 0:
                    expect.append(p)
            got = _boundaries_gear(data, window, divisor)
            assert got == expect, (window, divisor)
