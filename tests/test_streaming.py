"""Structured Streaming skin: stateless scrape over a stream and the
watermarked fetch-metrics rollup, driven by file sources + memory sinks."""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F


def _run_stream_to_memory(sdf, name, mode="append", timeout=60):
    q = (
        sdf.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(availableNow=True).start()
    )
    q.awaitTermination(timeout)
    return q


class TestStreamScrape:
    def test_streaming_markdown_matches_batch(self, spark, pages_df, tmp_path):
        from webcrawl_spark.kernels.scrape import ScrapeOptions
        from webcrawl_spark.streaming import stream_scrape

        src = str(tmp_path / "pages_src")
        pages_df.limit(20).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(pages_df.schema).parquet(src)
        out = stream_scrape(stream, ScrapeOptions(formats=("markdown",)))
        assert out.isStreaming
        _run_stream_to_memory(out.select("url", "markdown", "text"),
                              "scrape_stream")
        got = spark.sql("select * from scrape_stream").collect()
        assert len(got) == 20
        assert all(r["markdown"] == r["text"] for r in got)


class TestStatefulSessions:
    def test_host_sessionization(self, spark, tmp_path):
        """applyInPandasWithState custom stateful operator: sessions close
        either by event-time gap within a batch or by processing-time
        timeout for the pending tail."""
        import time as _time

        from webcrawl_spark.streaming import stream_host_sessions

        base = dt.datetime(2025, 6, 1, 12, 0, 0)
        rows = [(f"https://a.com/p{i}", "a.com", 200,
                 base + dt.timedelta(seconds=2 * i)) for i in range(5)]
        rows += [(f"https://a.com/q{i}", "a.com", 200 if i else 500,
                  base + dt.timedelta(seconds=300 + 2 * i)) for i in range(4)]
        src = str(tmp_path / "fetch_sessions")
        df = spark.createDataFrame(
            rows, "url string, host string, status int, fetched_at timestamp")
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        out = stream_host_sessions(stream, gap_seconds=3)
        q = (out.writeStream.format("memory").queryName("host_sessions")
             .outputMode("append").trigger(availableNow=True).start())
        got = []
        deadline = _time.time() + 90
        while _time.time() < deadline:
            got = spark.sql(
                "select * from host_sessions order by session_start").collect()
            if len(got) >= 2 or not q.isActive:
                break
            _time.sleep(2)
        q.stop()
        assert len(got) == 2
        first, second = got
        assert first["n_fetches"] == 5 and first["n_ok"] == 5
        assert second["n_fetches"] == 4 and second["n_ok"] == 3
        assert first["session_end"] < second["session_start"]


class TestStreamMetrics:
    def test_windowed_rollup(self, spark):
        from webcrawl_spark.streaming import stream_fetch_metrics

        base = dt.datetime(2025, 6, 1, 12, 0, 0)
        rows = []
        for i in range(60):
            rows.append((
                f"https://h{i % 2}.com/p{i}", f"h{i % 2}.com",
                200 if i % 5 else 500, 1000 + i,
                base + dt.timedelta(seconds=10 * i),
            ))
        import tempfile
        src = tempfile.mkdtemp(prefix="fetch_ev_")
        df = spark.createDataFrame(
            rows, "url string, host string, status int, n_bytes long, "
                  "fetched_at timestamp",
        )
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        rollup = stream_fetch_metrics(stream, window="1 minute",
                                      watermark="2 minutes")
        # complete mode: emit all windows including those still inside the
        # watermark (append mode would withhold the trailing 2 minutes —
        # correct late-data semantics, asserted implicitly by complete≥append)
        _run_stream_to_memory(rollup, "fetch_metrics", mode="complete")
        got = spark.sql(
            "select * from fetch_metrics order by window_start, host"
        ).collect()
        # 60 events over 600s → 10 windows × 2 hosts
        assert len(got) == 20
        assert all(r["n_fetches"] == 3 for r in got)
        total_ok = sum(r["n_ok"] for r in got)
        assert total_ok == sum(1 for i in range(60) if i % 5)


class TestStreamExactDedup:
    def test_first_arrival_kept_within_watermark(self, spark, tmp_path):
        from webcrawl_spark.streaming import stream_exact_dedup

        t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
        rows = [
            (1, "same body text", t0),
            (2, "Same  body   text", t0 + dt.timedelta(seconds=5)),  # dup (normalized)
            (3, "a different document", t0 + dt.timedelta(seconds=9)),
        ]
        df = spark.createDataFrame(
            rows, "doc_id int, text string, ingested_at timestamp")
        src = str(tmp_path / "docs_src")
        df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        out = stream_exact_dedup(stream, watermark="1 minute")
        _run_stream_to_memory(out, "stream_dedup")
        got = spark.sql("SELECT doc_id FROM stream_dedup").collect()
        kept = sorted(r["doc_id"] for r in got)
        assert len(kept) == 2
        assert 3 in kept
        assert len({1, 2} & set(kept)) == 1   # exactly one of the dup pair
        assert "_fp" not in spark.table("stream_dedup").columns


class TestStreamWarc:
    def test_landing_dir_drained_available_now(self, spark, tmp_path):
        """New .warc.gz files in a landing dir become streamed pages;
        trigger(availableNow) drains the snapshot into a memory sink."""
        import datetime as dt

        from webcrawl_spark.sources.warc import build_warc_bytes
        from webcrawl_spark.streaming import stream_warc

        land = tmp_path / "landing"
        land.mkdir()
        utc = dt.timezone.utc
        for i in range(3):
            recs = [{"url": f"https://s{i}.example.com/p{j}",
                     "warc_ts": dt.datetime(2026, 3, 1, 0, i, j,
                                            tzinfo=utc),
                     "html": f"<html>{i}-{j}</html>".encode()}
                    for j in range(4)]
            (land / f"f{i}.warc.gz").write_bytes(
                build_warc_bytes(recs, gzip_members=True))
        stream = stream_warc(spark, str(land))
        assert stream.isStreaming
        q = (stream.select("url", "html")
             .writeStream.format("memory").queryName("warc_sink")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["url"] for r in spark.sql(
            "SELECT url FROM warc_sink").collect()}
        assert len(got) == 12
        assert "https://s2.example.com/p3" in got


class TestStreamCurate:
    def test_flags_and_ppl_match_batch(self, spark, tmp_path):
        """Stateless curation gates on a stream must agree with the batch
        operators: C4/Gopher flags exactly, perplexity within 1 nano
        (python libm vs JVM libm last-bit)."""
        from webcrawl_spark.operators.lm import (
            score_perplexity, train_unigram_lm)
        from webcrawl_spark.operators.textstats import (
            with_c4_flags, with_gopher_flags)
        from webcrawl_spark.streaming import stream_curate

        texts = [
            "This is a perfectly fine sentence. " * 8,
            "short junk",
            "the cat sat on the mat. the dog sat on the log. " * 4,
            "",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
        src = str(tmp_path / "curate_src")
        df.write.mode("overwrite").parquet(src)

        lm = train_unigram_lm(df)
        batch_ppl = {r["doc_id"]: r["ppl_nano"]
                     for r in score_perplexity(df, lm).collect()}
        batch_flags = {r["doc_id"]: r for r in
                       with_gopher_flags(with_c4_flags(df)).collect()}

        stream = spark.readStream.schema(df.schema).parquet(src)
        out = stream_curate(stream, lm=lm)
        assert out.isStreaming
        _run_stream_to_memory(out, "curate_stream")
        got = {r["doc_id"]: r for r in
               spark.sql("select * from curate_stream").collect()}

        assert len(got) == len(texts)
        for i in got:
            assert got[i]["c4_pass"] == batch_flags[i]["c4_pass"]
            assert got[i]["gopher_pass"] == batch_flags[i]["gopher_pass"]
            b, s = batch_ppl[i], got[i]["ppl_nano"]
            if b is None:
                assert s is None
            else:
                assert abs(s - b) <= 1, (i, s, b)

    def test_max_vocab_warns_only_when_truncated(self, spark):
        """A vocabulary of exactly max_vocab tokens loses nothing and stays
        silent; one more distinct token than the cap warns."""
        import warnings

        from webcrawl_spark.streaming import stream_curate

        docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
        lm = spark.createDataFrame([("a", 3), ("b", 2), ("c", 1)],
                                   "token string, cnt long")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            stream_curate(docs, lm=lm, max_vocab=3)
        assert not [w for w in caught if "max_vocab" in str(w.message)]
        with pytest.warns(UserWarning, match="exceeds max_vocab"):
            stream_curate(docs, lm=lm, max_vocab=2)

    def test_without_lm_flags_only(self, spark, tmp_path):
        from webcrawl_spark.streaming import stream_curate

        df = spark.createDataFrame(
            [(1, "A good sentence here today.")], "doc_id int, text string")
        src = str(tmp_path / "curate_src2")
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        out = stream_curate(stream)
        assert "ppl_nano" not in out.columns and "c4_pass" in out.columns
