"""Structured Streaming skin over the batch engine (SURVEY.md §2.6).

The reference has no streaming operators (request-scoped service); the
engine's crawl loop is batch-iterative by design (Iceberg-style round
commits = exactly-resumable state, which streaming state stores don't give
us). What Structured Streaming adds here is the *ingest-facing* surface a
production crawl needs:

- ``stream_scrape``: continuous extraction over a stream of fetched pages
  (readStream of the pages table / a Kafka-shaped source) — the same
  per-format Arrow UDF columns as operators/scrape.py, applied to a
  streaming DataFrame. Stateless → identical semantics to batch.
- ``stream_fetch_metrics``: watermarked tumbling-window rollup of fetch
  events (per-host counts/bytes per window) with late-data tolerance — the
  streaming twin of the batch ``round_metrics`` table.

Both run with the file/rate/memory sources available in tests; on a cluster
the source becomes Kafka/Kinesis with identical code.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernels.scrape import ScrapeOptions
from .operators.scrape import scrape

__all__ = ["stream_scrape", "stream_fetch_metrics", "stream_host_sessions",
           "stream_exact_dedup", "stream_warc", "stream_curate"]


def stream_warc(spark, path: str, chunk_bytes: int = 64 << 20) -> DataFrame:
    """Continuous WARC ingestion: a landing directory of .warc.gz files
    (the shape a Common Crawl mirror or a fetch fleet produces) becomes a
    streaming pages DataFrame — new files are parsed as they arrive.

    Same scale contract as the batch reader (sources/warc.py read_warc):
    the binaryFile streaming source is pruned to ``path`` only (the
    file's content column is never selected, so whole-file bytes never
    reach a task), and each file streams through the incremental parser
    in bounded chunks. Compose with stream_scrape / stream_exact_dedup
    downstream; trigger(availableNow=True) drains a static snapshot."""
    from .sources.warc import WARC_SCHEMA, make_warc_parser

    files = (spark.readStream.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .schema("path string, modificationTime timestamp, "
                     "length long, content binary")
             .load(path)
             .select("path"))
    return files.mapInPandas(make_warc_parser(chunk_bytes), WARC_SCHEMA)


def stream_scrape(pages_stream: DataFrame,
                  options: ScrapeOptions = ScrapeOptions()) -> DataFrame:
    """Extraction over a streaming pages DataFrame. The scrape operator is
    stateless column logic, so it applies to streaming plans unchanged."""
    return scrape(pages_stream, options)


def stream_host_sessions(
    fetch_events: DataFrame,
    gap_seconds: float = 60.0,
    ts_col: str = "fetched_at",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-host
    fetch *sessions* — bursts of fetches separated by ≥ gap_seconds emit a
    session row (host, start, end, n_fetches, n_ok). This is the
    crawl-monitoring shape the watermarked rollup can't express (sessions
    have data-dependent extents), demonstrating the engine's custom
    stateful-operator path."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    output_schema = T.StructType([
        T.StructField("host", T.StringType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_fetches", T.LongType()),
        T.StructField("n_ok", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_ts", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("n_fetches", T.LongType()),
        T.StructField("n_ok", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        host = key[0]
        sessions = []
        if state.hasTimedOut:
            start_ts, last_ts, n, n_ok = state.get
            sessions.append((host, pd.Timestamp(start_ts, unit="s"),
                             pd.Timestamp(last_ts, unit="s"), n, n_ok))
            state.remove()
        else:
            rows = pd.concat(list(pdfs))
            rows = rows.sort_values(ts_col)
            ts = rows[ts_col].astype("int64").to_numpy() / 1e9
            ok = (rows["status"] == 200).to_numpy()
            if state.exists:
                start_ts, last_ts, n, n_ok = state.get
            else:
                start_ts, last_ts, n, n_ok = float(ts[0]), float(ts[0]), 0, 0
            for i in range(len(ts)):
                if ts[i] - last_ts > gap_seconds and n > 0:
                    sessions.append((host, pd.Timestamp(start_ts, unit="s"),
                                     pd.Timestamp(last_ts, unit="s"), n, n_ok))
                    start_ts, n, n_ok = float(ts[i]), 0, 0
                last_ts = float(ts[i])
                n += 1
                n_ok += int(ok[i])
            state.update((start_ts, last_ts, int(n), int(n_ok)))
            state.setTimeoutDuration(int(gap_seconds * 1000))
        yield pd.DataFrame(sessions, columns=[f.name for f in output_schema])

    return (
        fetch_events.withWatermark(ts_col, watermark)
        .groupBy("host")
        .applyInPandasWithState(
            update, output_schema, state_schema, "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_exact_dedup(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ingested_at",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of operators.dedup.exact_dedup: keep the first
    arrival per normalized-text fingerprint, with the dedup state bounded
    by the watermark (dropDuplicatesWithinWatermark) so it doesn't grow
    without limit on an unbounded ingest — the trade a streaming dedup
    must make vs the batch pass's exact global answer."""
    from .operators.textstats import fingerprint

    return (
        docs_stream
        .withColumn("_fp", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def stream_curate(
    docs_stream: DataFrame,
    lm: DataFrame | None = None,
    add_k: float = 1.0,
    max_vocab: int = 1 << 20,
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of the batch curation gates: C4 + Gopher rule flags
    (pure Column — identical semantics to batch) plus, when a
    batch-trained unigram ``lm`` DataFrame is supplied, per-doc
    perplexity against it.

    The batch scorer's explode -> join -> per-doc groupBy shape would be
    a streaming AGGREGATION (state + watermark + append-mode latency);
    on a stream the right shape is stateless: the LM's top ``max_vocab``
    rows are collected once at plan-build time and broadcast into an
    Arrow-batched pandas UDF that scores each document in one pass —
    same add-k event space (V known types + one OOV type) as
    operators.lm.score_perplexity, so batch and stream agree on the
    1e-9 grid (parity-tested). Parity PRECONDITION: the LM's vocabulary
    must fit ``max_vocab`` — the denominator keeps the full-table N and V,
    so tokens truncated past the cutoff would score as OOV (count 0) and
    diverge from the batch scorer; a warning is logged when the full
    distinct-token count exceeds the cap. Downstream: filter on
    ``c4_pass & gopher_pass`` and a ppl_nano cutoff from the batch
    percentile pass."""
    import math

    from pyspark.sql.types import LongType

    from .operators.textstats import c4_quality_flags, gopher_quality_flags

    out = docs_stream
    for name, col in c4_quality_flags(F.col(text_col)).items():
        out = out.withColumn(name, col)
    for name, col in gopher_quality_flags(F.col(text_col)).items():
        out = out.withColumn(name, col)
    if lm is None:
        return out

    rows = (lm.orderBy(F.desc("cnt"), F.asc("token"))
            .limit(max_vocab).collect())
    counts = {r["token"]: int(r["cnt"]) for r in rows}
    totals = lm.agg(F.sum("cnt"), F.count("*")).first()
    n_total, vocab = int(totals[0] or 0), int(totals[1] or 0)
    if vocab > max_vocab:
        import warnings

        warnings.warn(
            "stream_curate: LM vocabulary exceeds max_vocab — truncated "
            "tokens will score as OOV and batch/stream ppl parity no longer "
            "holds", stacklevel=2)
    ln_denom = math.log(n_total + add_k * (vocab + 1))

    import re

    word_re = re.compile(r"[^\w]+", re.ASCII)

    @F.pandas_udf(LongType())
    def ppl_nano(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        def score(t):
            words = [w for w in word_re.split((t or "").lower()) if w]
            if not words:
                return None
            s = sum(math.log(counts.get(w, 0) + add_k) - ln_denom
                    for w in words)
            return round(math.exp(-s / len(words)) * 1e9)
        for s in batches:
            yield s.map(score).astype("object")

    return out.withColumn("ppl_nano", ppl_nano(F.col(text_col)))


def stream_fetch_metrics(
    fetch_events: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    ts_col: str = "fetched_at",
) -> DataFrame:
    """Watermarked per-host tumbling-window fetch metrics.

    fetch_events: streaming df with (url, host, status, n_bytes, fetched_at).
    Late rows beyond the watermark are dropped (at-least-once rollups feed
    the monitoring table, not the exactly-resumable round state)."""
    return (
        fetch_events
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("host"))
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
            .alias("n_ok"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host", "n_fetches", "n_ok", "total_bytes",
        )
    )
