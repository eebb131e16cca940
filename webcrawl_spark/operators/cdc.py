"""Content-defined chunking (CDC) dedup: byte-level duplicate detection.

The primitive behind storage/transfer dedup of crawl archives (WARC
stores, page snapshots): split every payload at positions where a rolling
window's hash satisfies a divisor condition, hash the chunks, and measure
how many of a document's bytes live in chunks shared with other
documents. Because boundaries depend only on LOCAL content (the window
ending at the position), an insertion or deletion only re-chunks its own
neighborhood — unlike fixed-size blocks, where one shifted byte breaks
every later block. That shift-resilience is the whole point of CDC
(Muthitacharoen et al., LBFS, SOSP'01; FastCDC, ATC'16).

This implementation uses the pure position-independent form: a boundary
after position p iff hash(payload[p-W+1 .. p]) % divisor == 0 (no
min/max chunk clamps — those reintroduce sequential dependence between
boundaries). Two window-hash configurations, the minhash md5/FNV
pattern: ``hash_kind="md5"`` is the oracle form (any engine recomputes
it verbatim — the q_cdc config), ``hash_kind="gear"`` is the vectorized
scale path (a numpy sliding sum of shifted gear-table lookups, ~3
orders of magnitude faster than the per-byte md5 loop — see
_boundaries_gear).

Scale shape: chunking is one Arrow-batched pass over the payload column
(payloads never shuffle); everything downstream moves only (id, 16-byte
chunk hash, length) rows — one shuffle on chunk hash for the duplicate
counts, one hash join back. Skew-safe: a boilerplate chunk shared by
millions of docs is a single aggregation row, never a pair explosion.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["cdc_chunks", "duplicate_bytes_fraction"]

CDC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("chunk_idx", T.IntegerType()),
    T.StructField("chunk_len", T.IntegerType()),
    T.StructField("chunk_md5", T.StringType()),
])


def _boundaries(data: bytes, window: int, divisor: int) -> list[int]:
    """Positions p (0-based, inclusive chunk ends) where the window ending
    at p hashes to 0 mod divisor. Position-independent by construction."""
    out = []
    for p in range(window - 1, len(data)):
        h = int(hashlib.md5(data[p - window + 1:p + 1]).hexdigest()[:8], 16)
        if h % divisor == 0:
            out.append(p)
    return out


_GEAR_TABLE = None


def _gear_table():
    """256-entry random uint64 gear table (Xia et al., FastCDC, ATC'16),
    seed-derived so every worker and any re-run draws the same table."""
    global _GEAR_TABLE
    if _GEAR_TABLE is None:
        import numpy as np

        rng = np.random.RandomState(2016)
        # explicit dtype: the default int is 32-bit on some platforms,
        # where a 1 << 32 bound would raise
        hi = rng.randint(0, 1 << 32, size=256, dtype=np.uint32) \
            .astype(np.uint64)
        lo = rng.randint(0, 1 << 32, size=256, dtype=np.uint32) \
            .astype(np.uint64)
        _GEAR_TABLE = (hi << np.uint64(32)) | lo
    return _GEAR_TABLE


def _sliding_window_hash(g, window: int, dt):
    """S_W[j] = Σ_{t<W} g[j+t] << (W-1-t) for every window start j, via
    binary doubling (S_{A+B}[j] = (S_A[j] << B) + S_B[j+A]): O(log W)
    memory-bandwidth passes instead of W. Arithmetic wraps in ``dt``."""
    import numpy as np

    with np.errstate(over="ignore"):
        needed = {1 << b for b in range(window.bit_length())
                  if window & (1 << b)}
        saved = {}
        S, m = g, 1
        if 1 in needed:
            saved[1] = S
        while m * 2 <= window:
            S = (S[:len(S) - m] << dt(m)) + S[m:]
            m *= 2
            if m in needed:
                saved[m] = S
        acc, acc_len = None, 0
        for b in sorted(needed, reverse=True):
            if acc is None:
                acc, acc_len = saved[b], b
            else:
                ln = len(g) - (acc_len + b) + 1
                acc = (acc[:ln] << dt(b)) + saved[b][acc_len:acc_len + ln]
                acc_len += b
    return acc


def _boundaries_gear(data: bytes, window: int, divisor: int) -> list[int]:
    """Gear-hash twin of _boundaries — the SCALE path: the window hash is
    H(p) = Σ_{i<W} gear[data[p-i]] << i (mod 2^64), a sliding sum of
    shifted table lookups — O(log W) numpy vector passes over the payload
    (binary doubling) instead of one Python md5 per byte (~2-3 orders of
    magnitude faster; same position-independence, so the same
    shift-resilience). When the divisor divides 2^32 (the usual
    power-of-two mask) the sum runs in uint32 — H mod d depends only on
    the low bits, so boundaries are identical to the uint64 form at half
    the memory traffic. Boundary condition and chunking downstream are
    unchanged; only the window hash differs from the md5 config, exactly
    as the minhash operator pairs its md5 oracle config with the FNV
    scale config."""
    import numpy as np

    n = len(data)
    if n < window:
        return []
    pow2 = divisor > 0 and (divisor & (divisor - 1)) == 0
    narrow = pow2 and divisor <= (1 << 32) and window <= 16
    dt = np.uint32 if narrow else np.uint64
    table = _gear_table().astype(dt) if narrow else _gear_table()
    g = table[np.frombuffer(data, dtype=np.uint8)]
    h = _sliding_window_hash(g, window, dt)
    if pow2:
        mask = (h & dt(divisor - 1)) == 0
    else:
        mask = (h % dt(divisor)) == 0
    return (np.nonzero(mask)[0] + (window - 1)).tolist()


def chunk_payload(data: bytes, window: int = 8, divisor: int = 64,
                  hash_kind: str = "md5") -> list[tuple[int, int, str]]:
    """(chunk_idx, chunk_len, chunk_md5) for one payload. ``hash_kind``
    selects the boundary window hash: "md5" (oracle-recomputable, the
    q_cdc config) or "gear" (vectorized scale path, see
    _boundaries_gear); chunk hashes are md5 in both."""
    chunks = []
    start = 0
    bound_fn = _boundaries_gear if hash_kind == "gear" else _boundaries
    bounds = bound_fn(data, window, divisor)
    for idx, p in enumerate(bounds):
        chunks.append((idx, p + 1 - start,
                       hashlib.md5(data[start:p + 1]).hexdigest()))
        start = p + 1
    if start < len(data) or not data:
        chunks.append((len(bounds), len(data) - start,
                       hashlib.md5(data[start:]).hexdigest()))
    return chunks


def cdc_chunks(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id", window: int = 8,
               divisor: int = 64, batch_rows: int = 64,
               hash_kind: str = "md5") -> DataFrame:
    """Explode every payload into its content-defined chunks — one
    Arrow-batched mapInPandas pass; the payload bytes never shuffle.
    ``hash_kind="gear"`` swaps the per-byte md5 window scan for the
    vectorized gear hash (the 100-TB default; the md5 form stays the
    oracle configuration — chunk boundaries differ between the two, both
    are valid content-defined chunkings)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                for idx, ln, h in chunk_payload(raw, window, divisor,
                                                hash_kind):
                    rows.append((int(doc_id), idx, ln, h))
                if len(rows) >= batch_rows * 8:
                    yield pd.DataFrame(rows, columns=[
                        f.name for f in CDC_SCHEMA])
                    rows = []
            if rows:
                yield pd.DataFrame(rows, columns=[
                    f.name for f in CDC_SCHEMA])

    return df.select(id_col, payload_col).mapInPandas(run, CDC_SCHEMA)


def duplicate_bytes_fraction(chunks: DataFrame,
                             id_col: str = "doc_id") -> DataFrame:
    """Per-document byte-level dedup stats: how many of its bytes live in
    chunks that also appear in ANOTHER document. (id, n_chunks, n_bytes,
    dup_bytes, dup_frac_nano) — integers plus a 1e-9-grid ratio, so the
    result is engine-exact. One aggregation on chunk hash (distinct-doc
    counts), one broadcast-or-hash join back, one per-doc aggregation."""
    owners = chunks.groupBy("chunk_md5").agg(
        F.count_distinct(id_col).alias("n_docs"))
    return (
        chunks.join(owners, "chunk_md5")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum("chunk_len").cast("long").alias("n_bytes"),
            F.sum(F.when(F.col("n_docs") > 1, F.col("chunk_len"))
                  .otherwise(F.lit(0))).cast("long").alias("dup_bytes"),
        )
        .select(
            id_col, "n_chunks", "n_bytes", "dup_bytes",
            F.when(F.col("n_bytes") > 0,
                   F.round(F.col("dup_bytes") * F.lit(1e9)
                           / F.col("n_bytes"), 0))
            .otherwise(F.lit(0)).cast("long").alias("dup_frac_nano"),
        )
    )
