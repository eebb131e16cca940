"""IcebergTableIO — the real-Iceberg binding of the TableIO contract.

The north rule names Iceberg for the frontier/checkpoint tables. TableIO
(tableio.py) provides the contract over partitioned Parquet + a JSON
manifest; this module provides the SAME contract over genuine Iceberg
catalog tables, so the crawl engine runs unchanged on either backend
(``make_tableio`` picks one via SPARK_GRAFT_TABLE_BACKEND).

Mapping (1:1 with the parquet stand-in — each TableIO verb to the Iceberg
feature the stand-in emulates):

  append(df, t, N)            → ``writeTo(cat.ns.t).overwritePartitions()``
                                 after injecting ``round=N`` — one Iceberg
                                 snapshot per append; re-running a crashed
                                 round replaces its partitions (the
                                 parquet backend's overwrite-idempotent
                                 round directory)
  commit_round(N, **meta)     → single-row append to the ``_checkpoint``
                                 table — an atomic Iceberg commit that
                                 makes round N visible to every reader
                                 (the parquet backend's atomic JSON rename)
  committed_round()           → max(round) of ``_checkpoint``
  rollback_uncommitted(ts)    → ``DELETE FROM t WHERE round > committed``
                                 (crash cleanup; ≙ deleting uncommitted
                                 round dirs)
  read(t)                     → ``SELECT * WHERE round <= committed``
                                 (snapshot read)
  read_round(t, N)            → ``WHERE round = N`` (injected round column
                                 dropped — parity with the parquet reader,
                                 which only restores ``round`` when reading
                                 above the round directory)
  read_rounds(t, a, b)        → ``WHERE a < round <= b`` — Iceberg's
                                 incremental snapshot-range scan; partition
                                 pruning on ``round`` makes it O(rounds in
                                 range)
  bucket_files(t)             → the ``t.files`` metadata table → committed
                                 parquet file paths per host_bucket, for
                                 the bucket-local seen-check
                                 (≙ the storage-partitioned-join scan;
                                 replaces the parquet backend's task-side
                                 directory glob, which would see orphaned
                                 uncommitted files under Iceberg)

Tables are partitioned by (round [, host_bucket]) so round-ranged reads
and per-round overwrites prune/replace exactly one round's partitions.

Availability: the sandbox ships no iceberg-spark-runtime jar and has no
network, so ``iceberg_available()`` is False here and tests gate on it
(tests/test_iceberg.py documents the skip). The 1:1 claim is gated by
running the SAME test_frontier/test_politeness parity suites with
SPARK_GRAFT_TABLE_BACKEND=iceberg on a cluster with the runtime jar +
a catalog configured, e.g.::

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.webcrawl=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.webcrawl.type=hadoop \
      --conf spark.sql.catalog.webcrawl.warehouse=<warehouse-uri> ...
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["IcebergTableIO", "iceberg_available", "make_tableio"]

CATALOG_ENV = "SPARK_GRAFT_ICEBERG_CATALOG"
BACKEND_ENV = "SPARK_GRAFT_TABLE_BACKEND"


def iceberg_available(spark: SparkSession,
                      catalog: str | None = None) -> bool:
    """True iff an Iceberg SparkCatalog is configured AND its classes load
    (jar on the classpath)."""
    catalog = catalog or os.environ.get(CATALOG_ENV, "webcrawl")
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    except Exception:
        impl = None
    if not impl:
        return False
    try:
        spark._jvm.java.lang.Class.forName(impl)  # jar actually present?
        return True
    except Exception:
        return False


def make_tableio(spark: SparkSession, root: str, backend: str | None = None):
    """Backend factory: 'parquet' (default) or 'iceberg' via the
    SPARK_GRAFT_TABLE_BACKEND env/arg. Falls back to parquet (with a
    warning) when iceberg is requested but no catalog/jar is available."""
    from .tableio import TableIO

    backend = (backend or os.environ.get(BACKEND_ENV, "parquet")).lower()
    if backend == "iceberg":
        if iceberg_available(spark):
            return IcebergTableIO(spark, root)
        import warnings
        warnings.warn(
            "SPARK_GRAFT_TABLE_BACKEND=iceberg but no Iceberg catalog/jar "
            "is available in this session — falling back to the parquet "
            "TableIO stand-in (see iceberg_io.py header for the required "
            "spark-submit confs)", stacklevel=2)
    return TableIO(spark, root)


def _ident(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9_]+", name):
        raise ValueError(f"unsafe identifier: {name!r}")
    return name


class IcebergTableIO:
    """TableIO contract over Iceberg catalog tables (one namespace per
    workdir — the workdir path is the crawl's identity, as with the
    parquet layout)."""

    kind = "iceberg"

    def __init__(self, spark: SparkSession, root: str,
                 catalog: str | None = None) -> None:
        self.spark = spark
        self.root = root
        self.catalog = _ident(catalog
                              or os.environ.get(CATALOG_ENV, "webcrawl"))
        digest = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:12]
        self.ns = f"{self.catalog}.wc_{digest}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")

    def _qt(self, table: str) -> str:
        return f"{self.ns}.{_ident(table)}"

    def _exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._qt(table))

    # --- checkpoint protocol -------------------------------------------
    def _ensure_checkpoint(self) -> None:
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._qt('_checkpoint')} "
            f"(round INT, meta STRING) USING iceberg")

    def committed_round(self) -> int:
        if not self._exists("_checkpoint"):
            return -1
        row = self.spark.sql(
            f"SELECT max(round) AS r FROM {self._qt('_checkpoint')}"
        ).first()
        return -1 if row is None or row["r"] is None else int(row["r"])

    def checkpoint_meta(self) -> dict:
        if not self._exists("_checkpoint"):
            return {"round": -1}
        row = self.spark.sql(
            f"SELECT round, meta FROM {self._qt('_checkpoint')} "
            f"ORDER BY round DESC LIMIT 1").first()
        if row is None:
            return {"round": -1}
        meta = json.loads(row["meta"])
        meta["round"] = int(row["round"])
        return meta

    def commit_round(self, round_no: int, **meta) -> None:
        """The atomic round commit: ONE single-row Iceberg append. Data
        written for this round becomes visible to the round-bounded
        readers exactly when this snapshot commits."""
        self._ensure_checkpoint()
        self.spark.createDataFrame(
            [(int(round_no), json.dumps(meta))], "round int, meta string",
        ).writeTo(self._qt("_checkpoint")).append()

    def rollback_uncommitted(self, tables: list[str]) -> None:
        committed = self.committed_round()
        for table in tables:
            if self._exists(table):
                self.spark.sql(
                    f"DELETE FROM {self._qt(table)} "
                    f"WHERE round > {int(committed)}")
            jt = f"{table}__json"
            if self._exists(jt):
                self.spark.sql(
                    f"DELETE FROM {self._qt(jt)} "
                    f"WHERE round > {int(committed)}")

    # --- driver-side JSON rows (metrics-scale) ---------------------------
    def append_json(self, record: dict, table: str, round_no: int) -> None:
        jt = f"{_ident(table)}__json"
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._qt(jt)} "
            f"(round INT, payload STRING) USING iceberg")
        self.spark.createDataFrame(
            [(int(round_no), json.dumps(record))],
            "round int, payload string",
        ).writeTo(self._qt(jt)).append()

    def read_json(self, table: str, upto_round: int | None = None) -> list[dict]:
        limit = self.committed_round() if upto_round is None else upto_round
        jt = f"{_ident(table)}__json"
        if not self._exists(jt):
            return []
        rows = self.spark.sql(
            f"SELECT payload FROM {self._qt(jt)} "
            f"WHERE round <= {int(limit)} ORDER BY round").collect()
        return [json.loads(r["payload"]) for r in rows]

    # --- table ops ------------------------------------------------------
    def exists(self, table: str) -> bool:
        return self._exists(table) and \
            self.spark.table(self._qt(table)).limit(1).count() > 0

    def append_local(self, pdf, table: str, round_no: int,
                     partition_by: list[str] | None = None,
                     schema: str | None = None) -> None:
        """Driver-resident rows: Iceberg commits must go through the
        catalog (snapshot + manifest), so this delegates to append() —
        the pyarrow fast path is a parquet-backend optimization only.
        ``schema`` is REQUIRED for empty frames (a 0-row pandas frame has
        no inferable Spark schema)."""
        df = (self.spark.createDataFrame(pdf, schema) if schema
              else self.spark.createDataFrame(pdf))
        self.append(df, table, round_no, partition_by=partition_by)

    def read_local(self, table: str, round_no: int,
                   columns: list[str] | None = None):
        """One round's rows as a pandas DataFrame. Iceberg reads go
        through the catalog (committed snapshot files only), so this is
        read_round + toPandas — the pyarrow path is a parquet-backend
        optimization, as in append_local."""
        df = self.read_round(table, round_no)
        return (df.select(*columns) if columns else df).toPandas()

    def append(self, df: DataFrame, table: str, round_no: int,
               partition_by: list[str] | None = None) -> None:
        """Append this round's rows; idempotent per round (dynamic
        partition overwrite replaces a crashed round's partitions)."""
        injected = "round" not in df.columns
        if injected:
            df = df.withColumn("round", F.lit(int(round_no)).cast("int"))
        qt = self._qt(table)
        if not self._exists(table):
            part_cols = ["round"] + [_ident(c)
                                     for c in (partition_by or [])
                                     if c != "round"]
            (df.writeTo(qt)
             .partitionedBy(*[F.col(c) for c in part_cols])
             .tableProperty("wc.round_injected", str(injected).lower())
             .createOrReplace())
            return
        df.writeTo(qt).overwritePartitions()

    def _round_injected(self, table: str) -> bool:
        props = self.spark.sql(
            f"SHOW TBLPROPERTIES {self._qt(table)}").collect()
        return any(r["key"] == "wc.round_injected" and r["value"] == "true"
                   for r in props)

    def read(self, table: str, upto_round: int | None = None) -> DataFrame:
        limit = self.committed_round() if upto_round is None else upto_round
        if not self._exists(table):
            raise FileNotFoundError(f"no committed data for table {table}")
        df = self.spark.table(self._qt(table)) \
            .filter(F.col("round") <= int(limit))
        if df.limit(1).count() == 0:
            raise FileNotFoundError(f"no committed data for table {table}")
        return df

    def read_round(self, table: str, round_no: int) -> DataFrame:
        if not self._exists(table):
            raise FileNotFoundError(f"no data for {table} round={round_no}")
        df = self.spark.table(self._qt(table)) \
            .filter(F.col("round") == int(round_no))
        if df.limit(1).count() == 0:
            raise FileNotFoundError(f"no data for {table} round={round_no}")
        return df.drop("round") if self._round_injected(table) else df

    def latest_round(self, table: str,
                     upto_round: int | None = None) -> int | None:
        limit = self.committed_round() if upto_round is None else upto_round
        if not self._exists(table):
            return None
        row = self.spark.table(self._qt(table)) \
            .filter(F.col("round") <= int(limit)) \
            .agg(F.max("round").alias("r")).first()
        return None if row is None or row["r"] is None else int(row["r"])

    def read_rounds(self, table: str, after_round: int,
                    upto_round: int | None = None) -> DataFrame | None:
        """Incremental read (after_round, committed] — Iceberg's
        snapshot-range scan; the round partition predicate prunes to the
        rounds in range."""
        limit = self.committed_round() if upto_round is None else upto_round
        if not self._exists(table):
            return None
        df = self.spark.table(self._qt(table)).filter(
            (F.col("round") > int(after_round))
            & (F.col("round") <= int(limit)))
        if df.limit(1).count() == 0:
            return None
        return df

    # --- per-bucket file access (bucket-local seen-check) ----------------
    def bucket_files(self, table: str, upto_round: int | None = None):
        """(cache key, host_bucket → committed data-file paths), the paths
        from the table's ``.files`` metadata table (never the directory
        listing — Iceberg dirs can hold orphaned uncommitted files). One
        driver-side metadata query per round; the seen-check readers
        (probe tasks or the driver) read their bucket's paths with
        pyarrow, nothing shuffles."""
        key = f"{self.root}#{table}"
        limit = self.committed_round() if upto_round is None else upto_round
        if not self._exists(table):
            return key, {}
        rows = self.spark.sql(
            f"SELECT partition, file_path FROM {self._qt(table)}.files"
        ).collect()
        out: dict[int, list[str]] = {}
        for r in rows:
            part = r["partition"].asDict()
            if part.get("round") is not None and part["round"] > limit:
                continue
            b = part.get("host_bucket")
            if b is None:
                continue
            out.setdefault(int(b), []).append(r["file_path"])
        return key, out
