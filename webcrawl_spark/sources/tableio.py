"""TableIO — the Iceberg seam (SURVEY.md §7 risk 5).

The north rule names Iceberg for the frontier/checkpoint tables. The sandbox
has no Iceberg runtime jars, so this module provides the same contract —
atomic round commits, snapshot reads, exact mid-round resume — over
partitioned Parquet plus a JSON manifest:

- every round's appends go to ``<table>/round=<N>/`` directories;
- ``<root>/_checkpoint.json`` records the last *committed* round and is
  replaced atomically (tmp + rename) only after all tables' round files are
  fully written;
- readers project only rounds ≤ committed, so a crash mid-round leaves a
  clean prefix and the round re-runs idempotently (deterministic jobs).

On a real cluster, swap TableIO for Iceberg catalog tables: ``append`` →
``writeTo(...).append()`` in one transaction per table, ``commit_round`` →
the Iceberg snapshot commit, ``committed_round`` → snapshot metadata. Job
logic above this seam is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

__all__ = ["TableIO", "round_entries"]


def round_entries(tdir: str, after: float = -1,
                  upto: float = float("inf")) -> list[tuple[int, str]]:
    """(round, path) of a table directory's ``round=N`` entries (dirs, or
    ``round=N.json`` files) with after < N <= upto, in round order."""
    found = []
    if os.path.isdir(tdir):
        for entry in os.listdir(tdir):
            if entry.startswith("round="):
                rnd = int(entry.split("=", 1)[1].split(".")[0])
                if after < rnd <= upto:
                    found.append((rnd, os.path.join(tdir, entry)))
    return sorted(found)


class TableIO:
    kind = "parquet"

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- checkpoint protocol -------------------------------------------
    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.root, "_checkpoint.json")

    def committed_round(self) -> int:
        """Last committed round; -1 if fresh."""
        try:
            with open(self._ckpt_path) as f:
                return int(json.load(f)["round"])
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return -1

    def checkpoint_meta(self) -> dict:
        try:
            with open(self._ckpt_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {"round": -1}

    def commit_round(self, round_no: int, **meta) -> None:
        """Atomically advance the committed-round marker (the 'snapshot
        commit'). Everything written for this round becomes visible."""
        payload = {"round": round_no, **meta}
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_ckpt_tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._ckpt_path)

    def rollback_uncommitted(self, tables: list[str]) -> None:
        """Drop any round directories/files beyond the committed round
        (crash cleanup before re-running a round)."""
        committed = self.committed_round()
        for table in tables:
            for _, path in round_entries(self._table_dir(table), committed):
                if os.path.isdir(path):
                    shutil.rmtree(path)
                else:
                    os.remove(path)

    # --- driver-side JSON rows (metrics-scale data; no Spark job) --------
    def append_json(self, record: dict, table: str, round_no: int) -> None:
        tdir = self._table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"round={round_no}.json"), "w") as f:
            json.dump(record, f)

    def read_json(self, table: str, upto_round: int | None = None) -> list[dict]:
        out = []
        for _, path in self._rounds(table, upto_round=upto_round):
            if path.endswith(".json"):
                with open(path) as f:
                    out.append(json.load(f))
        return out

    # --- table ops ------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _rounds(self, table: str, after_round: int = -1,
                upto_round: int | None = None) -> list[tuple[int, str]]:
        """round_entries bounded to the committed round by default."""
        limit = self.committed_round() if upto_round is None else upto_round
        return round_entries(self._table_dir(table), after_round, limit)

    def exists(self, table: str) -> bool:
        return bool(round_entries(self._table_dir(table)))

    def append(self, df: DataFrame, table: str, round_no: int,
               partition_by: list[str] | None = None) -> None:
        """Append this round's rows. Overwrite-idempotent: re-running the
        same round replaces its directory."""
        path = os.path.join(self._table_dir(table), f"round={round_no}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    def append_local(self, pdf, table: str, round_no: int,
                     partition_by: list[str] | None = None,
                     schema: str | None = None) -> None:
        """Driver-resident rows (a pandas DataFrame) → parquet files
        written directly with pyarrow — no Spark job, no dynamic-partition
        committer. The driver round-tail executor collects its rows to
        the driver anyway; pushing them back through a partitioned Spark
        write costs ~1-3 s of committer overhead per round vs ~10 ms here.
        Same layout and overwrite-idempotence as append(); partition
        columns become hive directories and are dropped from the files,
        exactly as Spark writes them. Like append(), this write alone is
        NOT crash-atomic — atomic visibility comes from commit_round():
        readers bound scans to the committed round, and a re-run replaces
        a torn round directory wholesale. Partition keys must be integer-typed
        (no hive path escaping is performed — Spark URL-escapes string
        partition values, this writer does not). ``schema`` is the Spark
        DDL used by backends that must round-trip through a DataFrame
        (Iceberg); the pyarrow path types from the pandas dtypes."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self._table_dir(table), f"round={round_no}")
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)
        if len(pdf) == 0:
            return
        if partition_by:
            for c in partition_by:
                assert pdf[c].dtype.kind in "iu", \
                    f"append_local partition column {c!r} must be integer"
            for key, grp in pdf.groupby(partition_by, sort=True):
                key = key if isinstance(key, tuple) else (key,)
                sub = os.path.join(
                    path, *[f"{c}={v}" for c, v in zip(partition_by, key)])
                os.makedirs(sub, exist_ok=True)
                pq.write_table(
                    pa.Table.from_pandas(grp.drop(columns=partition_by),
                                         preserve_index=False),
                    os.path.join(sub, "part-00000.parquet"))
        else:
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           os.path.join(path, "part-00000.parquet"))

    def read_local(self, table: str, round_no: int,
                   columns: list[str] | None = None):
        """One round's rows as a pandas DataFrame, read on the driver with
        pyarrow — the read twin of append_local (no Spark job). Hive
        partition directories restore their columns as integers; a round
        directory without data files reads as an empty frame."""
        import pandas as pd
        import pyarrow.dataset as ds

        path = os.path.join(self._table_dir(table), f"round={round_no}")
        if not os.path.isdir(path):
            raise FileNotFoundError(f"no data for {table} round={round_no}")
        data = ds.dataset(path, format="parquet", partitioning="hive")
        if not data.files:
            return pd.DataFrame(columns=columns)
        return data.to_table(columns=columns).to_pandas()

    def bucket_files(self, table: str, upto_round: int | None = None):
        """(cache key, host_bucket → committed data files) for per-bucket
        reads outside Spark (the bucket-local seen check). The file map is
        None here: readers glob the table's ``round=N/host_bucket=B``
        directories themselves, bounded to committed rounds."""
        return self._table_dir(table), None

    def read_round(self, table: str, round_no: int) -> DataFrame:
        """Read exactly one round's files (partition discovery restores any
        partitionBy columns)."""
        path = os.path.join(self._table_dir(table), f"round={round_no}")
        if not os.path.isdir(path):
            raise FileNotFoundError(f"no data for {table} round={round_no}")
        return self.spark.read.parquet(path)

    def latest_round(self, table: str, upto_round: int | None = None) -> int | None:
        """Greatest committed round this table has data for (None if none)."""
        rounds = self._rounds(table, upto_round=upto_round)
        return rounds[-1][0] if rounds else None

    def read_rounds(self, table: str, after_round: int,
                    upto_round: int | None = None) -> DataFrame | None:
        """Incremental read: only rounds in (after_round, committed] — the
        TableIO stand-in for an Iceberg incremental snapshot-range scan.
        Listing and scan cost are O(rounds since after_round), independent of
        total table history. None if no round in range has data."""
        def has_parquet(path: str) -> bool:
            # a round with zero rows leaves a dir with no part files
            # (partitioned writes emit nothing) — unreadable, skip it
            return any(
                f.endswith(".parquet")
                for _, _, files in os.walk(path) for f in files
            )

        paths = [p for _, p in self._rounds(table, after_round, upto_round)
                 if has_parquet(p)]
        if not paths:
            return None
        return self.spark.read.option("basePath", self._table_dir(table)) \
            .parquet(*paths)

    def read(self, table: str, upto_round: int | None = None) -> DataFrame:
        """Snapshot read: only committed rounds (or ≤ upto_round)."""
        paths = [p for _, p in self._rounds(table, upto_round=upto_round)]
        if not paths:
            raise FileNotFoundError(f"no committed data for table {table}")
        return self.spark.read.option("basePath", self._table_dir(table)) \
            .parquet(*paths)
