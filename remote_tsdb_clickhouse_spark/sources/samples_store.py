"""Parquet-backed canonical samples table (SURVEY §2.1 S5-S8).

The reference's storage is one ClickHouse MergeTree table ordered by
``(metric_name, labels, updated_at)`` and partitioned implicitly by time
(reference ``README.md:17-27``).  The Spark-native equivalent:

- **Parquet, partitioned by** ``ts_date=date(ts)`` — partition pruning
  serves the time-range predicates F1/F2 exactly where MergeTree's primary
  key prunes granules by time.
- **Sorted within files by** ``(metric_name, labels, ts)`` via
  ``sortWithinPartitions`` at write — parquet row-group min/max statistics
  on ``metric_name`` then prune like the MergeTree primary-key prefix, and
  series rows are physically adjacent (cheap grouping).  Every Spark write
  goes through the DataFrame :meth:`SamplesStore.append`, whose sort keys
  lead with ``ts_date``: a ``partitionBy`` write needs its rows ordered by the
  partition column, and Spark's planned write
  (``spark.sql.optimizer.plannedWrite.enabled``) otherwise adds its own
  sort on ``ts_date`` alone, which replaces the series sort and leaves the
  files unsorted.  With ``ts_date`` first the requirement is already met,
  no sort is added, and since ``ts_date`` is constant within a file the
  file order is ``(metric_name, labels, ts)``.
- **Append-atomicity**: a request's rows (one ``pyarrow.Table``, already
  in store order) commit without Spark, the analog of the reference's
  per-request transaction (``write.go:14-22,60``).  Each date partition is
  written by ``pq.write_table`` to a dot-prefixed temp name, which Spark's
  file index ignores, and fsynced; only when every temp file is written
  are they renamed (``os.replace``) to ``part-00000-<request uuid>`` names,
  and their directories and the store root fsynced.  Readers see each file whole or not at
  all (a multi-day request's files appear one rename apart), and the 200
  waits for the rows to be durable; a failure unlinks what the commit
  wrote.  This needs a local POSIX filesystem
  (:func:`local_store_path`).  DataFrame appends (streaming micro-batches,
  TSV imports) keep Spark's committed-file protocol.
- **One rewrite rule**: every change other than an append — the range
  delete, compaction, a rollup rebuild — is a :meth:`SamplesStore.rewrite`:
  list the published files, read exactly those and *append* their
  rewritten rows, then delete exactly those files and any partition
  directory that leaves empty (non-recursively).  A file a ``/write`` or a
  streaming batch publishes meanwhile was never listed, so it is never
  deleted.  Readers see the old and the new rows together until the
  deletes finish, and a crash between the append and the deletes leaves
  both: rows are duplicated, never lost, and the read path's
  ``max(value)`` collapses the duplicates (the reference's at-least-once
  contract).  A ``/write`` into a partition whose emptied directory is
  removed under it fails (a 5xx the sender retries), never half-commits.
- **Range delete (S8)**: the reference uses ``ALTER TABLE ... DELETE WHERE
  updated_at > a AND updated_at <= b`` for day reimports
  (``README.md:163-167``); here the files of the date partitions the range
  touches are replaced by their rows outside it — the rest of the table
  is untouched, and a day with no rows left loses its directory.
- **Bulk import (S7)**: the reference pipes ``promtool tsdb dump`` TSV into
  ClickHouse (``README.md:144-161``); here ``import_tsv`` reads the same
  shape with ``spark.read.csv(sep='\\t')``.
- **Compaction**: per-request micro-batches create small files — ClickHouse
  "Too many parts" (``README.md:49-51``) has the exact Spark analog of the
  small-file problem; ``compact()`` replaces every file by its rows
  repartitioned by date: one sorted file per date partition.
"""

from __future__ import annotations

import contextlib
import os
import threading
import uuid
from collections.abc import Callable
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.model import (
    PARTITION_COLUMN,
    PARTITIONED_SAMPLES_SCHEMA,
    SAMPLES_FIELDS,
)


def local_store_path(path: str) -> str | None:
    """The local filesystem path of a store given as a path or a ``file:``
    URI; None for any other scheme (``s3a://``, ``hdfs://``, ...)."""
    url = urlparse(path)
    if url.scheme == "file":
        return unquote(url.path)
    return path if url.scheme == "" else None


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class SamplesStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # concurrent DataFrame appends to one parquet root race on Spark's
        # shared `_temporary` commit-staging dir (one job's cleanup deletes
        # the other's in-flight task files -> silently lost rows), so they
        # are serialized per store process.  Table commits stage nothing
        # shared (each writes its own temp names) and take no lock.
        self._append_lock = threading.Lock()

    # -- write path ---------------------------------------------------------

    def append(self, rows: DataFrame | pa.Table) -> None:
        """Append canonical-schema rows (one request / one micro-batch).

        A ``pyarrow.Table`` (one request, rows in store order) is committed
        by :meth:`_commit_table`: one file per date partition, no Spark job.
        A DataFrame is written by Spark: each task writes one file per date
        partition it holds, in the MergeTree-like physical order.
        """
        if isinstance(rows, pa.Table):
            self._commit_table(rows)
            return
        keys = (PARTITION_COLUMN, "metric_name", "labels", "ts")
        df = rows.select(*SAMPLES_FIELDS).withColumn(PARTITION_COLUMN, F.to_date("ts"))
        with self._append_lock:
            df.sortWithinPartitions(*keys).write.partitionBy(PARTITION_COLUMN).parquet(
                self.path, "append"
            )

    def _commit_table(self, table: pa.Table) -> None:
        """Write each date partition of ``table`` to a temp file, then
        publish them all by rename; on any exception, unlink every file
        this commit wrote and re-raise."""
        root = local_store_path(self.path)
        if root is None:
            raise ValueError(f"store {self.path!r} is not on a local filesystem")
        days = table.column("ts").cast(pa.int64()).to_numpy() // 86_400_000_000
        bounds = [0, *(np.flatnonzero(np.diff(days)) + 1).tolist(), len(days)]
        name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
        # the directories whose entries this commit may change.  The root
        # is synced on every commit, not only by the one that makes a
        # partition: a concurrent commit may have made it and not synced yet
        synced = {root}
        if not os.path.isdir(root):
            synced.add(os.path.dirname(os.path.abspath(root)))
        moves: list[tuple[str, str]] = []
        try:
            for lo, hi in zip(bounds, bounds[1:]):
                day = np.datetime64(int(days[lo]), "D")  # YYYY-MM-DD, like Spark's
                part_dir = os.path.join(root, f"{PARTITION_COLUMN}={day}")
                os.makedirs(part_dir, exist_ok=True)
                synced.add(part_dir)
                tmp = os.path.join(part_dir, f".{name}.tmp")
                moves.append((tmp, os.path.join(part_dir, name)))
                pq.write_table(table.slice(lo, hi - lo), tmp)
                _fsync(tmp)
            for tmp, final in moves:
                os.replace(tmp, final)
            for d in sorted(synced):
                _fsync(d)
        except BaseException:
            for p in (p for move in moves for p in move):
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(p)
            raise

    # -- read path ----------------------------------------------------------

    def read(self) -> DataFrame:
        """Scan the table.

        Keeps ``ts_date`` so the read plan can attach its
        partition-pruning predicate (``plans.read_plan
        .partition_pruning_filter``); metric_name/ts predicates additionally
        prune row groups via parquet stats (``PushedFilters`` in
        ``.explain``).
        """
        return self.spark.read.schema(PARTITIONED_SAMPLES_SCHEMA).parquet(self.path)

    # -- maintenance (S7/S8) ------------------------------------------------

    def rewrite(self, rewrite: Callable[[DataFrame], DataFrame], days: tuple | None = None) -> None:
        """Replace the published files — of the date partitions ``days =
        (first, last)`` spans, or all — by ``rewrite`` of their rows: the
        one rule of every change but an append (module docstring)."""
        try:
            files = self.read().inputFiles()
        except AnalysisException as e:  # no table yet: nothing to replace
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            files = []
        if days is not None:
            lo, hi = (f"{PARTITION_COLUMN}={d.isoformat()}" for d in days)
            files = [f for f in files if lo <= f.rsplit("/", 2)[-2] <= hi]
        old = (
            self.spark.read.schema(PARTITIONED_SAMPLES_SCHEMA)
            .option("basePath", self.path)
            .parquet(*files)
            if files
            else self.spark.createDataFrame([], PARTITIONED_SAMPLES_SCHEMA)
        )
        self.append(rewrite(old))
        jvm = self.spark._jvm
        Path, URI = jvm.org.apache.hadoop.fs.Path, jvm.java.net.URI
        fs = Path(self.path).getFileSystem(self.spark._jsc.hadoopConfiguration())
        for f in files:
            fs.delete(Path(URI(f)), False)
        for d in {f.rsplit("/", 1)[0] for f in files}:
            # non-recursive: a directory still holding a file (the rewrite's
            # own, or one a concurrent write published) stays.  Locally by
            # rmdir, which checks and removes in one step; Hadoop's local
            # delete checks first and then deletes recursively
            local = local_store_path(d)
            with contextlib.suppress(OSError, Py4JJavaError):
                if local is not None:
                    os.rmdir(local)
                else:
                    fs.delete(Path(URI(d)), False)

    def delete_time_range(self, start_exclusive, end_inclusive) -> None:
        """S8: delete rows with ``ts > start AND ts <= end``.

        A :meth:`rewrite` of the date partitions the range touches into
        their rows outside it; a partition with none left loses its
        directory — the day-reimport case (reference ``README.md:163-167``).
        """
        cond = (F.col("ts") > F.lit(start_exclusive)) & (F.col("ts") <= F.lit(end_inclusive))
        days = (
            self.spark.range(1)
            .select(F.to_date(F.lit(start_exclusive)), F.to_date(F.lit(end_inclusive)))
            .first()
        )
        self.rewrite(lambda rows: rows.where(~cond), tuple(days))

    def import_tsv(self, tsv_path: str) -> int:
        """S7: bulk import ``promtool tsdb dump``-shaped TSV:
        ``metric_name<TAB>labels(comma-joined k=v)<TAB>epoch_ms<TAB>value``.

        Day-parallel by construction: Spark splits the input files; the
        append partitions by date.  Returns imported row count.
        """
        raw = self.spark.read.csv(
            tsv_path,
            sep="\t",
            schema="metric_name STRING, labels_str STRING, ts_ms LONG, value DOUBLE",
        )
        df = raw.select(
            F.timestamp_seconds(F.col("ts_ms") / 1000).alias("ts"),
            "metric_name",
            F.array_sort(
                F.when(
                    F.coalesce(F.col("labels_str"), F.lit("")) == "",
                    F.array().cast("array<string>"),
                ).otherwise(F.split("labels_str", ","))
            ).alias("labels"),
            "value",
        ).withColumn("ts", F.date_trunc("second", "ts"))
        n = df.count()
        self.append(df)
        return n

    def export_tsv(self, out_path: str, start_ms: int = 0, end_ms: int = 0) -> int:
        """S7 inverse: dump the store (optionally a time slice) as the same
        promtool-shaped TSV that :meth:`import_tsv` consumes —
        ``metric_name<TAB>labels<TAB>epoch_ms<TAB>value`` — for
        engine-to-engine backfill (the reference moves days between stores
        with exactly this pipe shape, ``README.md:144-167``).

        Time bounds use the F1/F2 convention (``ms // 1000`` truncation,
        inclusive upper bound, 0 = open).  The write is executor-parallel
        (one file per partition); the round trip through ``import_tsv`` is
        value-exact: labels stay comma-joined in stored sorted order,
        timestamps are epoch ms of the second-truncated store value, and
        doubles print in shortest-round-trip form.  Returns exported rows.
        """
        df = self.read()
        if start_ms:
            df = df.where(F.col("ts") >= F.timestamp_seconds(F.lit(start_ms // 1000)))
        if end_ms:
            df = df.where(F.col("ts") <= F.timestamp_seconds(F.lit(end_ms // 1000)))
        from pyspark.sql import Observation

        out = df.select(
            "metric_name",
            F.array_join("labels", ",").alias("labels_str"),
            (F.col("ts").cast("long") * 1000).alias("ts_ms"),
            "value",
        )
        # observe the write itself (one scan): a separate count() would
        # re-execute the plan and could diverge from the written files if
        # the store is appended concurrently
        obs = Observation()
        out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").option(
            "sep", "\t"
        ).csv(out_path)
        return int(obs.get["n"])

    def compact(self) -> None:
        """Replace every file by its rows repartitioned by date, one file
        per date partition — the OPTIMIZE analog for the micro-batch
        small-file problem."""
        self.rewrite(lambda rows: rows.repartition(PARTITION_COLUMN))
