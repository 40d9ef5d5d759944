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
- **Serving reads without Spark**: :meth:`SamplesStore.read_request`
  answers a remote-read request from the published files of the queried
  days with pyarrow alone — the reference's one-scan-per-query read
  (``read.go:15-101``), with matching done per distinct value the way its
  ``LowCardinality`` columns and ``set(0)`` labelset index do.  Spark's
  read plan (:meth:`read`, ``plans.read_plan``) keeps every other reader.
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

from remote_tsdb_clickhouse_spark import prompb
from remote_tsdb_clickhouse_spark.model import (
    DEFAULT_READ_IGNORE_LABEL,
    PARTITION_COLUMN,
    PARTITIONED_SAMPLES_SCHEMA,
    SAMPLES_FIELDS,
)
from remote_tsdb_clickhouse_spark.plans.matchers import ArrowMatchers
from remote_tsdb_clickhouse_spark.plans.read_plan import (
    ReadQuery,
    downsample_interval_seconds,
    trunc_ms_to_s,
)
from remote_tsdb_clickhouse_spark.server.service import row_to_timeseries


def local_store_path(path: str) -> str | None:
    """The local filesystem path of a store given as a path or a ``file:``
    URI; None for any other scheme (``s3a://``, ``hdfs://``, ...)."""
    url = urlparse(path)
    if url.scheme == "file":
        return unquote(url.path)
    return path if url.scheme == "" else None


_I64 = np.iinfo(np.int64)
_US_PER_DAY = 86_400_000_000

#: Listings of one ``/read`` query's partitions while rewrites keep deleting
#: files it listed (:meth:`SamplesStore._open_files`).
_LISTINGS = 10


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class SamplesStore:
    """The samples table at ``path`` (see the module docstring).

    ``spark`` may be ``None``: a ``/write`` (:meth:`append` of a
    ``pyarrow.Table``) and a ``/read`` (:meth:`read_request`) never use it.
    A DataFrame :meth:`append`, :meth:`read`, :meth:`rewrite` and the
    maintenance built on it, :meth:`import_tsv` and :meth:`export_tsv` need
    it.
    """

    def __init__(self, spark: SparkSession | None, path: str):
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

    def read_request(
        self,
        req: prompb.ReadRequest,
        *,
        ignore_label: str | None = DEFAULT_READ_IGNORE_LABEL,
        ignore_hints: bool = False,
    ) -> prompb.ReadResponse:
        """Serve a remote-read request from the published files, without
        Spark: the answer of ``service.handle_read_request(self.read(),
        req)``, the Spark plan that stays this path's test oracle.

        Each query streams the files of the date partitions its bounds
        span (:meth:`_open_files`) one record batch at a time, with the
        name and label columns dictionary-decoded.  Within a batch a series
        is a run of rows with the same dictionary indices; the matchers are
        evaluated once per distinct metric name and once per new distinct
        series, keyed by its ``array_sort``-ed labels (:class:`ArrowMatchers`,
        RE2).  The ``ts`` bounds compare in microseconds, as Spark compares
        ``ts``.
        """
        resp = prompb.ReadResponse()
        for q in req.queries:
            matchers = ArrowMatchers(q.matchers, ignore_label=ignore_label)
            interval_s = downsample_interval_seconds(q.hints, ignore_hints=ignore_hints)
            resp.results.append(prompb.QueryResult(_assemble(*self._scan(q, matchers), interval_s)))
        return resp

    def _open_files(self, first_day: int, last_day: int):
        """Yield each published parquet file of the date partitions from
        ``first_day`` to ``last_day`` (days since the epoch), open.

        A listed file that is gone when it is opened was deleted by a
        :meth:`rewrite`, which publishes its new file before it deletes the
        files it read: the partitions are listed again and the files not yet
        yielded follow.  A row may then be read twice, which ``max``
        collapses; none is missed.
        """
        root = local_store_path(self.path)
        seen: set[str] = set()
        for _ in range(_LISTINGS):
            vanished = False
            for path in _list_files(root, first_day, last_day):
                if path in seen:
                    continue
                seen.add(path)
                try:
                    pf = pq.ParquetFile(
                        path,
                        read_dictionary=["metric_name", "labels.list.element"],
                        coerce_int96_timestamp_unit="us",
                    )
                except FileNotFoundError:
                    vanished = True
                    continue
                with pf:
                    yield pf
            if not vanished:
                return
        raise RuntimeError(f"files of {self.path!r} were still being replaced after {_LISTINGS} listings")

    def _scan(
        self, q: ReadQuery, matchers: ArrowMatchers
    ) -> tuple[list[tuple[str, tuple[str, ...]]], np.ndarray, np.ndarray, np.ndarray]:
        """One query's matching rows: the matched series keys ``(name,
        sorted labels)``, and per row its index into them, ``ts`` in
        microseconds and the value."""
        lo = max(trunc_ms_to_s(q.start_ms) * 1_000_000, _I64.min)
        hi = min(trunc_ms_to_s(q.end_ms) * 1_000_000, _I64.max) if q.end_ms > 0 else _I64.max
        ids: dict[tuple[str, tuple[str, ...]], int] = {}  # -1: no match
        series: list[tuple[str, tuple[str, ...]]] = []
        out: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
        for pf in self._open_files(lo // _US_PER_DAY, hi // _US_PER_DAY):
            for batch in pf.iter_batches(batch_size=8192, use_threads=False):
                t = batch.column("ts").cast(pa.int64()).to_numpy()
                names = batch.column("metric_name")
                name_idx = names.indices.to_numpy()
                name_ok = matchers.name_mask(names.dictionary)[name_idx]
                rows = np.flatnonzero((t >= lo) & (t <= hi) & name_ok)
                if not len(rows):
                    continue
                name_idx = name_idx[rows]
                labels = batch.column("labels").take(rows)
                off = labels.offsets.to_numpy()
                elem = labels.values.indices.to_numpy()
                starts = _series_runs(name_idx, off, elem)
                name_dict = names.dictionary.to_pylist()
                label_dict = labels.values.dictionary.to_pylist()
                elem, off = elem.tolist(), off.tolist()
                keys = [
                    (name_dict[n], tuple(sorted([label_dict[e] for e in elem[off[r] : off[r + 1]]])))
                    for r, n in zip(starts.tolist(), name_idx[starts].tolist())
                ]
                new = list(dict.fromkeys(k for k in keys if k not in ids))
                if new:
                    ok = matchers.labels_mask(pa.array([k[1] for k in new], pa.list_(pa.string())))
                    for k, matched in zip(new, ok.tolist()):
                        ids[k] = len(series) if matched else -1
                        if matched:
                            series.append(k)
                sid = np.repeat([ids[k] for k in keys], np.diff(np.append(starts, len(rows))))
                hit = sid >= 0
                value = batch.column("value").to_numpy()
                out.append((sid[hit], t[rows][hit], value[rows][hit]))
        if not out:
            return series, *(np.empty(0, dtype) for dtype in (np.int64, np.int64, np.float64))
        sid, ts, values = (np.concatenate(cols) for cols in zip(*out))
        return series, sid, ts, values

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


def _list_files(root: str, first_day: int, last_day: int) -> list[str]:
    """The parquet files under ``root`` in the date partitions from
    ``first_day`` to ``last_day``.  Names starting with ``.`` or ``_`` are
    skipped, as Spark's file index skips them; so is a partition directory
    removed meanwhile (only an empty one is removed)."""
    try:
        parts = [e for e in os.scandir(root) if e.name.startswith(f"{PARTITION_COLUMN}=")]
    except FileNotFoundError:  # nothing written yet
        return []
    files = []
    for part in parts:
        day = int(np.datetime64(part.name.partition("=")[2], "D").astype(np.int64))
        if first_day <= day <= last_day:
            with contextlib.suppress(FileNotFoundError):
                files += sorted(e.path for e in os.scandir(part.path) if e.name[0] not in "._")
    return files


def _series_runs(name_idx: np.ndarray, off: np.ndarray, elem: np.ndarray) -> np.ndarray:
    """First row of each run of rows with equal metric-name index and equal
    label index lists (``off``: the list offsets into ``elem``)."""
    lens = np.diff(off)
    new = np.ones(len(name_idx), dtype=bool)
    new[1:] = (name_idx[1:] != name_idx[:-1]) | (lens[1:] != lens[:-1])
    # a row as long as the one before it: compare its labels element-wise
    k = np.flatnonzero(np.repeat(~new, lens))
    row = np.repeat(np.arange(len(name_idx)), lens)[k]
    pos = off[0] + k
    new[row[elem[pos] != elem[pos - lens[row]]]] = True
    return np.flatnonzero(new)


def _assemble(
    series: list[tuple[str, tuple[str, ...]]],
    sid: np.ndarray,
    ts: np.ndarray,
    values: np.ndarray,
    interval_s: int | None,
) -> list[prompb.TimeSeries]:
    """The grouped max per (series, ``t``), as ``prompb.TimeSeries`` in
    ``(name, sorted labels)`` order with samples time-ascending.

    ``t`` is ``ts`` at raw resolution, else its bucket start, computed as
    Spark's ``bucket_time`` does: whole seconds floored, minus their
    remainder (which keeps the dividend's sign).  The max is taken as
    Spark's ``max`` takes it: NaN above every number, and of equal values
    (two NaNs, ``0.0`` and ``-0.0``) the first scanned.  It is the last row
    of each group sorted by value, then by descending scan position; taking
    a row keeps a NaN's bits (the staleness marker), where a ufunc
    reduction would quiet it.
    """
    if not len(sid):
        return []
    if interval_s is not None:
        secs = ts // 1_000_000
        ts = (secs - np.fmod(secs, interval_s)) * 1_000_000
    by_rank = sorted(range(len(series)), key=series.__getitem__)
    rank = np.empty(len(series), dtype=np.int64)
    rank[by_rank] = np.arange(len(series))
    rank = rank[sid]
    order = np.lexsort((-np.arange(len(values)), values, ts, rank))
    rank, ts, values = rank[order], ts[order], values[order]
    last = np.ones(len(rank), dtype=bool)
    last[:-1] = (rank[1:] != rank[:-1]) | (ts[1:] != ts[:-1])
    rank, ts_ms, values = rank[last], (ts[last] // 1000).tolist(), values[last].tolist()
    bounds = [0, *(np.flatnonzero(np.diff(rank)) + 1).tolist(), len(rank)]
    return [
        row_to_timeseries(*series[by_rank[rank[a]]], ts_ms[a:b], values[a:b])
        for a, b in zip(bounds, bounds[1:])
    ]
