"""Hierarchical time rollups — the continuous-aggregate / hypertable-rollup
pattern for the samples store.

The reference serves downsampled reads by re-aggregating raw rows on every
query (``toStartOfInterval`` + ``max``, reference ``read.go:54,57``).  At
100 TB that re-scan is the dominant cost: a dashboard asking for 1-hour
buckets over a year still reads every raw sample.  The standard TSDB answer
(TimescaleDB continuous aggregates, ClickHouse materialized rollup tables,
Prometheus recording rules) is to precompute coarser resolutions and serve
each query from the coarsest table that can answer it exactly.

Because the read path's only aggregate is ``max`` (A1/A2), rollups are
**exact**, not approximate: ``max`` over n-second buckets recomposes to
``max`` over any multiple of n, so a query whose downsample interval is a
multiple of a built rollup's interval returns bit-identical results while
scanning ``interval_ratio``× less data.  Queries that don't match any
rollup (raw reads, non-divisible intervals) fall through to the base store
unchanged.

Each resolution is a :class:`SamplesStore` over ``<path>/res=<n>``: parquet
partitioned by ``ts_date`` (time pruning works identically), rows
``(ts, metric_name, labels, value)`` where ``ts`` is the bucket start and
``value`` the bucket max — so every existing read-plan operator runs on a
rollup unmodified.  A (re)build is that store's one rewrite rule
(:meth:`SamplesStore.rewrite`): the rolled rows are appended, then exactly
the files listed before the append are deleted.  Readers during a rebuild
see the old and the new rows of the resolution together, and the read
path's ``max`` takes the larger per bucket; a crash between the two steps
leaves both until the next build of that resolution removes the old ones.
When the base only grew between builds, that is the new value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.model import PARTITION_COLUMN
from remote_tsdb_clickhouse_spark.plans.read_plan import (
    ReadQuery,
    downsample_interval_seconds,
    read_query_grouped,
)
from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore


class RollupStore:
    """Manages rollup resolutions beside a base :class:`SamplesStore`."""

    def __init__(self, spark: SparkSession, base: SamplesStore, path: str):
        self.spark = spark
        self.base = base
        self.path = path

    def _store(self, interval_s: int) -> SamplesStore:
        return SamplesStore(self.spark, f"{self.path}/res={int(interval_s)}")

    def build(self, interval_s: int, source_interval_s: int | None = None) -> None:
        """(Re)build one resolution.

        ``source_interval_s`` lets coarse resolutions build from a finer
        rollup instead of raw data (1h from 1min reads 60x less) — exact,
        since max composes.
        """
        if interval_s <= 1:
            raise ValueError("rollup interval must exceed 1 second")
        if source_interval_s is not None and interval_s % source_interval_s != 0:
            raise ValueError("coarse interval must be a multiple of the source's")
        src = (
            self.read(source_interval_s)
            if source_interval_s is not None
            else self.base.read(with_partition_col=False)
        )
        epoch = F.col("ts").cast("long")
        bucket = F.timestamp_seconds(epoch - epoch % interval_s)
        rolled = src.groupBy(
            "metric_name",
            F.array_sort("labels").alias("labels"),
            bucket.alias("ts"),
        ).agg(F.max("value").alias("value"))
        self._store(interval_s).rewrite(lambda _old: rolled)

    def resolutions(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        out = []
        for name in os.listdir(self.path):
            if name.startswith("res="):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def read(self, interval_s: int) -> DataFrame:
        return self._store(interval_s).read()

    # -- query routing -------------------------------------------------------

    def route(self, q: ReadQuery, *, ignore_hints: bool = False) -> tuple[DataFrame, int | None]:
        """Pick the coarsest resolution that answers ``q`` exactly.

        Resolution condition: the query is downsampling with interval d and
        ``r`` divides d (bucket boundaries of r nest inside d's) — then
        max-of-rollup == max-of-raw for every *fully covered* rollup bucket.

        Bounds handling: rollup rows carry bucket-start timestamps covering
        ``[b, b+r)``, so a query start inside a bucket would drop that
        bucket's in-range samples (its row is filtered out by ``ts >=
        start``) and an end inside a bucket would include out-of-range ones
        (the row at ``b <= end`` aggregates past the end).  Prometheus
        bounds are arbitrary, so instead of falling back to a full raw scan
        the served frame is a **union**: the aligned interior
        ``[ceil(start, r), floor(end+1, r))`` from the rollup, plus the two
        partial edge buckets (< r seconds each, partition-pruned raw scans)
        from the base table.  At 100 TB this keeps a year-long dashboard
        query on the rollup even when "now" is mid-bucket — the raw edges
        are O(r) data, not O(range).

        Exactness of the union: the raw edges cover ``[start, istart)`` and
        ``[iend, end]``, the rollup interior covers ``[istart, iend)`` —
        disjoint regions whose union is exactly the query range, so the
        downstream bucket-and-max over the combined rows equals the same
        aggregate over raw rows (max composes; a d-bucket straddling an
        edge/interior boundary takes max over its raw part and its nested
        rollup buckets, which is the raw max of the whole d-bucket).
        """
        d = downsample_interval_seconds(q.hints, ignore_hints=ignore_hints)
        if d is None:
            return self.base.read(), None
        fits = [r for r in self.resolutions() if d % r == 0 and r <= d]
        if not fits:
            return self.base.read(), None
        r = max(fits)
        start_s = q.start_ms // 1000
        end_s = q.end_ms // 1000 if q.end_ms > 0 else None
        istart = -(-start_s // r) * r  # first fully-covered bucket start
        iend = ((end_s + 1) // r) * r if end_s is not None else None  # exclusive
        if iend is not None and iend <= istart:
            return self.base.read(), None  # no fully covered bucket: raw only
        tsl = F.col("ts").cast("long")

        def _edge(lo_s: int, hi_s: int, hi_inclusive: bool) -> DataFrame:
            # explicit date bounds so the raw edge scan prunes partitions
            import datetime as _dt

            lo_d = _dt.datetime.fromtimestamp(lo_s, _dt.timezone.utc).date()
            hi_d = _dt.datetime.fromtimestamp(hi_s, _dt.timezone.utc).date()
            upper = tsl <= hi_s if hi_inclusive else tsl < hi_s
            return self.base.read().where(
                (tsl >= lo_s)
                & upper
                & F.col(PARTITION_COLUMN).between(F.lit(lo_d), F.lit(hi_d))
            )

        served = self.read(r).where(tsl >= istart)
        if iend is not None:
            served = served.where(tsl < iend)
        if istart > start_s:
            served = served.unionByName(_edge(start_s, istart, hi_inclusive=False))
        if iend is not None and iend <= end_s:
            served = served.unionByName(_edge(iend, end_s, hi_inclusive=True))
        return served, r

    def read_query_grouped(self, q: ReadQuery, **kwargs) -> DataFrame:
        """Drop-in for :func:`read_plan.read_query_grouped`, rollup-routed."""
        samples, _res = self.route(q, ignore_hints=kwargs.get("ignore_hints", False))
        return read_query_grouped(samples, q, **kwargs)
