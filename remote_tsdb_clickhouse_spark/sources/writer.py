"""WriteRequest -> canonical samples rows (SURVEY §2.1 S5).

The reference's flatten+insert writer (``write.go:11-63``): per TimeSeries,
split ``__name__`` out (``write.go:39-42``), join remaining labels to
``"name=value"`` strings preserving remote-write sorted order
(``write.go:37-44``), then one row per Sample with the ms timestamp
truncated to DateTime seconds (``write.go:49``); one atomic batch per
request (``write.go:14-22,60``).

Here the flatten runs driver-side over the decoded request (requests are
bounded — 32 MiB wire cap — so this is not a scale risk).  One pass over
the series collects the per-series name and labelset and the per-sample
timestamps and values; the result is one ``pyarrow.Table`` in
``SAMPLES_SCHEMA`` column order, already in the store's row order
``(ts_date, metric_name, labels, ts)``: the series keys are sorted once,
and one ``np.lexsort`` over (day, series rank, second) orders the samples.
That order is the one Spark's sort would give, because prompb decodes
strict UTF-8, on which Python's code-point string order (and its
element-wise list order) equals Spark's byte order.

:class:`TimeseriesWriter` hands that table to :meth:`SamplesStore.append`,
which commits it without Spark: one parquet file per date partition,
published by an atomic rename before the 200.  The ingest *volume* path
is Structured Streaming over many requests (``streaming/ingest.py``),
which appends DataFrames through Spark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from remote_tsdb_clickhouse_spark import prompb
from remote_tsdb_clickhouse_spark.model import NAME_LABEL, SAMPLES_SCHEMA
from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

#: Seconds of 0001-01-01T00:00:00Z and 9999-12-31T23:59:59Z: the span of a
#: Python ``datetime`` and of Spark's TIMESTAMP.  A sample outside it is
#: rejected, not wrapped by the int64 microsecond arithmetic below.
_MIN_TS_S = -62_135_596_800
_MAX_TS_S = 253_402_300_799

#: ``SAMPLES_SCHEMA`` in Arrow: ``ts`` is ``timestamp[us, UTC]``.
_ARROW_SCHEMA = to_arrow_schema(SAMPLES_SCHEMA)


def write_request_rows(req: prompb.WriteRequest) -> pa.Table:
    """Flatten a WriteRequest into one canonical-schema Arrow table.

    One row per sample: ``ts`` is the ms timestamp floored to whole UTC
    seconds, ``__name__`` becomes ``metric_name`` and the other labels the
    ``"name=value"`` list, per the reference semantics.  Rows come in
    store order ``(ts_date, metric_name, labels, ts)``.  Raises
    ``ValueError`` if a timestamp falls outside years 1-9999.
    """
    names: list[str] = []
    labelsets: list[list[str]] = []
    counts: list[int] = []
    ts_ms: list[int] = []
    values: list[float] = []
    for ts_msg in req.timeseries:
        name = ""
        labels: list[str] = []
        for lb in ts_msg.labels:
            if lb.name == NAME_LABEL:
                name = lb.value
                continue
            labels.append(f"{lb.name}={lb.value}")
        names.append(name)
        labelsets.append(labels)
        counts.append(len(ts_msg.samples))
        for s in ts_msg.samples:
            ts_ms.append(s.timestamp)
            values.append(s.value)
    # ms -> whole seconds (DateTime parity, write.go:49), floored like
    # Python's // so pre-1970 samples land in the second they fall in
    secs = np.array(ts_ms, dtype=np.int64) // 1000
    if len(secs) and not (_MIN_TS_S <= secs.min() and secs.max() <= _MAX_TS_S):
        raise ValueError(f"sample timestamp outside years 1-9999: {secs.min()}s..{secs.max()}s")
    # store order: rank the distinct series keys once, then sort the
    # samples by (day, series rank, second); lexsort is stable, so equal
    # keys keep their request order
    series_keys = list(zip(names, map(tuple, labelsets)))
    rank_of = {k: r for r, k in enumerate(sorted(set(series_keys)))}
    series_rank = np.array([rank_of[k] for k in series_keys], dtype=np.int64)
    series_of_sample = np.repeat(np.arange(len(names)), counts)
    order = np.lexsort((secs, series_rank[series_of_sample], secs // 86_400))
    series_of_sample = series_of_sample[order]
    types = _ARROW_SCHEMA.types
    return pa.Table.from_arrays(
        [
            pa.array(secs[order] * 1_000_000, types[0]),
            pa.array(names, types[1]).take(series_of_sample),
            pa.array(labelsets, types[2]).take(series_of_sample),
            pa.array(np.array(values, dtype=np.float64)[order], types[3]),
        ],
        schema=_ARROW_SCHEMA,
    )


def write_request_df(spark: SparkSession, req: prompb.WriteRequest) -> DataFrame:
    return spark.createDataFrame(write_request_rows(req), SAMPLES_SCHEMA)


class TimeseriesWriter:
    """S5 writer bound to a store; returns the written-sample count (the
    reference's ``samples_written_total`` increment, A3)."""

    def __init__(self, store: SamplesStore):
        self.store = store

    def write(self, req: prompb.WriteRequest) -> int:
        table = write_request_rows(req)
        if table.num_rows:
            self.store.append(table)
        return table.num_rows
