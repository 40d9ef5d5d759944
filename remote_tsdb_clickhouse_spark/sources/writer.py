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
``SAMPLES_SCHEMA`` column order, with the series columns ``take``-n out to
their samples.  ``createDataFrame`` ships that table to the JVM as an Arrow
stream, so no Python worker unpickles and re-pickles the rows, and
:class:`TimeseriesWriter` appends it as one task: one parquet file per date
partition per request, committed atomically.  The ingest *volume* path is
Structured Streaming over many requests (``streaming/ingest.py``), where
the same row shape arrives via staged batches.
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
    ``"name=value"`` list, per the reference semantics.  Raises
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
    series_of_sample = np.repeat(np.arange(len(names)), counts)
    types = _ARROW_SCHEMA.types
    return pa.Table.from_arrays(
        [
            pa.array(secs * 1_000_000, types[0]),
            pa.array(names, types[1]).take(series_of_sample),
            pa.array(labelsets, types[2]).take(series_of_sample),
            pa.array(np.array(values, dtype=np.float64), types[3]),
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
        if not table.num_rows:
            return 0
        # one task writes the request: one file per date partition
        df = self.store.spark.createDataFrame(table, SAMPLES_SCHEMA).coalesce(1)
        self.store.append(df)
        return table.num_rows
