"""The Spark read leg: prompb requests -> engine plans -> prompb responses.

The Spark re-expression of the reference's per-query loop
(``read.go:15-101``): each ``prompb.Query`` becomes one DataFrame plan
(filters + optional downsample bucket + grouped max + declarative series
assembly), and the collected per-series rows are re-expanded into
``prompb.TimeSeries`` — labels split at the first ``=`` with ``__name__``
prepended (``read.go:84-89``, P3) and timestamps re-expanded to ms
(``read.go:92``).

The server does not run this leg: a ``/read`` on the parquet store is
served without Spark by ``SamplesStore.read_request``, whose answer
:func:`handle_read_request` over ``SamplesStore.read()`` defines (it is
that path's test oracle).  :func:`series_labels` and
:func:`row_to_timeseries` build the response series of every leg.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from remote_tsdb_clickhouse_spark import prompb
from remote_tsdb_clickhouse_spark.model import DEFAULT_READ_IGNORE_LABEL, NAME_LABEL
from remote_tsdb_clickhouse_spark.plans.read_plan import read_query_df


def series_labels(metric_name: str, slb) -> list[prompb.Label]:
    """P3 re-expansion of one series key (``read.go:84-89``): ``__name__``
    first, then every stored ``name=value`` string split at its FIRST '='.
    Shared by the Spark leg and the ClickHouse pushdown leg."""
    labels = [prompb.Label(NAME_LABEL, metric_name)]
    for joined in slb:
        name, _, value = joined.partition("=")  # first '=' is structural
        labels.append(prompb.Label(name, value))
    return labels


def row_to_timeseries(metric_name: str, slb, ts_ms, values) -> prompb.TimeSeries:
    """One assembled series -> prompb.TimeSeries: the P3 labels, and one
    sample per (``ts_ms``, ``values``) pair, ms timestamps ascending."""
    return prompb.TimeSeries(
        labels=series_labels(metric_name, slb),
        samples=list(map(prompb.Sample, values, ts_ms)),
    )


def table_to_timeseries(table: pa.Table) -> list[prompb.TimeSeries]:
    """The collected ``read_query_df`` rows -> TimeSeries, ordered by
    ``(metric_name, slb)`` like the reference's ``ORDER BY``.

    The ``samples`` list column is flattened once: its timestamps
    (``timestamp[us]``, UTC) become ms with one numpy division, and each
    series takes its slice by the list offsets.
    """
    names = table.column("metric_name").to_pylist()
    slbs = table.column("slb").to_pylist()
    samples = table.column("samples").combine_chunks()
    offsets = samples.offsets.to_numpy()
    offsets = (offsets - offsets[0]).tolist()
    t, v = samples.flatten().flatten()
    ts_ms = (t.cast(pa.int64()).to_numpy() // 1000).tolist()
    values = v.to_numpy(zero_copy_only=False).tolist()
    order = sorted(range(len(names)), key=lambda i: (names[i], slbs[i]))
    return [
        row_to_timeseries(
            names[i], slbs[i], ts_ms[offsets[i] : offsets[i + 1]], values[offsets[i] : offsets[i + 1]]
        )
        for i in order
    ]


def handle_read_request(
    samples: DataFrame,
    req: prompb.ReadRequest,
    *,
    ignore_label: str | None = DEFAULT_READ_IGNORE_LABEL,
    ignore_hints: bool = False,
) -> prompb.ReadResponse:
    """Run every query in the request against the samples DataFrame.

    The collect is bounded by the remote-read response contract (the
    reference also materializes the full response before snappy-encoding
    it); hint-driven downsampling is the response-size control.
    """
    resp = prompb.ReadResponse()
    for q in req.queries:
        result = prompb.QueryResult()
        df = read_query_df(samples, q, ignore_label=ignore_label, ignore_hints=ignore_hints)
        # One bounded pull, in one job, of the whole response: the
        # contract materializes every series driver-side anyway (the
        # reference holds the same, capped at 32 MiB wire bytes).  It is
        # an Arrow pull — columnar batches, no per-row Row objects — and
        # there is no orderBy: a Spark sort would add a range exchange and
        # a sampling job just to order the series rows.  The driver sorts
        # them instead (table_to_timeseries), which is exact — prompb
        # decodes strings as strict UTF-8, and on valid UTF-8 Python's
        # code-point str order (and its element-wise, shorter-first list
        # order) equals the byte order Spark and ClickHouse sort by — and
        # bounded by the series count, not the sample count.
        result.timeseries = table_to_timeseries(df.toArrow())
        resp.results.append(result)
    return resp
