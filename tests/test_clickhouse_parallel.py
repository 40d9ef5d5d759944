"""Partition-parallel ClickHouse scan + backend-transport error routing.

``ClickHouseStore.read_parallel`` is the S6 analog for the external-storage
leg: the table's time span is range-split and each split is fetched
EXECUTOR-side through the injectable transport (reference counterpart: the
scan is ClickHouse-internal, ``read.go:57``; this is the raw-frame analog).
The fake transport here records wall-clock intervals per range fetch so the
test can assert the fetches actually overlapped (ran concurrently), not just
that the union is correct.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pytest

from remote_tsdb_clickhouse_spark.sources.clickhouse import ClickHouseStore

BASE_EPOCH = 1704067200  # 2024-01-01 UTC
N_ROWS = 40


def _rows():
    return [
        {
            "es": BASE_EPOCH + i * 60,
            "metric_name": f"m{i % 3}",
            "labels": [f"k={i % 5}", f"user={i}"],
            "value": float(i) / 4.0,
        }
        for i in range(N_ROWS)
    ]


def make_transport(record_dir: str, sleep_s: float = 0.0, span_rows=None):
    """Fake ClickHouse HTTP endpoint as a SELF-CONTAINED closure (cloudpickle
    ships it by value — a test-module class would need the tests dir on the
    executor import path).  Serves the metadata query and range-split scans;
    each range fetch appends a (lo, hi, t0, t1) record file under
    ``record_dir`` (local-mode executors share the driver filesystem)."""
    rows = _rows()
    span = span_rows if span_rows is not None else rows

    def transport(url, payload=None, headers=None):
        import json as _json
        import os as _os
        import re as _re
        import time as _time
        import uuid as _uuid
        from urllib.parse import parse_qs as _pq
        from urllib.parse import unquote as _uq
        from urllib.parse import urlparse as _up

        sql = _uq(_pq(_up(url).query)["query"][0])
        if "min(updated_at)" in sql:
            es = [r["es"] for r in span]
            return (
                _json.dumps({"mn": min(es), "mx": max(es), "n": len(es)}) + "\n"
            ).encode()
        m = _re.search(
            r"toDateTime\((\d+)\)\s+AND updated_at < toDateTime\((\d+)\)", sql
        )
        assert m, f"unexpected SQL: {sql}"
        lo, hi = int(m.group(1)), int(m.group(2))
        t0 = _time.monotonic()
        if sleep_s:
            _time.sleep(sleep_s)
        body = "\n".join(
            _json.dumps(r) for r in rows if lo <= r["es"] < hi
        ).encode()
        rec = _os.path.join(record_dir, _uuid.uuid4().hex)
        with open(rec, "w") as f:
            _json.dump({"lo": lo, "hi": hi, "t0": t0, "t1": _time.monotonic()}, f)
        return body

    return transport


def _expected_tuples():
    out = []
    for r in _rows():
        ts = datetime.fromtimestamp(r["es"], tz=timezone.utc).replace(tzinfo=None)
        out.append((ts, r["metric_name"], tuple(r["labels"]), r["value"]))
    return sorted(out)


def test_read_parallel_matches_and_overlaps(spark, tmp_path):
    rec = tmp_path / "recs"
    rec.mkdir()
    store = ClickHouseStore(
        spark, table="metrics.samples", http=make_transport(str(rec), sleep_s=0.4)
    )
    df = store.read_parallel(num_splits=4)
    got = sorted(
        (r["ts"], r["metric_name"], tuple(r["labels"]), r["value"])
        for r in df.collect()
    )
    assert got == _expected_tuples()

    recs = [json.load(open(rec / f)) for f in os.listdir(rec)]
    assert len(recs) == 4  # one fetch per split, none on the driver
    # disjoint half-open ranges covering the span
    spans = sorted((r["lo"], r["hi"]) for r in recs)
    for (_, h1), (l2, _) in zip(spans, spans[1:]):
        assert h1 == l2
    assert spans[0][0] == BASE_EPOCH
    assert spans[-1][1] > BASE_EPOCH + (N_ROWS - 1) * 60
    # >1 concurrent fetch: some pair of fetch intervals overlaps in time
    iv = sorted((r["t0"], r["t1"]) for r in recs)
    assert any(a_end > b_start for (_, a_end), (b_start, _) in zip(iv, iv[1:])), (
        f"no overlapping fetch intervals: {iv}"
    )


def test_read_parallel_empty_table(spark):
    def empty_http(url, payload=None, headers=None):
        return (json.dumps({"mn": None, "mx": None, "n": 0}) + "\n").encode()

    store = ClickHouseStore(spark, table="metrics.samples", http=empty_http)
    df = store.read_parallel(num_splits=4)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["ts", "metric_name", "labels", "value"]


def test_read_parallel_more_splits_than_seconds(spark, tmp_path):
    """num_splits is clamped to the span width; a 1-second table is one
    split, not num_splits empty fetches."""
    rec = tmp_path / "recs"
    rec.mkdir()
    one_sec = [r for r in _rows() if r["es"] == BASE_EPOCH]
    store = ClickHouseStore(
        spark,
        table="metrics.samples",
        http=make_transport(str(rec), span_rows=one_sec),
    )
    df = store.read_parallel(num_splits=16)
    assert df.count() == len(one_sec)
    assert len(os.listdir(rec)) == 1


def test_backend_transport_error_is_storage_error(spark):
    """ADVICE r3: a ConnectionError raised by the BACKEND transport must not
    ride the client-disconnect 499 branch — it is a storage failure: 500 +
    read_errors_total, like the reference's storage-error path
    (main.go:147-152 else-branch)."""
    from remote_tsdb_clickhouse_spark import codec, prompb
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery
    from remote_tsdb_clickhouse_spark.server.http import AdapterApp

    def dead_http(url, payload=None, headers=None):
        raise ConnectionResetError("clickhouse hung up mid-response")

    store = ClickHouseStore(spark, table="metrics.samples", http=dead_http)

    class NoWriter:
        def write(self, req):  # pragma: no cover - not exercised
            raise AssertionError("unused")

    app = AdapterApp(NoWriter(), read_request_handler=store.read_request)
    rr = prompb.ReadRequest(
        queries=[
            ReadQuery(
                start_ms=0,
                matchers=(LabelMatcher(MatcherType.EQ, "__name__", "x"),),
            )
        ]
    )
    status, body = app.handle_read(codec.encode_read_request(rr))
    assert status == 500
    assert b"transport error" in body
    assert app.metrics.read_errors_total.value == 1

    # the write path converts too: storage errors there are RuntimeError
    wreq = prompb.WriteRequest(
        timeseries=[
            prompb.TimeSeries(
                labels=[prompb.Label("__name__", "m")],
                samples=[prompb.Sample(1.0, 1704067200000)],
            )
        ]
    )
    with pytest.raises(RuntimeError, match="transport error"):
        store.write(wreq)
