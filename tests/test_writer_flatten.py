"""Property test of the remote-write flatten (S5): random WriteRequests,
sent through the wire codec, must flatten to exactly the rows of a
pure-Python model of the reference semantics — one row per sample,
``__name__`` split out, the other labels as ``"name=value"`` in request
order, the ms timestamp floored to a whole UTC second — with values
compared by their IEEE bits and the same set of requests rejected.

The model is the per-sample ``datetime`` tuple flatten the Arrow table
replaced, so agreement means the table is a drop-in for it.
"""

from __future__ import annotations

import struct
from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from remote_tsdb_clickhouse_spark import codec, prompb
from remote_tsdb_clickhouse_spark.model import NAME_LABEL
from remote_tsdb_clickhouse_spark.sources.writer import write_request_rows

#: Prometheus's staleness marker: a NaN with a payload.
STALE_NAN = struct.unpack("<d", struct.pack("<Q", 0x7FF0000000000002))[0]

#: First and last ms whose second lies in years 1-9999.
MIN_MS = -62_135_596_800_000
MAX_MS = 253_402_300_799_999


def _bits(v: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", v))[0]


def tuple_model(req: prompb.WriteRequest) -> list[tuple]:
    """The reference flatten, one Python tuple per sample."""
    rows = []
    for ts_msg in req.timeseries:
        name = ""
        labels = []
        for lb in ts_msg.labels:
            if lb.name == NAME_LABEL:
                name = lb.value
                continue
            labels.append(f"{lb.name}={lb.value}")
        for s in ts_msg.samples:
            ts = datetime.fromtimestamp(s.timestamp // 1000, tz=timezone.utc).replace(tzinfo=None)
            rows.append((ts, name, labels, _bits(float(s.value))))
    return rows


def table_rows(req: prompb.WriteRequest) -> list[tuple]:
    return [
        (r["ts"].replace(tzinfo=None), r["metric_name"], r["labels"], _bits(r["value"]))
        for r in write_request_rows(req).to_pylist()
    ]


_text = st.text(alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]), max_size=12)
_label = st.builds(
    prompb.Label,
    name=st.one_of(st.sampled_from([NAME_LABEL, "job", "instance", "名前", "le"]), _text),
    value=st.one_of(st.sampled_from(["", "a=b", "10.0.0.1:9100", "ä€😀", "误差"]), _text),
)
_ms = st.one_of(
    st.integers(-5_000, 5_000),  # negative and sub-second around the epoch
    st.integers(0, 2**42),
    st.integers(MIN_MS - 2_000, MIN_MS + 2_000),  # the year-1 edge
    st.integers(MAX_MS - 2_000, MAX_MS + 2_000),  # the year-9999 edge
    st.integers(-(2**63), 2**63 - 1),  # anywhere in int64: mostly rejected
)
_val = st.one_of(
    st.floats(width=64),  # includes NaNs with payloads and +-Inf
    st.sampled_from([STALE_NAN, float("nan"), float("inf"), float("-inf"), -0.0, 5e-324]),
)
_series = st.builds(
    prompb.TimeSeries,
    labels=st.lists(_label, max_size=4),
    samples=st.lists(st.builds(prompb.Sample, value=_val, timestamp=_ms), max_size=4),
)

#: every case the property must cover, in one request
_CORNERS = prompb.WriteRequest(
    timeseries=[
        prompb.TimeSeries(labels=[prompb.Label(NAME_LABEL, "up")], samples=[]),  # empty series
        prompb.TimeSeries(labels=[], samples=[prompb.Sample(1.5, 1_704_067_200_999)]),  # empty labelset
        prompb.TimeSeries(  # no __name__, non-ASCII labels, negative and sub-second ms
            labels=[prompb.Label("job", "ä€😀"), prompb.Label("名前", "误差")],
            samples=[prompb.Sample(2.0, -1), prompb.Sample(3.0, -1_001), prompb.Sample(4.0, 999)],
        ),
        prompb.TimeSeries(
            labels=[prompb.Label(NAME_LABEL, "stale"), prompb.Label("i", "0")],
            samples=[
                prompb.Sample(STALE_NAN, 0),
                prompb.Sample(float("nan"), 1_000),
                prompb.Sample(float("inf"), MIN_MS),
                prompb.Sample(float("-inf"), MAX_MS),
            ],
        ),
    ]
)


def _with_sample_at(ms: int) -> prompb.WriteRequest:
    return prompb.WriteRequest(
        timeseries=[prompb.TimeSeries(samples=[prompb.Sample(1.0, 0), prompb.Sample(1.0, ms)])]
    )


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(req=st.builds(prompb.WriteRequest, timeseries=st.lists(_series, max_size=4)))
@example(req=_CORNERS)
@example(req=prompb.WriteRequest())
# rejected, not wrapped: in int64 microseconds 2**62 ms would land in 1969
@example(req=_with_sample_at(2**62))
@example(req=_with_sample_at(MAX_MS + 1))
@example(req=_with_sample_at(MIN_MS - 1))
@example(req=_with_sample_at(-(2**63)))
def test_flatten_matches_tuple_model(req):
    req = codec.decode_write_request(codec.encode_write_request(req))  # the server's path
    try:
        want = tuple_model(req)
    except ValueError:  # a timestamp outside years 1-9999
        with pytest.raises(ValueError, match="outside years 1-9999"):
            write_request_rows(req)
        return
    assert table_rows(req) == want


def test_corner_request_rows():
    """The corner request's rows, spelled out: the property above would
    also pass if model and table were wrong the same way."""
    rows = table_rows(_CORNERS)
    assert [(r[0].isoformat(), r[1], r[2]) for r in rows] == [
        ("2024-01-01T00:00:00", "", []),
        ("1969-12-31T23:59:59", "", ["job=ä€😀", "名前=误差"]),
        ("1969-12-31T23:59:58", "", ["job=ä€😀", "名前=误差"]),
        ("1970-01-01T00:00:00", "", ["job=ä€😀", "名前=误差"]),
        ("1970-01-01T00:00:00", "stale", ["i=0"]),
        ("1970-01-01T00:00:01", "stale", ["i=0"]),
        ("0001-01-01T00:00:00", "stale", ["i=0"]),
        ("9999-12-31T23:59:59", "stale", ["i=0"]),
    ]
    assert rows[4][3] == 0x7FF0000000000002  # the stale marker's payload is kept
