"""Minimal Prometheus remote-storage protobuf (``prompb``) codec.

Hand-rolled protobuf wire-format encode/decode for exactly the message
subset the reference consumes/produces (reference ``codec.go:20-21`` imports
``prompb``; field usage at ``write.go:33-57`` and ``read.go:18-98``).  The
schema is the public ``prometheus/prompb/{types,remote}.proto``:

    Label        { 1: name string, 2: value string }
    Sample       { 1: value double, 2: timestamp int64 (ms) }
    TimeSeries   { 1: labels repeated Label, 2: samples repeated Sample }
    WriteRequest { 1: timeseries repeated TimeSeries }
    LabelMatcher { 1: type enum(EQ NEQ RE NRE), 2: name, 3: value }
    ReadHints    { 1: step_ms, 2: func, 3: start_ms, 4: end_ms, 7: range_ms }
    Query        { 1: start_timestamp_ms, 2: end_timestamp_ms,
                   3: matchers repeated, 4: hints }
    ReadRequest  { 1: queries repeated }
    QueryResult  { 1: timeseries repeated }
    ReadResponse { 1: results repeated }

No external protobuf dependency: wire format is varint/fixed64/len-delimited
primitives only.  Unknown fields are skipped (forward-compatible), matching
standard proto3 semantics.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery

# --- wire primitives -------------------------------------------------------

_WT_VARINT = 0
_WT_FIXED64 = 1
_WT_LEN = 2
_WT_FIXED32 = 5


def _write_varint(out: bytearray, v: int) -> None:
    if v < 0:
        v &= (1 << 64) - 1  # two's-complement 64-bit, proto int64 semantics
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift >= 70:
            raise ValueError("varint too long")


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _tag(field_no: int, wire_type: int) -> int:
    return (field_no << 3) | wire_type


def _emit_tag(out: bytearray, field_no: int, wire_type: int) -> None:
    _write_varint(out, _tag(field_no, wire_type))


def _emit_len(out: bytearray, field_no: int, payload: bytes) -> None:
    _emit_tag(out, field_no, _WT_LEN)
    _write_varint(out, len(payload))
    out.extend(payload)


def _emit_string(out: bytearray, field_no: int, s: str) -> None:
    if s:
        _emit_len(out, field_no, s.encode("utf-8"))


def _emit_int64(out: bytearray, field_no: int, v: int) -> None:
    if v:
        _emit_tag(out, field_no, _WT_VARINT)
        _write_varint(out, v)


def _emit_double(out: bytearray, field_no: int, v: float) -> None:
    if v != 0.0 or (v == 0.0 and struct.pack("<d", v) != b"\x00" * 8):  # keep -0.0
        _emit_tag(out, field_no, _WT_FIXED64)
        out.extend(struct.pack("<d", v))


def _skip(buf: bytes, pos: int, wire_type: int) -> int:
    if wire_type == _WT_VARINT:
        _, pos = _read_varint(buf, pos)
        return pos
    if wire_type == _WT_FIXED64:
        if pos + 8 > len(buf):
            raise ValueError("truncated message")
        return pos + 8
    if wire_type == _WT_LEN:
        n, pos = _read_varint(buf, pos)
        if pos + n > len(buf):
            raise ValueError("truncated message")
        return pos + n
    if wire_type == _WT_FIXED32:
        if pos + 4 > len(buf):
            raise ValueError("truncated message")
        return pos + 4
    raise ValueError(f"unsupported wire type {wire_type}")


def _fields(buf: bytes):
    """Iterate (field_no, wire_type, value, next_pos) over a message body."""
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field_no, wt = tag >> 3, tag & 7
        if wt == _WT_VARINT:
            v, pos = _read_varint(buf, pos)
            yield field_no, wt, v
        elif wt == _WT_FIXED64:
            (v,) = struct.unpack_from("<d", buf, pos)
            pos += 8
            yield field_no, wt, v
        elif wt == _WT_LEN:
            n, pos = _read_varint(buf, pos)
            if pos + n > len(buf):
                # a short slice would decode silently as valid-but-wrong
                # data; match the 'truncated varint' strictness instead
                raise ValueError("truncated message")
            yield field_no, wt, bytes(buf[pos : pos + n])
            pos += n
        else:
            pos = _skip(buf, pos, wt)


# --- message dataclasses ---------------------------------------------------


@dataclass
class Label:
    name: str = ""
    value: str = ""


@dataclass
class Sample:
    value: float = 0.0
    timestamp: int = 0  # milliseconds


@dataclass
class TimeSeries:
    labels: list[Label] = field(default_factory=list)
    samples: list[Sample] = field(default_factory=list)


@dataclass
class WriteRequest:
    timeseries: list[TimeSeries] = field(default_factory=list)


@dataclass
class QueryResult:
    timeseries: list[TimeSeries] = field(default_factory=list)


@dataclass
class ReadResponse:
    results: list[QueryResult] = field(default_factory=list)


@dataclass
class ReadRequest:
    queries: list[ReadQuery] = field(default_factory=list)


# --- encode ----------------------------------------------------------------


def encode_label(m: Label) -> bytes:
    out = bytearray()
    _emit_string(out, 1, m.name)
    _emit_string(out, 2, m.value)
    return bytes(out)


def encode_sample(m: Sample) -> bytes:
    out = bytearray()
    _emit_double(out, 1, m.value)
    _emit_int64(out, 2, m.timestamp)
    return bytes(out)


def _encode_samples(values: np.ndarray, stamps: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Every ``Sample`` field (tag 2 of a TimeSeries) of the given float64
    values and int64 timestamps, in order, in one numpy pass; returns the
    bytes and each field's length.

    Each field is laid out in a row of 22 columns — tag, length, the
    value's tag and 8 little-endian bytes, the timestamp's tag and a
    10-column varint — and a mask keeps the bytes proto3 emits: the value
    unless its bits are all zero (``+0.0``; ``-0.0`` and NaN payloads are
    kept), the timestamp unless it is 0, and a varint's significant
    groups (a negative int64 takes all 10, two's-complement)."""
    bits = np.ascontiguousarray(values, dtype=np.float64).view("<u8")
    stamps = np.ascontiguousarray(stamps, dtype=np.int64).view(np.uint64)
    keep_value = bits != 0  # +0.0 omitted; -0.0 has its sign bit set
    keep_stamp = stamps != 0
    shifted = [stamps >> np.uint64(7 * k) for k in range(10)]
    width = 1 + sum(g != 0 for g in shifted[1:])  # significant 7-bit groups
    payload = 9 * keep_value + keep_stamp * (1 + width)
    rows = np.empty((len(bits), 22), dtype=np.uint8)
    rows[:, 0] = _tag(2, _WT_LEN)
    rows[:, 1] = payload  # at most 20: a one-byte varint
    rows[:, 2] = _tag(1, _WT_FIXED64)
    rows[:, 3:11] = bits.view(np.uint8).reshape(-1, 8)
    rows[:, 11] = _tag(2, _WT_VARINT)
    for k, g in enumerate(shifted):
        # low 7 bits, and the continuation bit on all but the last byte
        rows[:, 12 + k] = (g & np.uint64(0x7F)) | np.where(k < width - 1, 0x80, 0).astype(np.uint64)
    keep = np.empty(rows.shape, dtype=bool)
    keep[:, :2] = True
    keep[:, 2:11] = keep_value[:, None]
    keep[:, 11:] = keep_stamp[:, None]
    keep[:, 12:] &= np.arange(10) < width[:, None]
    return rows[keep].tobytes(), 2 + payload


def _encode_series(series: list[TimeSeries]) -> bytes:
    """``series`` as repeated TimeSeries fields (tag 1): labels one by
    one, the samples of every series in one :func:`_encode_samples` pass,
    cut per series at the cumulative field lengths."""
    samples = [s for ts in series for s in ts.samples]
    data, lengths = _encode_samples(
        np.array([s.value for s in samples], dtype=np.float64),
        np.array([s.timestamp for s in samples], dtype=np.int64),
    )
    firsts = np.cumsum([0] + [len(ts.samples) for ts in series])
    cuts = np.concatenate(([0], np.cumsum(lengths)))[firsts].tolist()
    out = bytearray()
    for i, ts in enumerate(series):
        body = bytearray()
        for lb in ts.labels:
            _emit_len(body, 1, encode_label(lb))
        body += data[cuts[i] : cuts[i + 1]]
        _emit_len(out, 1, body)
    return bytes(out)


def encode_write_request(m: WriteRequest) -> bytes:
    return _encode_series(m.timeseries)


def encode_matcher(m: LabelMatcher) -> bytes:
    out = bytearray()
    _emit_int64(out, 1, int(m.type))
    _emit_string(out, 2, m.name)
    _emit_string(out, 3, m.value)
    return bytes(out)


def encode_hints(m: ReadHints) -> bytes:
    out = bytearray()
    _emit_int64(out, 1, m.step_ms)
    _emit_int64(out, 7, m.range_ms)
    return bytes(out)


def encode_query(m: ReadQuery) -> bytes:
    out = bytearray()
    _emit_int64(out, 1, m.start_ms)
    _emit_int64(out, 2, m.end_ms)
    for mt in m.matchers:
        _emit_len(out, 3, encode_matcher(mt))
    if m.hints.step_ms or m.hints.range_ms:
        _emit_len(out, 4, encode_hints(m.hints))
    return bytes(out)


def encode_read_request(m: ReadRequest) -> bytes:
    out = bytearray()
    for q in m.queries:
        _emit_len(out, 1, encode_query(q))
    return bytes(out)


def encode_query_result(m: QueryResult) -> bytes:
    return _encode_series(m.timeseries)


def encode_read_response(m: ReadResponse) -> bytes:
    out = bytearray()
    for r in m.results:
        _emit_len(out, 1, encode_query_result(r))
    return bytes(out)


# --- decode ----------------------------------------------------------------


def decode_label(buf: bytes) -> Label:
    m = Label()
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            m.name = v.decode("utf-8")
        elif fno == 2:
            m.value = v.decode("utf-8")
    return m


def decode_sample(buf: bytes) -> Sample:
    m = Sample()
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == _WT_FIXED64:
            m.value = v
        elif fno == 2:
            m.timestamp = _to_signed64(v)
    return m


def decode_timeseries(buf: bytes) -> TimeSeries:
    m = TimeSeries()
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            m.labels.append(decode_label(v))
        elif fno == 2:
            m.samples.append(decode_sample(v))
    return m


def decode_write_request(buf: bytes) -> WriteRequest:
    m = WriteRequest()
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            m.timeseries.append(decode_timeseries(v))
    return m


def decode_matcher(buf: bytes) -> LabelMatcher:
    mtype, name, value = MatcherType.EQ, "", ""
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            mtype = MatcherType(v)
        elif fno == 2:
            name = v.decode("utf-8")
        elif fno == 3:
            value = v.decode("utf-8")
    return LabelMatcher(mtype, name, value)


def decode_hints(buf: bytes) -> ReadHints:
    step_ms = range_ms = 0
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            step_ms = _to_signed64(v)
        elif fno == 7:
            range_ms = _to_signed64(v)
    return ReadHints(step_ms=step_ms, range_ms=range_ms)


def decode_query(buf: bytes) -> ReadQuery:
    start_ms = end_ms = 0
    matchers: list[LabelMatcher] = []
    hints = ReadHints()
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            start_ms = _to_signed64(v)
        elif fno == 2:
            end_ms = _to_signed64(v)
        elif fno == 3:
            matchers.append(decode_matcher(v))
        elif fno == 4:
            hints = decode_hints(v)
    return ReadQuery(start_ms=start_ms, end_ms=end_ms, matchers=tuple(matchers), hints=hints)


def decode_read_request(buf: bytes) -> ReadRequest:
    m = ReadRequest()
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            m.queries.append(decode_query(v))
    return m


def decode_query_result(buf: bytes) -> QueryResult:
    m = QueryResult()
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            m.timeseries.append(decode_timeseries(v))
    return m


def decode_read_response(buf: bytes) -> ReadResponse:
    m = ReadResponse()
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            m.results.append(decode_query_result(v))
    return m
