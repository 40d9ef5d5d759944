"""End-to-end protocol test: remote-write -> store -> remote-read over real
HTTP (S1-S5 + read path + S9 metrics), mirroring a Prometheus client."""

from __future__ import annotations

import urllib.error
import urllib.request

import pytest

from remote_tsdb_clickhouse_spark import codec, prompb
from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery
from remote_tsdb_clickhouse_spark.server.http import AdapterApp, AdapterServer
from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore
from remote_tsdb_clickhouse_spark.sources.writer import TimeseriesWriter


@pytest.fixture()
def server(spark, tmp_path):
    store = SamplesStore(spark, str(tmp_path / "samples"))
    app = AdapterApp(TimeseriesWriter(store), store.read)
    srv = AdapterServer(app).start()
    yield srv, app
    srv.stop()


def _post(port: int, path: str, body: bytes):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", data=body, method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _get(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_write_read_roundtrip_over_http(server):
    srv, app = server
    write_req = prompb.WriteRequest(
        timeseries=[
            prompb.TimeSeries(
                labels=[
                    prompb.Label("__name__", "go_goroutines"),
                    prompb.Label("instance", "10.0.0.1:9100"),
                    prompb.Label("job", "omada"),
                ],
                samples=[
                    prompb.Sample(35.0, 1704067200500),
                    prompb.Sample(36.0, 1704067215000),
                ],
            )
        ]
    )
    status, _ = _post(srv.port, "/write", codec.encode_write_request(write_req))
    assert status == 200

    read_req = prompb.ReadRequest(
        queries=[
            ReadQuery(
                start_ms=1704067200000,
                end_ms=1704070800000,
                matchers=(
                    LabelMatcher(MatcherType.EQ, "__name__", "go_goroutines"),
                    LabelMatcher(MatcherType.EQ, "job", "omada"),
                    # routing label: silently ignored (F8)
                    LabelMatcher(MatcherType.EQ, "remote", "clickhouse"),
                ),
                hints=ReadHints(),
            )
        ]
    )
    status, body = _post(srv.port, "/read", codec.encode_read_request(read_req))
    assert status == 200
    resp = prompb.decode_read_response(codec.snappy_decompress(body))
    assert len(resp.results) == 1
    [series] = resp.results[0].timeseries
    assert series.labels[0] == prompb.Label("__name__", "go_goroutines")
    assert prompb.Label("job", "omada") in series.labels
    # ms truncated to whole seconds and re-expanded (write.go:49, read.go:92)
    assert [(s.value, s.timestamp) for s in series.samples] == [
        (35.0, 1704067200000),
        (36.0, 1704067215000),
    ]


def test_metrics_and_404(server):
    srv, app = server
    status, body = _get(srv.port, "/metrics")
    assert status == 200
    assert b"samples_written_total" in body
    status, body = _get(srv.port, "/nope")
    assert status == 404


def test_write_error_counted(server):
    srv, app = server
    status, _ = _post(srv.port, "/write", b"not snappy at all")
    assert status == 500
    assert app.metrics.write_errors_total.value == 1


def test_out_of_range_timestamp_write_is_500_and_stores_nothing(server, tmp_path):
    """A sample whose second lies outside years 1-9999 fails the whole
    request: 500, one write error, and not one of its rows (nor a file)
    lands.  2**62 ms would wrap to 1969 in int64 microseconds if the
    flatten did not check the range."""
    srv, app = server
    ok = prompb.WriteRequest(timeseries=[prompb.TimeSeries(
        labels=[prompb.Label("__name__", "up")], samples=[prompb.Sample(1.0, 1704067200000)],
    )])
    assert _post(srv.port, "/write", codec.encode_write_request(ok))[0] == 200
    before = sorted(tuple(r) for r in app.samples_provider().collect())
    files_before = sorted((tmp_path / "samples").rglob("*.parquet"))

    bad = prompb.WriteRequest(timeseries=[prompb.TimeSeries(
        labels=[prompb.Label("__name__", "up")],
        samples=[prompb.Sample(2.0, 1704067215000), prompb.Sample(3.0, 2**62)],
    )])
    errs0 = app.metrics.write_errors_total.value
    status, body = _post(srv.port, "/write", codec.encode_write_request(bad))
    assert status == 500 and b"outside years 1-9999" in body
    assert app.metrics.write_errors_total.value == errs0 + 1
    assert sorted(tuple(r) for r in app.samples_provider().collect()) == before
    assert sorted((tmp_path / "samples").rglob("*.parquet")) == files_before


def test_canceled_read_not_counted_as_error(spark, tmp_path):
    """context.Canceled parity (main.go:147-152): a client that disconnects
    mid-query is swallowed — no read-error increment, no 500."""
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery

    def gone_provider():
        raise ConnectionResetError("client went away")

    store = SamplesStore(spark, str(tmp_path / "samples"))
    app = AdapterApp(TimeseriesWriter(store), gone_provider)
    rr = prompb.ReadRequest(
        queries=[ReadQuery(start_ms=0, matchers=(LabelMatcher(MatcherType.EQ, "__name__", "x"),))]
    )
    status, body = app.handle_read(codec.encode_read_request(rr))
    assert status == 499
    assert app.metrics.read_requests_total.value == 1
    assert app.metrics.read_errors_total.value == 0
    # a genuine failure still counts
    def broken_provider():
        raise RuntimeError("boom")

    app2 = AdapterApp(TimeseriesWriter(store), broken_provider)
    status, _ = app2.handle_read(codec.encode_read_request(rr))
    assert status == 500
    assert app2.metrics.read_errors_total.value == 1


def test_concurrent_writes_then_read(server):
    """Prometheus runs parallel remote-write shards; the threaded server
    submits Spark jobs from multiple handler threads.  All samples from
    concurrent writers must land, none double-counted."""
    import concurrent.futures

    srv, app = server

    def write_shard(shard: int):
        req = prompb.WriteRequest(
            timeseries=[
                prompb.TimeSeries(
                    labels=[
                        prompb.Label("__name__", "shard_metric"),
                        prompb.Label("shard", str(shard)),
                    ],
                    samples=[
                        prompb.Sample(float(k), 1704067200000 + k * 1000)
                        for k in range(5)
                    ],
                )
            ]
        )
        return _post(srv.port, "/write", codec.encode_write_request(req))

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(write_shard, range(4)))
    assert all(status == 200 for status, _ in results)
    assert app.metrics.samples_written_total.value == 20

    read_req = prompb.ReadRequest(
        queries=[
            ReadQuery(
                start_ms=1704067200000,
                matchers=(LabelMatcher(MatcherType.EQ, "__name__", "shard_metric"),),
            )
        ]
    )
    status, body = _post(srv.port, "/read", codec.encode_read_request(read_req))
    assert status == 200
    resp = prompb.decode_read_response(codec.snappy_decompress(body))
    series = resp.results[0].timeseries
    assert len(series) == 4  # one per shard
    assert all(len(ts.samples) == 5 for ts in series)


def test_protocol_roundtrip_randomized_sweep(spark, tmp_path):
    """Seeded randomized end-to-end protocol sweep, wire bytes included:
    random WriteRequests (multi-series, sub-second timestamp junk,
    extreme doubles) go through encode -> snappy+proto decode -> writer ->
    store, then random remote-read queries (mid-second bounds, open ends)
    through handle_read_request and a full ReadResponse encode/decode.
    The decoded series must equal a pure-Python model of the reference
    semantics end to end: ms//1000 truncation, per-second grouped max,
    inclusive upper bound, sorted-label series identity, __name__
    re-expansion, ms re-expansion of the truncated second."""
    import random

    rng = random.Random(1201)
    base_ms = 1704067200000  # 2024-01-01
    span_ms = 3 * 86_400_000
    store = SamplesStore(spark, str(tmp_path / "samples"))
    writer = TimeseriesWriter(store)

    names = ["up", "http_requests_total", "node_cpu"]
    label_pool = [("instance", "10.0.0.1:9100"), ("job", "omada"),
                  ("path", "/api/v1/query"), ("zone", "eu-west")]
    extreme = [1e308, 5e-324, 123456789.123456789, -1.5e-300]
    written = []  # (name, sorted-"k=v"-tuple, ts_ms, value)
    for _ in range(10):
        series = []
        for _ in range(rng.randint(1, 3)):
            name = rng.choice(names)
            labels = sorted(rng.sample(label_pool, rng.randint(0, 3)))
            samples = []
            for _ in range(rng.randint(1, 5)):
                t = base_ms + rng.randrange(span_ms)  # arbitrary ms junk
                v = rng.choice(extreme) if rng.random() < 0.2 else rng.uniform(-1e4, 1e4)
                samples.append((v, t))
                written.append(
                    (name, tuple(f"{k}={v2}" for k, v2 in labels), t, v)
                )
            series.append(
                prompb.TimeSeries(
                    labels=[prompb.Label("__name__", name)]
                    + [prompb.Label(k, v2) for k, v2 in labels],
                    samples=[prompb.Sample(v, t) for v, t in samples],
                )
            )
        req = prompb.WriteRequest(timeseries=series)
        # the real wire path: proto-encode, snappy-frame, cap-check, decode
        writer.write(codec.decode_write_request(codec.encode_write_request(req)))

    from remote_tsdb_clickhouse_spark.server.service import handle_read_request

    for _ in range(5):
        start_ms = base_ms + rng.randrange(span_ms) + rng.randrange(1000)
        end_ms = 0 if rng.random() < 0.3 else start_ms + rng.randrange(span_ms)
        name = rng.choice(names)
        q = ReadQuery(
            start_ms=start_ms, end_ms=end_ms,
            matchers=(LabelMatcher(MatcherType.EQ, "__name__", name),),
            hints=ReadHints(),
        )
        resp = handle_read_request(store.read(), prompb.ReadRequest(queries=[q]))
        resp = prompb.decode_read_response(
            codec.snappy_decompress(codec.encode_read_response(resp))
        )

        # pure-Python reference of the full read semantics
        start_s, end_s = start_ms // 1000, end_ms // 1000
        per_series = {}
        for n, labs, t, v in written:
            ts_s = t // 1000
            if n != name or ts_s < start_s or (end_ms > 0 and ts_s > end_s):
                continue
            sec = per_series.setdefault((n, labs), {})
            sec[ts_s] = max(sec.get(ts_s, float("-inf")), v)
        want = []
        for (n, labs), sec in sorted(per_series.items(), key=lambda kv: (kv[0][0], ",".join(kv[0][1]))):
            want.append((
                (("__name__", n),) + tuple(tuple(s.split("=", 1)) for s in labs),
                tuple((ts_s * 1000, v) for ts_s, v in sorted(sec.items())),
            ))

        assert len(resp.results) == 1
        got = [
            (
                tuple((lb.name, lb.value) for lb in ts.labels),
                tuple((s.timestamp, s.value) for s in ts.samples),
            )
            for ts in resp.results[0].timeseries
        ]
        assert got == want, (start_ms, end_ms, name)


def test_chunked_transfer_write_and_read(server):
    """Transfer-Encoding: chunked parity with the reference's net/http
    (which de-chunks transparently): a chunked remote-write must store
    its samples, and a chunked remote-read must answer — reading exactly
    Content-Length bytes (absent on chunked requests) would decode an
    empty body instead."""
    import http.client

    srv, app = server
    write_req = prompb.WriteRequest(
        timeseries=[
            prompb.TimeSeries(
                labels=[prompb.Label("__name__", "chunked_metric"),
                        prompb.Label("job", "ck")],
                samples=[prompb.Sample(7.0, 1704067200000)],
            )
        ]
    )
    payload = codec.encode_write_request(write_req)

    def post_chunked(path, body, chunk=7):
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=30)
        # an iterable body without Content-Length -> http.client sends
        # Transfer-Encoding: chunked
        conn.request(
            "POST", path,
            body=iter([body[i:i + chunk] for i in range(0, len(body), chunk)]),
        )
        r = conn.getresponse()
        out = (r.status, r.read())
        conn.close()
        return out

    status, _ = post_chunked("/write", payload)
    assert status == 200
    assert app.metrics.samples_written_total.value == 1

    read_req = prompb.ReadRequest(
        queries=[ReadQuery(
            start_ms=0, end_ms=1704067300000,
            matchers=(LabelMatcher(MatcherType.EQ, "__name__", "chunked_metric"),),
        )]
    )
    status, body = post_chunked("/read", codec.encode_read_request(read_req))
    assert status == 200
    resp = prompb.decode_read_response(codec.snappy_decompress(body))
    series = resp.results[0].timeseries
    assert len(series) == 1
    assert series[0].samples[0].value == 7.0


def test_chunked_malformed_and_oversized_rejected(server):
    """Malformed chunk-size lines get 400; a chunked stream claiming more
    than the 32 MiB wire cap gets 413 before buffering it."""
    import socket

    srv, app = server

    def raw(request: bytes) -> int:
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        s.sendall(request)
        data = s.recv(1024)
        s.close()
        return int(data.split(b" ")[1])

    head = (
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
    )
    assert raw(head + b"zz\r\nabc\r\n0\r\n\r\n") == 400
    # one chunk claiming 64 MiB: rejected on the size line, no buffering
    assert raw(head + b"4000000\r\n") == 413
    # trailers after the terminal chunk are drained, then the (garbage)
    # 3-byte body reaches the codec -> 500 from the write handler, not a
    # hang or parse desync
    assert raw(
        head + b"3\r\nabc\r\n0\r\nX-Trailer: v\r\nX-T2: w\r\n\r\n"
    ) == 500
    # chunk extensions on the size line are ignored per RFC 9112
    assert raw(head + b"3;ext=1\r\nabc\r\n0\r\n\r\n") == 500


def test_method_agnostic_path_routing(server):
    """The reference's mux routes by PATH only (main.go:116-153): a GET
    to /write runs the write handler — empty body, decode error, 500 +
    writeErrorsTotal — and any method on an unknown path gets the 404
    banner; HEAD answers headers-only."""
    import http.client

    srv, app = server

    def req(method, path):
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=30)
        conn.request(method, path)
        r = conn.getresponse()
        out = (r.status, r.read())
        conn.close()
        return out

    errs0 = app.metrics.write_errors_total.value
    status, _ = req("GET", "/write")
    assert status == 500
    assert app.metrics.write_errors_total.value == errs0 + 1

    rerrs0 = app.metrics.read_errors_total.value
    status, _ = req("GET", "/read")
    assert status == 500
    assert app.metrics.read_errors_total.value == rerrs0 + 1

    for method in ("PUT", "DELETE", "PATCH", "POST"):
        status, body = req(method, "/nope")
        assert (status, body) == (404, b"remote-tsdb-clickhouse-spark\n"), method

    status, body = req("HEAD", "/nope")
    assert status == 404 and body == b""  # headers only

    status, body = req("POST", "/metrics")  # promhttp serves any method
    assert status == 200 and b"write_requests_total" in body


def test_chunked_truncated_stream_is_malformed(server):
    """A chunked stream cut off before the terminal 0-chunk must be
    treated as malformed (400), never as a silently-complete body."""
    import socket

    srv, app = server
    s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
    s.sendall(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"3\r\nabc\r\n"  # ...and the client disappears
    )
    s.shutdown(socket.SHUT_WR)
    data = s.recv(1024)
    s.close()
    assert int(data.split(b" ")[1]) == 400


def test_chunked_equals_content_length_randomized(server):
    """Property: for random write bodies, sending them chunked — at random
    chunk boundaries, with random chunk extensions and optional trailers —
    must be exactly equivalent to sending them with Content-Length: same
    status, same samples stored."""
    import random
    import socket

    rng = random.Random(0xC41C)
    srv, app = server
    expected_samples = 0
    for trial in range(10):
        ts_base = 1704067200000 + trial * 60_000
        n = rng.randrange(1, 5)
        req = prompb.WriteRequest(
            timeseries=[
                prompb.TimeSeries(
                    labels=[prompb.Label("__name__", f"ck{trial}"),
                            prompb.Label("job", "fuzz")],
                    samples=[prompb.Sample(float(k), ts_base + k * 15_000)
                             for k in range(n)],
                )
            ]
        )
        body = codec.encode_write_request(req)
        # random chunking
        chunks, pos = [], 0
        while pos < len(body):
            step = rng.randrange(1, max(2, len(body) // 2))
            chunks.append(body[pos:pos + step])
            pos += step
        wire = b""
        for c in chunks:
            ext = b";x=" + str(rng.randrange(10)).encode() if rng.random() < 0.3 else b""
            wire += format(len(c), "x").encode() + ext + b"\r\n" + c + b"\r\n"
        wire += b"0\r\n"
        if rng.random() < 0.5:
            wire += b"X-Trailer: t\r\n"
        wire += b"\r\n"
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        s.sendall(
            b"POST /write HTTP/1.1\r\nHost: x\r\n"
            b"Transfer-Encoding: chunked\r\nConnection: close\r\n\r\n" + wire
        )
        status = int(s.recv(1024).split(b" ")[1])
        s.close()
        assert status == 200, trial
        expected_samples += n
    assert app.metrics.samples_written_total.value == expected_samples
    assert app.metrics.write_errors_total.value == 0


def test_chunk_size_token_is_strict_hex(server):
    """ADVICE r10 (high): Python's int(s, 16) accepts '-5'/'+5'/'0x10'/
    '1_0'.  A negative size would skip the terminal-chunk test AND the
    32 MiB cap (len(body) + size > limit is false), then read(-5) buffers
    until EOF — so the size token must validate as bare RFC 9112 hex
    BEFORE conversion, and every non-canonical spelling must 400."""
    import socket

    srv, app = server

    def raw(request: bytes) -> int:
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        s.sendall(request)
        data = s.recv(1024)
        s.close()
        return int(data.split(b" ")[1])

    head = (
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
    )
    for token in (b"-5", b"+5", b"0x10", b"1_0", b" ", b"10 20",
                  b"5,5", b"f" * 17):
        assert raw(head + token + b"\r\nabcde\r\n0\r\n\r\n") == 400, token
    # canonical hex still works end-to-end (5 bytes of garbage -> the
    # codec rejects it with 500, proving the chunk layer accepted it)
    assert raw(head + b"5\r\nabcde\r\n0\r\n\r\n") == 500


def test_chunk_terminator_must_be_crlf(server):
    """Go's chunked reader errors on a malformed chunk terminator
    ("malformed chunked encoding") instead of resyncing on garbage —
    accepting arbitrary bytes there is lenient-parse divergence."""
    import socket

    srv, app = server
    s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
    s.sendall(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"3\r\nabcXX0\r\n\r\n"  # XX where the chunk's CRLF belongs
    )
    data = s.recv(1024)
    s.close()
    assert int(data.split(b" ")[1]) == 400


def test_content_length_is_capped_and_validated(server):
    """ADVICE r10: the Content-Length path must enforce the same 32 MiB
    pre-buffer bound as the chunked path (413 BEFORE reading the body),
    and a malformed Content-Length is a 400, not a traceback."""
    import socket

    srv, app = server

    def raw_headers_only(headers: bytes) -> int:
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        s.sendall(headers)
        data = s.recv(1024)  # reply must arrive without any body sent
        s.close()
        return int(data.split(b" ")[1])

    assert raw_headers_only(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Content-Length: 67108864\r\n\r\n"  # 64 MiB claim, no body
    ) == 413
    assert raw_headers_only(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Content-Length: -1\r\n\r\n"
    ) == 400  # malformed framing, not an oversized body (ADVICE r11)
    assert raw_headers_only(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Content-Length: abc\r\n\r\n"
    ) == 400


def test_keepalive_reuse_after_bodied_metrics(server):
    """r10 verdict nit: a bodied (chunked) request to /metrics must drain
    its body — Go's net/http consumes request bodies for every handler —
    or the unread bytes desync the next request on a kept-alive
    connection.  The server speaks HTTP/1.1 keep-alive (net/http parity),
    so this is directly observable: both requests on one socket must
    answer 200 with a well-formed metrics payload."""
    import socket

    srv, app = server
    s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)

    def recv_response(sock) -> tuple[int, bytes]:
        buf = b""
        while b"\r\n\r\n" not in buf:
            buf += sock.recv(4096)
        head, _, rest = buf.partition(b"\r\n\r\n")
        n = int(
            next(ln for ln in head.split(b"\r\n") if ln.lower().startswith(b"content-length"))
            .split(b":")[1]
        )
        while len(rest) < n:
            rest += sock.recv(4096)
        return int(head.split(b" ")[1]), rest[:n]

    s.sendall(
        b"POST /metrics HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"6\r\nignore\r\n0\r\n\r\n"
    )
    status, body = recv_response(s)
    assert status == 200 and b"write_requests_total" in body
    s.sendall(b"GET /metrics HTTP/1.1\r\nHost: x\r\n\r\n")
    status, body = recv_response(s)
    assert status == 200 and b"write_requests_total" in body
    s.close()


def test_long_trailer_line_keeps_stream_synced(server):
    """r10 ADVICE: the trailer drain reads 128-byte fragments, and a
    trailer line of exactly 128+ bytes makes the NEXT fragment b"\\r\\n" —
    which must not be mistaken for the blank terminator line (that would
    leave the real blank line unread and desync keep-alive).  Two
    requests on one socket, the first carrying a 128-byte trailer line."""
    import socket

    srv, app = server
    s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
    # 128 content bytes before the CRLF: readline(128) returns them with
    # NO newline, so the line's terminating b"\r\n" arrives as its own
    # fragment — the exact bytes the old drain mistook for the blank line
    trailer = b"X-Long: " + b"a" * 120
    assert len(trailer) == 128
    s.sendall(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"3\r\nabc\r\n0\r\n" + trailer + b"\r\n\r\n"
    )

    def recv_response(sock) -> tuple[int, bytes]:
        buf = b""
        while b"\r\n\r\n" not in buf:
            buf += sock.recv(4096)
        head, _, rest = buf.partition(b"\r\n\r\n")
        n = int(
            next(ln for ln in head.split(b"\r\n") if ln.lower().startswith(b"content-length"))
            .split(b":")[1]
        )
        while len(rest) < n:
            rest += sock.recv(4096)
        return int(head.split(b" ")[1]), rest[:n]

    status, _ = recv_response(s)
    assert status == 500  # 3-byte garbage body reaches the codec
    s.sendall(b"GET /metrics HTTP/1.1\r\nHost: x\r\n\r\n")
    status, body = recv_response(s)
    assert status == 200 and b"write_requests_total" in body
    s.close()


def test_keepalive_client_reset_is_silent(server, capfd):
    """A client that RSTs its kept-alive connection (handler thread parked
    in readline awaiting the next request) is a normal disconnect — Go's
    net/http says nothing; socketserver must not print a daemon-thread
    traceback ("Exception occurred during processing of request")."""
    import socket
    import struct
    import time

    srv, app = server
    s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
    s.sendall(b"GET /metrics HTTP/1.1\r\nHost: x\r\n\r\n")
    time.sleep(0.3)
    s.recv(4096)
    # SO_LINGER(1, 0): close() sends RST instead of FIN
    s.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER, struct.pack("ii", 1, 0))
    s.close()
    time.sleep(0.5)
    err = capfd.readouterr().err
    assert "Exception occurred" not in err, err
    assert "Traceback" not in err, err


def test_keepalive_randomized_session_sweep(server):
    """Randomized RFC-level keep-alive property: N mixed requests —
    /write (valid snappy'd prompb or garbage), /read, /metrics, 404
    paths; Content-Length or chunked framing with random chunk sizes,
    extensions, and trailers — all pipelined request-after-response over
    ONE connection must each get the right status with the stream
    staying byte-synced throughout (any drain bug desyncs every request
    after it)."""
    import random
    import socket

    rng = random.Random(0x11AA)
    srv, app = server

    def recv_response(sock) -> tuple[int, bytes]:
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = sock.recv(4096)
            assert chunk, "server closed mid-session (stream desync?)"
            buf += chunk
        head, _, rest = buf.partition(b"\r\n\r\n")
        n = int(
            next(ln for ln in head.split(b"\r\n")
                 if ln.lower().startswith(b"content-length")).split(b":")[1]
        )
        while len(rest) < n:
            rest += sock.recv(4096)
        assert len(rest) == n  # no stray bytes: responses stay framed
        return int(head.split(b" ")[1]), rest[:n]

    def frame(body: bytes) -> bytes:
        if rng.random() < 0.5:
            return (b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
                    + body)
        wire, pos = b"", 0
        while pos < len(body):
            step = rng.randrange(1, max(2, len(body)))
            c = body[pos:pos + step]
            ext = b";k=v" if rng.random() < 0.3 else b""
            wire += format(len(c), "x").encode() + ext + b"\r\n" + c + b"\r\n"
            pos += step
        wire += b"0\r\n"
        if rng.random() < 0.4:
            wire += b"X-T: " + b"t" * rng.choice([1, 120, 200]) + b"\r\n"
        wire += b"\r\n"
        return b"Transfer-Encoding: chunked\r\n\r\n" + wire

    valid = codec.encode_write_request(prompb.WriteRequest(
        timeseries=[prompb.TimeSeries(
            labels=[prompb.Label("__name__", "ka_sweep")],
            samples=[prompb.Sample(1.0, 1704067200000)],
        )]
    ))

    s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
    wrote_ok = 0
    for i in range(30):
        kind = rng.choice(["write_ok", "write_bad", "metrics", "notfound"])
        if kind == "write_ok":
            s.sendall(b"POST /write HTTP/1.1\r\nHost: x\r\n" + frame(valid))
            want = 200
            wrote_ok += 1
        elif kind == "write_bad":
            s.sendall(b"POST /write HTTP/1.1\r\nHost: x\r\n"
                      + frame(b"garbage-not-snappy"))
            want = 500
        elif kind == "metrics":
            s.sendall(b"GET /metrics HTTP/1.1\r\nHost: x\r\n"
                      + (frame(b"ignored-body") if rng.random() < 0.5 else b"\r\n"))
            want = 200
        else:
            s.sendall(b"POST /nope HTTP/1.1\r\nHost: x\r\n" + frame(b"x"))
            want = 404
        status, body = recv_response(s)
        assert status == want, (i, kind, status)
        if kind == "notfound":
            assert body == b"remote-tsdb-clickhouse-spark\n"
    s.close()
    assert app.metrics.samples_written_total.value == wrote_ok


def test_trailer_section_capped(server):
    """A hostile never-ending trailer stream must be rejected (400, like
    Go's DefaultMaxHeaderBytes 1 MiB bound), not drained forever."""
    import socket

    srv, app = server
    s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
    s.sendall(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"3\r\nabc\r\n0\r\n"
    )
    line = b"X-T: " + b"t" * 100 + b"\r\n"
    sent = 0
    try:
        while sent <= (2 << 20):  # 2 MiB of trailers, never a blank line
            s.sendall(line)
            sent += len(line)
    except (BrokenPipeError, ConnectionResetError):
        pass  # server already replied 400 and closed — also a pass
    s.settimeout(30)
    data = s.recv(1024)
    s.close()
    assert data and int(data.split(b" ")[1]) == 400


def test_smuggling_framings_rejected(server):
    """RFC 9112 §6.3.3 / Go net/http: chunked + Content-Length together,
    or conflicting duplicate Content-Lengths, are the request-smuggling
    shapes — 400, never a guessed framing."""
    import socket

    srv, app = server

    def raw(request: bytes) -> int:
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        s.sendall(request)
        data = s.recv(1024)
        s.close()
        return int(data.split(b" ")[1])

    assert raw(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\nContent-Length: 3\r\n\r\n"
        b"3\r\nabc\r\n0\r\n\r\n"
    ) == 400
    assert raw(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Content-Length: 3\r\nContent-Length: 5\r\n\r\nabcde"
    ) == 400
    # equal duplicates are RFC-tolerable; the body reads by that length
    # and the 3 garbage bytes reach the codec (500 = framing accepted)
    assert raw(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Content-Length: 3\r\nContent-Length: 3\r\n\r\nabc"
    ) == 500


def test_unsupported_transfer_encoding_501(server):
    """Go net/http parity: any transfer coding other than a lone final
    "chunked" is 501 Not Implemented — de-chunking a "gzip, chunked"
    stream without un-gzipping would hand garbage to the codec."""
    import socket

    srv, app = server

    def raw(request: bytes) -> int:
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        s.sendall(request)
        data = s.recv(1024)
        s.close()
        return int(data.split(b" ")[1])

    for te in (b"gzip, chunked", b"identity", b"gzip", b"chunked, gzip"):
        status = raw(
            b"POST /write HTTP/1.1\r\nHost: x\r\n"
            b"Transfer-Encoding: " + te + b"\r\n\r\n"
            b"3\r\nabc\r\n0\r\n\r\n"
        )
        assert status == 501, te
    # plain chunked (case-insensitive, surrounding space) still accepted
    assert raw(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding:  Chunked \r\n\r\n"
        b"3\r\nabc\r\n0\r\n\r\n"
    ) == 500  # garbage body reaches the codec: framing accepted


def test_transfer_encoding_joined_across_field_lines(server):
    """ADVICE r11 (medium): headers.get() returns only the FIRST
    Transfer-Encoding line, so 'TE: chunked' + 'TE: gzip' as separate
    field lines was silently de-chunked with the gzip coding ignored.
    Go's textproto joins repeated field lines (RFC 9110 §5.3 list
    semantics) and net/http serves 501 — so must we, in either order."""
    import socket

    srv, app = server

    def raw(request: bytes) -> int:
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        s.sendall(request)
        data = s.recv(1024)
        s.close()
        return int(data.split(b" ")[1])

    for first, second in ((b"chunked", b"gzip"), (b"gzip", b"chunked"),
                          (b"chunked", b"chunked")):
        assert raw(
            b"POST /write HTTP/1.1\r\nHost: x\r\n"
            b"Transfer-Encoding: " + first + b"\r\n"
            b"Transfer-Encoding: " + second + b"\r\n\r\n"
            b"3\r\nabc\r\n0\r\n\r\n"
        ) == 501, (first, second)
    # one line stays the accepted framing (garbage body -> codec 500)
    assert raw(
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"3\r\nabc\r\n0\r\n\r\n"
    ) == 500


def test_content_length_token_is_strict_digits(server):
    """ADVICE r11: bare int() accepts '+5', '5 ', and '5_0' (parsed as
    50!) — Go rejects all three with 400, and '5_0' is a real framing
    difference.  The value must validate as RFC 9110 1*DIGIT before
    conversion."""
    import socket

    srv, app = server

    def raw(request: bytes) -> int:
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        s.sendall(request)
        data = s.recv(1024)
        s.close()
        return int(data.split(b" ")[1])

    head = b"POST /write HTTP/1.1\r\nHost: x\r\n"
    for value in (b"+5", b"5_0", b"5 ", b" 5 ", b"0x10", b"5,5",
                  b"1" * 20):
        assert raw(head + b"Content-Length: " + value + b"\r\n\r\n"
                   + b"x" * 50) == 400, value
    # ADVICE r12: Go parses with ParseUint(cl, 10, 63), so a 19-digit
    # value >= 2^63 is a malformed header (400), not an oversized body
    # (413) — the digits-only token alone admits values up to ~1e19
    assert raw(head + b"Content-Length: 9223372036854775808\r\n\r\n") == 400
    # ... while 2^63-1 parses fine and the 32 MiB body cap decides (413)
    assert raw(head + b"Content-Length: 9223372036854775807\r\n\r\n") == 413
    # canonical digits still work end-to-end (3 garbage bytes -> 500)
    assert raw(head + b"Content-Length: 3\r\n\r\nabc") == 500


def test_chunk_size_line_budget(server):
    """ADVICE r11: the chunk-size line used readline(128), silently
    truncating a valid long chunk extension so its tail spliced into the
    body read (failing closed only via a misleading chunk-terminator
    400).  Go budgets 4096 bytes for the line: a moderate extension must
    be ACCEPTED, and one beyond the budget must 400 explicitly."""
    import socket

    srv, app = server

    def raw(request: bytes) -> int:
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        s.sendall(request)
        data = s.recv(1024)
        s.close()
        return int(data.split(b" ")[1])

    head = (
        b"POST /write HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
    )
    # 200-byte extension: over the old 128 cap, within Go's 4096 budget —
    # the chunk layer must accept it (3 garbage bytes reach the codec)
    assert raw(
        head + b"3;ext=" + b"a" * 200 + b"\r\nabc\r\n0\r\n\r\n"
    ) == 500
    # beyond the 4096 budget: explicit 400, not a spliced body
    assert raw(
        head + b"3;ext=" + b"a" * 5000 + b"\r\nabc\r\n0\r\n\r\n"
    ) == 400
    # the exact boundary (ADVICE r12): Go's readChunkLine rejects at
    # len(line) >= 4096 COUNTING the CRLF, so a 4095-byte line is the
    # longest accepted and a 4096-byte line must 400 — the old 4096+2
    # cap let 4097-4098-byte lines through
    assert raw(
        head + b"3;ext=" + b"a" * (4095 - 8) + b"\r\nabc\r\n0\r\n\r\n"
    ) == 500
    assert raw(
        head + b"3;ext=" + b"a" * (4096 - 8) + b"\r\nabc\r\n0\r\n\r\n"
    ) == 400


def test_label_reexpansion_splits_at_first_equals():
    """P3 re-expansion must split stored ``name=value`` strings at the
    FIRST '=' (the structural one, ``read.go:84-89`` / strings.SplitN):
    a label VALUE containing '=' round-trips intact.  The matcher corpus
    plants ``job=a=b`` but no response-assembly test did (the r13
    mutation screen's M40 — rpartition — survived), so pin the leg
    directly, including an empty value and a value that is ONLY '='."""
    from datetime import datetime, timezone

    from remote_tsdb_clickhouse_spark.server.service import row_to_timeseries

    row = {
        "metric_name": "up",
        "slb": ["env=", "eq==", "job=a=b"],
        "samples": [
            {"v": 1.5, "t": datetime(2024, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)}
        ],
    }
    ts = row_to_timeseries(row)
    assert [(l.name, l.value) for l in ts.labels] == [
        ("__name__", "up"),
        ("env", ""),
        ("eq", "="),
        ("job", "a=b"),
    ]
