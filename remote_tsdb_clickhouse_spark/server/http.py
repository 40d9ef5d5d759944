"""HTTP adapter shell (SURVEY §2.1 S1, §3.3).

The reference's endpoint surface (``main.go:116-153``):

- ``POST /write`` — snappy+protobuf WriteRequest -> storage insert; 500 +
  error counter on failure (Prometheus retries -> at-least-once, dedup'd at
  read time by the max() aggregate).
- ``POST /read``  — snappy+protobuf ReadRequest -> engine query ->
  snappy+protobuf ReadResponse with ``Content-Type:
  application/x-protobuf`` + ``Content-Encoding: snappy`` (main.go:66-67).
- ``GET /metrics`` — the five self-counters, Prometheus text format.
- anything else — 404 banner (main.go:116-120).

Threaded stdlib server: each request runs on its own handler thread.  A
``/read`` goes to the storage leg's ``read_request_handler``: the parquet
store's own Spark-free scan, or the ClickHouse pushdown.  Kept deliberately
thin and separable from the engine — this file only moves bytes.
"""

from __future__ import annotations

import logging
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from remote_tsdb_clickhouse_spark import codec
from remote_tsdb_clickhouse_spark.model import DEFAULT_READ_IGNORE_LABEL
from remote_tsdb_clickhouse_spark.server.metrics import MetricsRegistry

# the Spark read leg, served by no app here: perfbench's traced runs still
# wrap it under this module's name
from remote_tsdb_clickhouse_spark.server.service import handle_read_request  # noqa: F401
from remote_tsdb_clickhouse_spark.sources.writer import TimeseriesWriter

BANNER = b"remote-tsdb-clickhouse-spark\n"

#: The per-request access log: ``BaseHTTPRequestHandler``'s line, at DEBUG
#: (``--debug`` turns it on).
access_log = logging.getLogger("remote_tsdb_clickhouse_spark.access")

#: RFC 9112 chunk-size: 1*HEXDIG, bare — no sign, no 0x prefix, no
#: underscores (all of which Python's int(s, 16) would happily accept).
#: 16 hex digits bounds the value below any int overflow concern; real
#: sizes are further capped against DECODE_READ_LIMIT by the caller.
_CHUNK_SIZE_TOKEN = re.compile(rb"[0-9a-fA-F]{1,16}")

#: RFC 9110 Content-Length: 1*DIGIT, bare — int() alone accepts '+5',
#: ' 5 ', and '5_0' (parsed as 50), all of which Go's net/http rejects
#: with 400; '5_0' is a real framing difference (ADVICE r11).  19 digits
#: admits values up to ~1e19 > 2^63-1, so the numeric bound is enforced
#: separately: Go parses with ParseUint(cl, 10, 63) and replies 400 for
#: anything >= 2^63, NOT 413 (ADVICE r12) — see _CONTENT_LENGTH_MAX.
_CONTENT_LENGTH_TOKEN = re.compile(r"[0-9]{1,19}")

#: Go's ParseUint bitSize-63 ceiling: a digits-only Content-Length of
#: 2^63 or more fails Go's parse (400 "bad Content-Length"); below it the
#: value parses and the 32 MiB body cap decides (413).
_CONTENT_LENGTH_MAX = (1 << 63) - 1

#: Go's chunked reader budgets maxLineLength = 4096 bytes for the whole
#: chunk-size line INCLUDING the CRLF, and rejects at >= (readChunkLine's
#: ``len(p) >= maxLineLength`` counts the trailing LF), so the longest
#: accepted line is 4095 bytes with its LF.  readline(4095) reproduces
#: that exactly: a 4095-byte line arrives complete (accepted), a
#: 4096-byte line arrives truncated without its LF (rejected).  The
#: previous 4096+2 cap accepted 4097-4098-byte lines Go rejects
#: (ADVICE r12); the boundary is pinned in test_chunk_size_line_budget.
_CHUNK_LINE_LIMIT = 4096 - 1


class AdapterApp:
    """Transport-independent request handling (unit-testable without
    sockets)."""

    def __init__(
        self,
        writer: TimeseriesWriter,
        read_request_handler,
        *,
        ignore_label: str | None = DEFAULT_READ_IGNORE_LABEL,
        ignore_hints: bool = False,
    ):
        self.writer = writer
        # (req, *, ignore_label, ignore_hints) -> ReadResponse, served by
        # the store: the parquet store's Spark-free scan
        # (SamplesStore.read_request) or the ClickHouse pushdown
        # (ClickHouseStore.read_request, read.go:15-101)
        self.read_request_handler = read_request_handler
        self.ignore_label = ignore_label
        self.ignore_hints = ignore_hints
        self.metrics = MetricsRegistry()

    def handle_write(self, body: bytes) -> tuple[int, bytes]:
        self.metrics.write_requests_total.inc()
        try:
            req = codec.decode_write_request(body)
            n = self.writer.write(req)
            self.metrics.samples_written_total.inc(n)
            return 200, b""
        except Exception as e:  # 500 like main.go:134-138; Prometheus retries
            self.metrics.write_errors_total.inc()
            return 500, str(e).encode()

    def handle_read(self, body: bytes) -> tuple[int, bytes]:
        self.metrics.read_requests_total.inc()
        try:
            req = codec.decode_read_request(body)
            resp = self.read_request_handler(
                req, ignore_label=self.ignore_label, ignore_hints=self.ignore_hints
            )
            return 200, codec.encode_read_response(resp)
        except ConnectionError:
            # context.Canceled parity (main.go:147-152): a client that went
            # away mid-query is not a read error — swallowed, not counted.
            # 499 = client-closed-request; the socket is gone anyway.
            return 499, b""
        except Exception as e:
            self.metrics.read_errors_total.inc()
            return 500, str(e).encode()

    def handle_metrics(self) -> tuple[int, bytes]:
        return 200, self.metrics.expose().encode()


def make_handler(app: AdapterApp):
    class Handler(BaseHTTPRequestHandler):
        # Go's net/http serves HTTP/1.1 with keep-alive by default; safe
        # here because every reply carries Content-Length and every
        # request path reads (drains) the body before replying, while
        # malformed-stream paths set close_connection
        protocol_version = "HTTP/1.1"

        def log_message(self, format, *args):
            if access_log.isEnabledFor(logging.DEBUG):
                access_log.debug(
                    "%s - - [%s] %s",
                    self.address_string(),
                    self.log_date_time_string(),
                    format % args,
                )

        def handle_one_request(self):
            """A client that resets the connection — typically while this
            thread is parked in readline() awaiting its next keep-alive
            request — is a normal disconnect, not a server error: swallow
            it like Go's net/http (and main.go:147-152's
            context.Canceled) instead of letting socketserver print a
            traceback from the daemon thread."""
            try:
                super().handle_one_request()
            except ConnectionError:
                self.close_connection = True

        def _reply(self, status: int, body: bytes, headers: dict[str, str] | None = None):
            try:
                self.send_response(status)
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if self.command != "HEAD":  # HEAD: headers only (RFC 9110)
                    self.wfile.write(body)
            except ConnectionError:
                # client hung up while we were writing — nothing to do and
                # not an error (context.Canceled parity, main.go:147-152)
                pass

        def _read_body(self) -> bytes | None:
            """Request body, de-chunking ``Transfer-Encoding: chunked``
            like the reference's Go ``net/http`` does transparently
            (Prometheus normally sends Content-Length, but a chunked
            remote-write must not decode as an empty body).  Returns None
            after replying 400/413 on malformed or oversized streams —
            BOTH body framings are bounded by the same 32 MiB wire cap
            the read path enforces (codec.go:24), since an unbounded
            hostile stream would otherwise buffer arbitrary memory before
            the codec's own cap could see it.  Chunk-size tokens are
            validated as strict hex BEFORE int(): Python's int(s, 16)
            accepts '-5'/'+5'/'0x10'/'1_0', and a negative size would
            skip both the terminal-chunk test and the cap check, then
            read(-5) buffers until EOF — the exact unbounded-buffering
            hole the cap exists to close (ADVICE r10)."""
            # join ALL Transfer-Encoding field lines (RFC 9110 §5.3 list
            # semantics, what Go's textproto does): headers.get() returns
            # only the first line, so 'TE: chunked' + 'TE: gzip' would
            # silently de-chunk with the gzip coding ignored (ADVICE r11)
            te = ", ".join(self.headers.get_all("Transfer-Encoding") or []).strip().lower()
            if te and te != "chunked":
                # Go's net/http serves 501 for any transfer coding other
                # than a lone final "chunked" (incl. "gzip, chunked" and
                # the deprecated "identity") — de-chunking without
                # un-gzipping would hand garbage to the codec instead
                self._reply(501, b"unsupported transfer encoding\n")
                self.close_connection = True
                return None
            cls = self.headers.get_all("Content-Length") or []
            if (te and cls) or len(set(cls)) > 1:
                # request-smuggling guards (RFC 9112 §6.3.3, Go net/http):
                # chunked framing with a Content-Length, or conflicting
                # duplicate Content-Lengths, is an attack shape — reject
                # rather than pick a framing
                self._reply(400, b"conflicting body framing\n")
                self.close_connection = True
                return None
            if "chunked" not in te:
                if cls and not _CONTENT_LENGTH_TOKEN.fullmatch(cls[0]):
                    # strict digits-only token; a negative length is
                    # malformed framing (Go replies 400 here, not 413) and
                    # is unrepresentable once the sign is rejected
                    self._reply(400, b"malformed Content-Length\n")
                    self.close_connection = True
                    return None
                n = int(cls[0]) if cls else 0
                if n > _CONTENT_LENGTH_MAX:
                    # Go's ParseUint(cl, 10, 63) fails here, so Go frames
                    # this as a malformed header (400), not an oversized
                    # body (413) — the 19-digit token alone admits values
                    # in [2^63, 10^19) (ADVICE r12)
                    self._reply(400, b"malformed Content-Length\n")
                    self.close_connection = True
                    return None
                if n > codec.DECODE_READ_LIMIT:
                    self._reply(413, b"body exceeds 32 MiB cap\n")
                    self.close_connection = True
                    return None
                return self.rfile.read(n)
            body = bytearray()
            while True:
                line = self.rfile.readline(_CHUNK_LINE_LIMIT)
                if line and not line.endswith(b"\n"):
                    # readline() hit the cap mid-line: a longer chunk
                    # extension would have its tail spliced into the body
                    # read — reject explicitly instead of failing later
                    # with a misleading chunk-terminator 400 (ADVICE r11)
                    self._reply(400, b"chunk size line too long\n")
                    self.close_connection = True
                    return None
                size_str = line.split(b";")[0].strip()  # extensions ignored
                # strict hex token (Go net/http parity): an empty line is a
                # truncated stream, not a terminal chunk
                if not _CHUNK_SIZE_TOKEN.fullmatch(size_str):
                    self._reply(400, b"malformed chunk size\n")
                    self.close_connection = True
                    return None
                size = int(size_str, 16)
                if size == 0:
                    # drain optional trailers up to the blank line; a line
                    # longer than the readline cap comes back in fragments
                    # (e.g. a 128-byte trailer yields a second fragment of
                    # exactly b"\r\n") — only an UNfragmented line can be
                    # the blank terminator, or the drain exits early and
                    # desyncs a kept-alive stream.  Total trailer bytes are
                    # capped like Go's DefaultMaxHeaderBytes (1 MiB): a
                    # hostile never-terminating trailer stream must 400,
                    # not spin the drain forever
                    drained = 0
                    while True:
                        frag = self.rfile.readline(128)
                        drained += len(frag)
                        fragmented = False
                        while frag and not frag.endswith(b"\n"):
                            frag = self.rfile.readline(128)
                            drained += len(frag)
                            fragmented = True
                        if not fragmented and frag in (b"\r\n", b"\n", b""):
                            break
                        if drained > 1 << 20:
                            self._reply(400, b"trailer section exceeds 1 MiB\n")
                            self.close_connection = True
                            return None
                    return bytes(body)
                if len(body) + size > codec.DECODE_READ_LIMIT:
                    self._reply(413, b"chunked body exceeds 32 MiB cap\n")
                    self.close_connection = True
                    return None
                body += self.rfile.read(size)
                if self.rfile.read(2) != b"\r\n":
                    # Go's chunked reader rejects a malformed chunk
                    # terminator ("malformed chunked encoding") instead of
                    # resyncing on garbage
                    self._reply(400, b"malformed chunk terminator\n")
                    self.close_connection = True
                    return None

        def _dispatch(self):
            """Path-only routing, method-agnostic — exact parity with the
            reference's ``http.HandleFunc`` mux (main.go:116-153), where a
            GET to /write runs the write handler (empty body -> decode
            error -> 500 + error counter) and ANY method on an unknown
            path gets the 404 banner."""
            # read (and thereby drain) the body FIRST on every path —
            # Go's net/http consumes the request body even for handlers
            # that ignore it, so a bodied request to /metrics must not
            # leave unread bytes desyncing a keep-alive connection
            body = self._read_body()
            if body is None:
                return
            if self.path == "/metrics":
                status, payload = app.handle_metrics()
                self._reply(status, payload, {"Content-Type": "text/plain; version=0.0.4"})
            elif self.path == "/write":
                self._reply(*app.handle_write(body))
            elif self.path == "/read":
                status, payload = app.handle_read(body)
                headers = (
                    {"Content-Type": "application/x-protobuf", "Content-Encoding": "snappy"}
                    if status == 200
                    else {}
                )
                self._reply(status, payload, headers)
            else:
                self._reply(404, BANNER)

        do_GET = do_POST = do_PUT = do_DELETE = do_PATCH = do_HEAD = _dispatch

    return Handler


class AdapterServer:
    """Lifecycle wrapper: serve on an ephemeral or fixed port in a daemon
    thread (``serve_forever`` analog of main.go:162-164)."""

    def __init__(self, app: AdapterApp, host: str = "127.0.0.1", port: int = 0):
        self.app = app
        self.httpd = ThreadingHTTPServer((host, port), make_handler(app))
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "AdapterServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def join(self, timeout: float | None = None) -> None:
        """Block until the serving thread exits (the ``main()`` wait)."""
        if self._thread is not None:
            self._thread.join(timeout)

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
