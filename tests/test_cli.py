"""CLI daemon entrypoint (reference ``main.go:82-95``): flag surface,
``:port`` normalization, fail-fast store check, and an end-to-end
write/read over the server it builds.

The server is built in-process against the session SparkSession (a
subprocess would pay a second ~20 s JVM spin-up for no extra coverage —
``build_server`` is exactly what ``main()`` runs after arg parsing)."""

from __future__ import annotations

import pytest

from remote_tsdb_clickhouse_spark import codec, prompb
from remote_tsdb_clickhouse_spark.server.__main__ import build_server, parse_args


def test_port_normalization():
    assert parse_args(["--store", "/tmp/x", "--http", "9131"]).http == ":9131"
    assert parse_args(["--store", "/tmp/x", "--http", "0.0.0.0:9131"]).http == "0.0.0.0:9131"


def test_exactly_one_storage_leg():
    with pytest.raises(SystemExit):
        parse_args(["--store", "/tmp/x", "--db", "127.0.0.1:8123"])
    with pytest.raises(SystemExit):
        parse_args([])


def test_db_flag_surface_defaults():
    args = parse_args(["--db", "127.0.0.1:8123"])
    assert args.db_database == "default"  # main.go:86 default
    assert args.db_username == "default"  # main.go:87 default
    assert args.db_password == ""
    assert args.table == "metrics.samples"  # main.go:89 default


def test_flag_surface_defaults():
    args = parse_args(["--store", "/tmp/x"])
    assert args.read_ignore_label == "remote=clickhouse"  # main.go:88 default
    assert args.read_ignore_hints is False


def test_fail_fast_on_missing_store(spark, tmp_path):
    args = parse_args(["--store", str(tmp_path / "nope"), "--http", "127.0.0.1:0"])
    with pytest.raises(SystemExit, match="does not exist"):
        build_server(args, spark=spark)


@pytest.mark.parametrize("store", ["s3a://bucket/samples", "hdfs://namenode:8020/samples"])
def test_non_local_store_refused(spark, store):
    """``/write`` publishes by a local atomic rename, so a remote store is
    a startup error that points at the streaming ingest."""
    args = parse_args(["--store", store, "--http", "127.0.0.1:0", "--create-if-missing"])
    with pytest.raises(SystemExit, match="streaming ingest"):
        build_server(args, spark=spark)


def test_file_uri_store_commits_locally(spark, tmp_path):
    import urllib.request

    root = tmp_path / "samples"
    args = parse_args(["--store", root.as_uri(), "--http", "127.0.0.1:0", "--create-if-missing"])
    srv = build_server(args, spark=spark).start()
    try:
        wr = prompb.WriteRequest(timeseries=[prompb.TimeSeries(
            labels=[prompb.Label("__name__", "up")], samples=[prompb.Sample(1.0, 1704067200000)],
        )])
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/write", data=codec.encode_write_request(wr), method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
    finally:
        srv.stop()
    [f] = root.rglob("*.parquet")
    assert f.parent.name == "ts_date=2024-01-01" and f.name.startswith("part-00000-")


def test_cli_server_write_read_roundtrip(spark, tmp_path):
    import urllib.request

    args = parse_args(
        [
            "--store",
            str(tmp_path / "samples"),
            "--http",
            "127.0.0.1:0",  # ephemeral port
            "--create-if-missing",
            "--read.ignore-hints",
        ]
    )
    srv = build_server(args, spark=spark).start()
    try:
        wr = prompb.WriteRequest(
            timeseries=[
                prompb.TimeSeries(
                    labels=[
                        prompb.Label("__name__", "up"),
                        prompb.Label("job", "cli"),
                    ],
                    samples=[prompb.Sample(1.0, 1704067200000)],
                )
            ]
        )
        url = f"http://127.0.0.1:{srv.port}"
        req = urllib.request.Request(
            f"{url}/write", data=codec.encode_write_request(wr), method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
        from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery

        rr = prompb.ReadRequest(
            queries=[
                ReadQuery(
                    start_ms=1704067200000,
                    end_ms=1704070800000,
                    matchers=(LabelMatcher(MatcherType.EQ, "__name__", "up"),),
                )
            ]
        )
        req = urllib.request.Request(
            f"{url}/read", data=codec.encode_read_request(rr), method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            resp = prompb.decode_read_response(codec.snappy_decompress(r.read()))
        series = resp.results[0].timeseries
        assert len(series) == 1
        assert ("job", "cli") in [(lb.name, lb.value) for lb in series[0].labels]
        assert series[0].samples[0].value == 1.0
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# ClickHouse storage leg (-db flags; reference main.go:85-89, conn.go:22-64)
# ---------------------------------------------------------------------------


class FakeClickHouse:
    """In-memory stand-in for the ClickHouse HTTP interface: answers ping,
    accumulates JSONEachRow inserts, serves the canonical read SELECT."""

    def __init__(self):
        import json

        self.json = json
        self.rows: list[dict] = []
        self.selects: list[str] = []
        self.seen_headers: list[dict] = []

    def __call__(self, url, payload=None, headers=None):
        from urllib.parse import parse_qs, urlparse

        self.seen_headers.append(dict(headers or {}))
        q = parse_qs(urlparse(url).query)["query"][0]
        if q == "SELECT 1":
            return b"1\n"
        if q.startswith("INSERT"):
            for line in payload.decode().splitlines():
                if line.strip():
                    self.rows.append(self.json.loads(line))
            return b""
        if q.startswith("SELECT metric_name, arraySort"):
            # the pushdown serving query (read.go:57): echo the stored rows
            # in its output shape; the test asserts on the SQL itself
            self.selects.append(q)
            out = [
                self.json.dumps(
                    {
                        "metric_name": r["metric_name"],
                        "slb": sorted(r["labels"]),
                        "t": r["updated_at"],
                        "max_0": r["value"],
                    }
                )
                for r in self.rows
            ]
            return ("\n".join(out) + "\n").encode()
        if q.startswith("SELECT toUnixTimestamp"):
            from datetime import datetime, timezone

            out = []
            for r in self.rows:
                es = int(
                    datetime.strptime(r["updated_at"], "%Y-%m-%d %H:%M:%S")
                    .replace(tzinfo=timezone.utc)
                    .timestamp()
                )
                out.append(
                    self.json.dumps(
                        {
                            "es": es,
                            "metric_name": r["metric_name"],
                            "labels": r["labels"],
                            "value": r["value"],
                        }
                    )
                )
            return ("\n".join(out) + "\n").encode()
        raise AssertionError(f"unexpected query: {q}")


def test_db_fail_fast_unreachable(spark):
    def refused(url, payload=None, headers=None):
        raise OSError("connection refused")

    args = parse_args(["--db", "127.0.0.1:1", "--http", "127.0.0.1:0"])
    with pytest.raises(SystemExit, match="unable to connect to clickhouse"):
        build_server(args, spark=spark, http=refused)


def test_db_ping_rejects_bad_response(spark):
    args = parse_args(["--db", "127.0.0.1:8123", "--http", "127.0.0.1:0"])
    with pytest.raises(SystemExit, match="unexpected ping response"):
        build_server(args, spark=spark, http=lambda *a: b"<html>proxy error</html>")


def test_cli_server_clickhouse_write_read_roundtrip(spark):
    import urllib.request

    fake = FakeClickHouse()
    args = parse_args(
        [
            "--db",
            "ch.example.internal:8123",
            "--db.username",
            "writer",
            "--db.password",
            "hunter2",
            "--http",
            "127.0.0.1:0",
        ]
    )
    srv = build_server(args, spark=spark, http=fake).start()
    try:
        wr = prompb.WriteRequest(
            timeseries=[
                prompb.TimeSeries(
                    labels=[
                        prompb.Label("__name__", "up"),
                        prompb.Label("job", "cli-ch"),
                    ],
                    samples=[prompb.Sample(2.5, 1704067200000)],
                )
            ]
        )
        url = f"http://127.0.0.1:{srv.port}"
        req = urllib.request.Request(
            f"{url}/write", data=codec.encode_write_request(wr), method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        # the flattened JSONEachRow row landed in "ClickHouse" (write.go:37-49)
        assert fake.rows == [
            {
                "updated_at": "2024-01-01 00:00:00",
                "metric_name": "up",
                "labels": ["job=cli-ch"],
                "value": 2.5,
            }
        ]
        # auth rode the HTTP headers on every request
        assert all(h.get("X-ClickHouse-User") == "writer" for h in fake.seen_headers)
        assert all(h.get("X-ClickHouse-Key") == "hunter2" for h in fake.seen_headers)

        from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
        from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery

        rr = prompb.ReadRequest(
            queries=[
                ReadQuery(
                    start_ms=1704067200000,
                    end_ms=1704070800000,
                    matchers=(LabelMatcher(MatcherType.EQ, "__name__", "up"),),
                )
            ]
        )
        req = urllib.request.Request(
            f"{url}/read", data=codec.encode_read_request(rr), method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            resp = prompb.decode_read_response(codec.snappy_decompress(r.read()))
        series = resp.results[0].timeseries
        assert len(series) == 1
        assert ("job", "cli-ch") in [(lb.name, lb.value) for lb in series[0].labels]
        assert series[0].samples[0].value == 2.5
        # /read was served by PUSHDOWN: the matcher+time clauses shipped to
        # ClickHouse as SQL (read.go:22-57), not planned Spark-side
        [sql] = fake.selects
        assert "metric_name='up'" in sql
        assert "t >= 1704067200" in sql
        assert "t <= 1704070800" in sql
    finally:
        srv.stop()
