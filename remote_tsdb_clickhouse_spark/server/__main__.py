"""CLI daemon entrypoint — the reference's front door (``main.go:76-121``).

``python -m remote_tsdb_clickhouse_spark.server --http 9131 --store /data/samples``
starts the Prometheus remote-storage adapter as a process: flag surface,
``:port`` address normalization (``main.go:93-95``), fail-fast storage check
(the ``db.Ping()`` analog, ``conn.go:62-64``), then serve forever.

Two storage legs, matching the reference's flag surface (``main.go:82-90``):

- ``--store PATH`` — the parquet samples store (``-table``'s role is the
  path).  A local path or ``file:`` URI: ``/write`` commits by local
  rename and ``/read`` scans the published files with pyarrow.
- ``--db ADDR`` (+ ``--db.database/--db.username/--db.password``,
  ``--table``) — the reference's exact deployment shape, ClickHouse is the
  storage.  ``ADDR`` is the ClickHouse **HTTP interface** (default port
  8123) because the writer ships JSONEachRow over HTTP
  (``sources/clickhouse.py``), not clickhouse-go's native TCP.

Like the reference's one Go process, the server starts no JVM: neither
leg's ``/write`` or ``/read`` calls Spark.  ``--read.*`` flags are kept
verbatim; ``--debug`` logs one access line per request on stderr (zap debug
analog, ``main.go:91``).
"""

from __future__ import annotations

import argparse
import logging
import os
import sys


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="remote-tsdb-clickhouse-spark",
        description="Prometheus remote-storage adapter backed by Spark",
    )
    p.add_argument(
        "--http",
        default="9131",
        help="listen on this [address:]port (main.go:84)",
    )
    p.add_argument(
        "--store",
        default=None,
        help="parquet samples table path (Spark-native storage leg)",
    )
    p.add_argument(
        "--db",
        default=None,
        help="ClickHouse storage leg: HTTP interface at this address[:port] "
        "(main.go:85; port defaults to 8123)",
    )
    p.add_argument(
        "--db.database",
        dest="db_database",
        default="default",
        help="ClickHouse database (main.go:86)",
    )
    p.add_argument(
        "--db.username",
        dest="db_username",
        default="default",
        help="ClickHouse username (main.go:87)",
    )
    p.add_argument(
        "--db.password",
        dest="db_password",
        default="",
        help="ClickHouse password (main.go:88)",
    )
    p.add_argument(
        "--table",
        default="metrics.samples",
        help="write to this database.tablename (main.go:89)",
    )
    p.add_argument(
        "--read.ignore-label",
        dest="read_ignore_label",
        default="remote=clickhouse",
        help="ignore this label in read requests (main.go:90); empty disables",
    )
    p.add_argument(
        "--read.ignore-hints",
        dest="read_ignore_hints",
        action="store_true",
        help="ignore step/range hints in read requests (main.go:91)",
    )
    p.add_argument(
        "--debug",
        action="store_true",
        help="log every request to stderr (main.go:92)",
    )
    p.add_argument(
        "--create-if-missing",
        action="store_true",
        help="allow an empty/nonexistent store path instead of failing fast",
    )
    args = p.parse_args(argv)
    if (args.store is None) == (args.db is None):
        p.error("exactly one of --store (parquet) or --db (ClickHouse) is required")
    # ':port' normalization (main.go:93-95)
    if ":" not in args.http:
        args.http = ":" + args.http
    return args


def build_server(args: argparse.Namespace, spark=None, http=None):
    """Construct (but don't start) the AdapterServer — separable for tests.

    ``spark`` (optional) is handed to the store, which serves no request
    with it; ``main()`` passes none.  ``http`` (optional) is injected into
    the ClickHouse leg so tests can run against a fake transport."""
    from remote_tsdb_clickhouse_spark.server.http import AdapterApp, AdapterServer, access_log

    # INFO, not unset, without --debug: no root logger level turns it on
    access_log.setLevel(logging.DEBUG if args.debug else logging.INFO)

    if args.db is not None:
        from remote_tsdb_clickhouse_spark.sources.clickhouse import ClickHouseStore

        addr = args.db if ":" in args.db else f"{args.db}:8123"
        store = ClickHouseStore(
            spark,
            base_url=f"http://{addr}",
            table=args.table,
            database=args.db_database,
            username=args.db_username,
            password=args.db_password,
            http=http,
        )
        # immediately try to connect with the provided credentials, fail
        # fast (conn.go:62-64)
        try:
            store.ping()
        except ConnectionError as e:
            raise SystemExit(str(e)) from e
        writer = store
    else:
        from remote_tsdb_clickhouse_spark.sources.samples_store import (
            SamplesStore,
            local_store_path,
        )
        from remote_tsdb_clickhouse_spark.sources.writer import TimeseriesWriter

        # a /write is published by an atomic rename and fsynced before the
        # 200, which needs a local POSIX filesystem
        if local_store_path(args.store) is None:
            raise SystemExit(
                f"store {args.store!r} is not a local path or file: URI; the HTTP "
                "/write commit needs a local filesystem.  Remote stores are fed "
                "by the streaming ingest (remote_tsdb_clickhouse_spark.streaming.ingest.StreamingIngest)"
            )
        store = SamplesStore(spark, args.store)
        # fail-fast storage check, the db.Ping() analog: an unreadable or
        # absent table is a config error surfaced at startup, not on the
        # first request
        if not args.create_if_missing and not os.path.exists(local_store_path(args.store)):
            raise SystemExit(
                f"store path {args.store!r} does not exist (use --create-if-missing)"
            )
        writer = TimeseriesWriter(store)

    # /read is served by the store itself: ClickHouse runs the matcher and
    # downsample SQL (read.go:15-101), the parquet store scans its
    # published files without Spark
    app = AdapterApp(
        writer,
        ignore_label=args.read_ignore_label or None,
        ignore_hints=args.read_ignore_hints,
        read_request_handler=store.read_request,
    )
    host, _, port = args.http.rpartition(":")
    return AdapterServer(app, host=host or "0.0.0.0", port=int(port))


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    logging.basicConfig(format="%(message)s")
    server = build_server(args)
    # the zap "listening" line (main.go:155-160), with the bound port
    host, port = server.httpd.server_address[:2]
    backend = f"db={args.db} table={args.table}" if args.db else f"store={args.store}"
    print(f"listening addr={host}:{port} {backend}", file=sys.stderr, flush=True)
    server.start()
    try:
        server.join()
    except KeyboardInterrupt:
        server.stop()


if __name__ == "__main__":
    main()
