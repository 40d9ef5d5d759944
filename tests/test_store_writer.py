"""Samples store (S5-S8): append/read round-trip, range delete, TSV import,
compaction, partition layout."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark import prompb
from remote_tsdb_clickhouse_spark.model import PARTITION_COLUMN, SAMPLES_FIELDS
from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore
from remote_tsdb_clickhouse_spark.sources.writer import TimeseriesWriter, write_request_rows


def make_store(spark, tmp_path) -> SamplesStore:
    return SamplesStore(spark, str(tmp_path / "samples"))


def wr(name, labels, samples):
    return prompb.WriteRequest(
        timeseries=[
            prompb.TimeSeries(
                labels=[prompb.Label("__name__", name)]
                + [prompb.Label(k, v) for k, v in labels],
                samples=[prompb.Sample(v, t) for v, t in samples],
            )
        ]
    )


def test_write_request_flatten_semantics():
    req = wr(
        "go_goroutines",
        [("instance", "10.0.0.1:9100"), ("job", "omada")],
        [(35.5, 1704067200123)],  # ms with sub-second junk
    )
    table = write_request_rows(req)
    assert table.schema.names == SAMPLES_FIELDS
    assert str(table.schema.field("ts").type) == "timestamp[us, tz=UTC]"
    assert table.to_pylist() == [
        {
            "ts": datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc),  # truncated to the second
            "metric_name": "go_goroutines",
            "labels": ["instance=10.0.0.1:9100", "job=omada"],
            "value": 35.5,
        }
    ]


def test_store_roundtrip_and_partitioning(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    n = writer.write(
        wr("up", [("job", "a")], [(1.0, 1704067200000), (0.0, 1704153600000)])  # two days
    )
    assert n == 2
    got = store.read().orderBy("ts").collect()
    assert [r["value"] for r in got] == [1.0, 0.0]
    # physical layout: one directory per date partition
    dirs = sorted(p.name for p in (tmp_path / "samples").iterdir() if p.is_dir())
    assert dirs == ["ts_date=2024-01-01", "ts_date=2024-01-02"]


def test_range_delete(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    base = 1704067200000
    writer.write(wr("m", [], [(float(i), base + i * 3_600_000) for i in range(48)]))
    assert store.read().count() == 48
    # delete (t > 12h, t <= 24h]: the reference's reimport-day semantics
    store.delete_time_range(datetime(2024, 1, 1, 12), datetime(2024, 1, 2, 0))
    left = store.read().orderBy("ts").collect()
    assert len(left) == 36
    hours = [r["ts"].hour + (0 if r["ts"].day == 1 else 24) for r in left]
    assert 12 in hours  # boundary start is exclusive -> survives
    assert 13 not in hours and 24 not in hours  # end inclusive -> deleted
    assert 25 in hours


def test_range_delete_full_partitions(spark, tmp_path):
    """A delete range fully covering whole date partitions must remove them.

    Zero-survivor partitions are invisible to dynamic partition overwrite
    (nothing is written for them), so they need explicit directory removal —
    the reference's day-reimport case (README.md:163-167): delete the day,
    re-import it; stale rows surviving here would win at read time via the
    max(value) dedup."""
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    base = 1704067200000  # 2024-01-01 00:00 UTC
    # 3 days x 24 hourly samples
    writer.write(wr("m", [], [(float(i), base + i * 3_600_000) for i in range(72)]))
    assert store.read().count() == 72
    # full-day delete of 2024-01-02: (day1 24:00 exclusive..day2 24:00]
    store.delete_time_range(datetime(2024, 1, 1, 23, 59, 59), datetime(2024, 1, 3, 0))
    left = store.read().collect()
    days = sorted({r["ts"].day for r in left})
    assert days == [1, 3]
    # day1 all 24 survive (all <= 23:00), day2's 24 deleted, day3's 00:00
    # sample deleted (end-inclusive) -> 24 + 23
    assert len(left) == 47
    # the fully-covered partition directory is gone from disk
    dirs = sorted(p.name for p in (tmp_path / "samples").iterdir() if p.is_dir())
    assert "ts_date=2024-01-02" not in dirs
    # reimport the day: fresh values must win (no stale max() shadows)
    writer.write(wr("m", [], [(1000.0 + i, base + 86_400_000 + i * 3_600_000) for i in range(24)]))
    day2 = [r["value"] for r in store.read().where(F.to_date("ts") == "2024-01-02").collect()]
    assert sorted(day2) == [1000.0 + i for i in range(24)]


def test_tsv_import(spark, tmp_path):
    tsv = tmp_path / "dump.tsv"
    tsv.write_text(
        "go_goroutines\tinstance=a,job=b\t1704067200123\t35.5\n"
        "up\t\t1704067215000\t1.0\n"
    )
    store = make_store(spark, tmp_path)
    assert store.import_tsv(str(tsv)) == 2
    rows = {r["metric_name"]: r for r in store.read().collect()}
    assert rows["go_goroutines"]["labels"] == ["instance=a", "job=b"]
    assert rows["go_goroutines"]["ts"] == datetime(2024, 1, 1, 0, 0, 0)
    assert rows["up"]["labels"] == []


def test_compact_reduces_files(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    for i in range(5):  # five appends -> many small files
        writer.write(wr("m", [("i", str(i))], [(1.0, 1704067200000 + i * 1000)]))
    files_before = list((tmp_path / "samples").glob("ts_date=*/*.parquet"))
    store.compact(files_per_partition=1)
    files_after = list((tmp_path / "samples").glob("ts_date=*/*.parquet"))
    assert len(files_after) < len(files_before)
    assert store.read().count() == 5


def test_read_plan_prunes_partitions(spark, tmp_path):
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery, read_query_grouped

    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    # two samples on different days
    writer.write(wr("m", [], [(1.0, 1704067200000), (2.0, 1704240000000)]))
    q = ReadQuery(start_ms=1704240000000, end_ms=1704326400000)  # day 3 only
    df = read_query_grouped(store.read(), q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the derived ts_date predicate must appear in the partition filters
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "ts_date" in pf and "2024-01-03" in pf
    assert [r["max_0"] for r in df.collect()] == [2.0]


def test_read_plan_pushes_name_filter(spark, tmp_path):
    """F3 metric-name equality must reach the parquet scan as a pushed
    filter (the MergeTree primary-key-prefix analog: row-group stats on the
    file-internal (metric_name, labels, ts) sort order prune by name)."""
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery, read_query_grouped

    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    writer.write(wr("up", [], [(1.0, 1704067200000)]))
    writer.write(wr("down", [], [(2.0, 1704067200000)]))
    q = ReadQuery(
        start_ms=1704067200000,
        matchers=(LabelMatcher(MatcherType.EQ, "__name__", "up"),),
    )
    df = read_query_grouped(store.read(), q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    # (the plan string elides long filter lists; match prefixes)
    assert "EqualTo(met" in pushed
    assert "GreaterThanOrEqual(ts," in pushed


def test_tsv_export_roundtrip(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    writer.write(
        wr(
            "up",
            [("job", "a"), ("q", "0.99")],
            [(1.5, 1704067200123), (0.125, 1704153600000)],
        )
    )
    writer.write(wr("bare", [], [(2.0, 1704067260000)]))  # empty labelset
    out = tmp_path / "dump_out"
    assert store.export_tsv(str(out)) == 3

    # re-import into a second store: value-exact round trip
    store2 = SamplesStore(spark, str(tmp_path / "samples2"))
    assert store2.import_tsv(str(out)) == 3
    a = sorted(tuple(r) for r in store.read().collect())
    b = sorted(tuple(r) for r in store2.read().collect())
    assert a == b


def test_tsv_export_time_slice_bounds(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    writer.write(
        wr("up", [("job", "a")], [(1.0, 1704067200000), (2.0, 1704153600000), (3.0, 1704240000000)])
    )
    out = tmp_path / "slice_out"
    # F1/F2: inclusive both ends, ms//1000 truncation
    n = store.export_tsv(str(out), start_ms=1704153600999, end_ms=1704240000000)
    assert n == 2
    got = spark.read.csv(
        str(out), sep="\t",
        schema="metric_name STRING, labels_str STRING, ts_ms LONG, value DOUBLE",
    )
    assert sorted(r["value"] for r in got.collect()) == [2.0, 3.0]


def test_tsv_roundtrip_randomized_sweep(spark, tmp_path):
    """Seeded randomized TSV export/import round trip: many series across
    several day partitions with format-legal special characters in label
    values (slashes, colons, equals in the value part) and extreme
    doubles (1e308, 5e-324, -0.0, 17-significant-digit sums).  The
    re-imported store must equal the original bit-for-bit — values
    compared via their IEEE bit pattern so -0.0 vs 0.0 and last-ulp
    drift in the shortest-round-trip printing would be caught.  Labels
    compare as sorted sets: the raw store preserves request order while
    ``import_tsv`` canonicalizes via ``array_sort`` — the same
    normalization every query-facing read applies (P2 ``arraySort``
    parity, ``read_plan.py``), so label ORDER is explicitly not part of
    the round-trip contract; membership and exact bytes are."""
    import random
    import struct

    rng = random.Random(401)
    base_ms = 1704067200000  # 2024-01-01
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)

    extreme = [1e308, 5e-324, -0.0, 0.1 + 0.2, -1e-300, 123456789.123456789]
    label_pool = [
        ("instance", "10.0.0.1:9100"),
        ("path", "/api/v1/query"),
        ("q", "0.999"),
        ("expr", "a=b"),  # '=' inside the value: split must be on the FIRST '='
        ("job", "node_exporter"),
    ]
    n_rows = 0
    for i in range(30):
        name = rng.choice(["up", "go_goroutines", "http:requests:rate5m", f"m_{i}"])
        labels = rng.sample(label_pool, rng.randint(0, 3))
        samples = []
        for _ in range(rng.randint(1, 6)):
            t = base_ms + rng.randrange(4) * 86_400_000 + rng.randrange(86_400) * 1000
            v = rng.choice(extreme) if rng.random() < 0.3 else rng.uniform(-1e6, 1e6)
            samples.append((v, t))
        writer.write(wr(name, labels, samples))
        n_rows += len(samples)

    out = tmp_path / "sweep_dump"
    # duplicate (series, ts) rows may exist across writes; export counts rows
    assert store.export_tsv(str(out)) == store.read().count()

    store2 = SamplesStore(spark, str(tmp_path / "samples_rt"))
    assert store2.import_tsv(str(out)) == store.read().count()

    def canon(df):
        rows = []
        for r in df.collect():
            rows.append(
                (
                    r["metric_name"],
                    tuple(sorted(r["labels"])),
                    r["ts"],
                    struct.pack("<d", r["value"]),
                )
            )
        return sorted(rows)

    assert canon(store.read()) == canon(store2.read())


def test_delete_time_range_randomized_sweep(spark, tmp_path):
    """Seeded randomized sweep of S8 range deletes: a 6-day store takes a
    sequence of deletes with arbitrary second-offset bounds — some
    spanning multiple day partitions, some entirely inside one, some
    matching nothing.  After each delete the surviving rows must equal a
    Python filter with the exact (start, end] convention, and day
    directories whose rows were all deleted must be gone from disk while
    untouched days' directories remain."""
    import random
    from datetime import timedelta

    rng = random.Random(2003)
    base = datetime(2024, 1, 1)
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)

    live = []  # (ts_datetime, name, labels_tuple, value)
    base_ms = 1704067200000
    for i in range(25):
        name = rng.choice(["up", "cpu"])
        labels = [("job", rng.choice(["a", "b"]))]
        samples = []
        for _ in range(rng.randint(2, 8)):
            off_s = rng.randrange(6 * 86_400)
            samples.append((float(rng.randint(0, 1000)), base_ms + off_s * 1000))
        writer.write(wr(name, labels, samples))
        for v, t in samples:
            live.append((base + timedelta(seconds=(t - base_ms) // 1000), name,
                         ("job=" + labels[0][1],), v))

    def snapshot():
        return sorted(
            (r["ts"], r["metric_name"], tuple(r["labels"]), r["value"])
            for r in store.read().collect()
        )

    assert snapshot() == sorted(live)

    for trial in range(4):
        lo_s = rng.randrange(6 * 86_400)
        span = rng.choice([rng.randrange(3600), rng.randrange(86_400 * 3), 10])
        start = base + timedelta(seconds=lo_s)
        end = base + timedelta(seconds=min(lo_s + span, 6 * 86_400))
        store.delete_time_range(start, end)
        live = [row for row in live if not (start < row[0] <= end)]
        assert snapshot() == sorted(live), (trial, start, end)

        on_disk = {p.name[8:] for p in (tmp_path / "samples").iterdir()
                   if p.is_dir() and p.name.startswith("ts_date=")}
        want_days = {row[0].date().isoformat() for row in live}
        assert on_disk == want_days, (trial, start, end)

    assert live  # the delete sequence must not have emptied the store


def test_compact_randomized_content_identity_sweep(spark, tmp_path):
    """Seeded randomized compaction sweep: many small appends across 3
    days (including duplicate (series, ts) rows from overlapping writes
    and extreme doubles), then compact at random files_per_partition
    targets.  Compaction is a physical rewrite only — the multiset of
    rows must be bit-identical before and after (values compared via
    IEEE bit patterns), every remaining day must hit the file target,
    and a post-compaction write must still append cleanly."""
    import random
    import struct

    rng = random.Random(2111)
    base_ms = 1704067200000
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)

    extreme = [1e308, 5e-324, -0.0, 0.1 + 0.2]
    for i in range(12):
        name = rng.choice(["up", "cpu", "io"])
        labels = [("job", rng.choice(["a", "b"]))]
        samples = []
        for _ in range(rng.randint(1, 6)):
            t = base_ms + rng.randrange(3 * 86_400) * 1000
            v = rng.choice(extreme) if rng.random() < 0.25 else rng.uniform(-1e6, 1e6)
            samples.append((v, t))
        writer.write(wr(name, labels, samples))

    def canon():
        return sorted(
            (r["ts"], r["metric_name"], tuple(r["labels"]),
             struct.pack("<d", r["value"]))
            for r in store.read().collect()
        )

    before = canon()
    for target in [rng.randint(1, 3), 1]:
        store.compact(files_per_partition=target)
        assert canon() == before, target
        for day_dir in (tmp_path / "samples").glob("ts_date=*"):
            n_files = len(list(day_dir.glob("*.parquet")))
            assert n_files <= target, (day_dir.name, n_files, target)

    writer.write(wr("up", [("job", "a")], [(42.0, base_ms + 1000)]))
    assert len(canon()) == len(before) + 1


def test_partition_pruning_keeps_the_end_instant_day(spark, tmp_path):
    """Mutation screen M69 (survived batch 12 unmutated: the pruning test
    queried a window whose end fell strictly inside the last day).  The
    derived ts_date predicate must keep the partition holding the END
    instant itself: F2's upper bound is inclusive, and a sample at
    exactly end_ms lives in the end day's partition — a `<` on the
    partition date silently prunes it while the ts filter would keep it."""
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery, read_query_grouped

    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    # one sample mid-day-2, one at EXACTLY midnight of day 3
    writer.write(wr("m", [], [(1.0, 1704196800000), (2.0, 1704240000000)]))
    q = ReadQuery(start_ms=1704153600000, end_ms=1704240000000)  # end = day-3 00:00:00Z
    got = sorted(r["max_0"] for r in read_query_grouped(store.read(), q).collect())
    assert got == [1.0, 2.0]  # the midnight sample is IN (inclusive F2 upper)


def _assert_files_sorted(root) -> int:
    """Every parquet file under ``root`` holds its rows in the store's
    physical order ``(metric_name, labels, ts)``; returns the file count."""
    import pyarrow.parquet as pq

    files = sorted(root.rglob("*.parquet"))
    assert files
    for f in files:
        rows = pq.read_table(f, columns=["metric_name", "labels", "ts"]).to_pylist()
        keys = [(r["metric_name"], r["labels"], r["ts"]) for r in rows]
        assert keys == sorted(keys), f"unsorted: {f.relative_to(root)}"
    return len(files)


def test_every_write_path_lands_sorted_files(spark, tmp_path):
    """Physical layout after an append, a range delete, a compaction and a
    rollup build: every file is sorted by (metric_name, labels, ts), and
    one request of one day lands as exactly one file.

    Mutant M105: without ``ts_date`` leading the sort keys, Spark's planned
    write sorts by ``ts_date`` alone and the series sort is dropped, so the
    files keep the request's order — here series and samples arrive
    reversed."""
    from remote_tsdb_clickhouse_spark.sources.rollup import RollupStore

    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    root = tmp_path / "samples"
    day_ms = 86_400_000
    base = 1704067200000

    def reversed_request(days, k):
        return prompb.WriteRequest(timeseries=[
            prompb.TimeSeries(
                labels=[prompb.Label("__name__", f"m{i % 3}"), prompb.Label("instance", f"i{i * 7 % 10}")],
                samples=[
                    prompb.Sample(float(k * 100 + s), base + d * day_ms + s * 60_000 + k)
                    for d in reversed(days) for s in reversed(range(10))
                ],
            )
            for i in reversed(range(30))
        ])

    writer.write(reversed_request([0], 0))
    assert _assert_files_sorted(root) == 1  # one request, one day: one file
    writer.write(reversed_request([0, 1], 1))
    assert _assert_files_sorted(root) == 3  # one more file per day written
    writer.write(reversed_request([1], 2))
    assert _assert_files_sorted(root) == 4

    store.delete_time_range(datetime(2024, 1, 1, 0, 4), datetime(2024, 1, 1, 0, 6))
    assert store.read().where(F.col(PARTITION_COLUMN) == "2024-01-01").count() == 2 * 30 * 8
    _assert_files_sorted(root)

    store.compact(files_per_partition=1)
    assert _assert_files_sorted(root) == 2

    rollups = RollupStore(spark, store, str(tmp_path / "rollup"))
    rollups.build(300)
    _assert_files_sorted(tmp_path / "rollup")
