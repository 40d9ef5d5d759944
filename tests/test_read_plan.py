"""Read path: downsampling policy (A2), grouped max (A1), series assembly (O2)."""

from __future__ import annotations

from datetime import datetime, timedelta

from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
from remote_tsdb_clickhouse_spark.plans.read_plan import (
    ReadHints,
    ReadQuery,
    downsample_interval_seconds,
    read_query_df,
    read_query_grouped,
)

EQ = MatcherType.EQ
START = int(datetime(2024, 1, 1).timestamp() * 1000)  # tz-naive ok: UTC session


def ms(h=0, mi=0, s=0):
    return START + ((h * 60 + mi) * 60 + s) * 1000


def test_downsample_policy_exact():
    # threshold: strictly greater than 2000 ms
    assert downsample_interval_seconds(ReadHints(step_ms=0)) is None
    assert downsample_interval_seconds(ReadHints(step_ms=2000)) is None
    # 2001 -> half=1000ms -> 1s
    assert downsample_interval_seconds(ReadHints(step_ms=2001)) == 1
    # 60000 -> 30000 -> 30s
    assert downsample_interval_seconds(ReadHints(step_ms=60000)) == 30
    # range smaller than step wins: min(60000, 10000)/2/1000 = 5
    assert downsample_interval_seconds(ReadHints(step_ms=60000, range_ms=10000)) == 5
    # range = 0 ignored; range >= step ignored
    assert downsample_interval_seconds(ReadHints(step_ms=60000, range_ms=0)) == 30
    assert downsample_interval_seconds(ReadHints(step_ms=60000, range_ms=70000)) == 30
    # floor at 1s: step 2400 -> 1200ms -> 1s
    assert downsample_interval_seconds(ReadHints(step_ms=2400)) == 1
    # ignore_hints kills it
    assert downsample_interval_seconds(ReadHints(step_ms=60000), ignore_hints=True) is None


def test_downsample_policy_property_vs_go_model():
    """Property differential: ``downsample_interval_seconds`` vs a LITERAL
    transcription of ``read.go:38-52`` — the branch guard, the
    range-beats-step substitution, the two successive truncating integer
    divisions (Go ``/`` truncates toward zero; the transcription keeps
    them as two operations in Go's order rather than one ``// 2000``), and
    the 1-second floor.  The exact-value test above pins the documented
    anchor points; this sweeps the full int64 hint space (plus the
    boundary neighborhood) so any divergence — including on hostile
    negative or huge hints a client could wire-encode — is caught against
    the reference model rather than our own docstring."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def go_trunc_div(a: int, b: int) -> int:
        q = a // b
        return q + 1 if q < 0 and q * b != a else q

    def go_model(step_ms: int, range_ms: int, ignore_hints: bool) -> int | None:
        # read.go:38-52, clause for clause
        if not (step_ms > 2000 and not ignore_hints):
            return None
        interval = step_ms
        if range_ms > 0 and range_ms < step_ms:
            interval = range_ms
        interval = go_trunc_div(interval, 2)
        interval = go_trunc_div(interval, 1000)
        if interval < 1:
            interval = 1
        return interval

    i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    near = st.integers(min_value=-5, max_value=5)
    hint = st.one_of(
        i64,
        near.map(lambda d: 2000 + d),  # the strict-threshold boundary
        near.map(lambda d: 4000 + d),  # the half-to-1s boundary
    )

    @given(step_ms=hint, range_ms=hint, ignore_hints=st.booleans())
    @settings(max_examples=500, deadline=None)
    def check(step_ms, range_ms, ignore_hints):
        got = downsample_interval_seconds(
            ReadHints(step_ms=step_ms, range_ms=range_ms), ignore_hints=ignore_hints
        )
        assert got == go_model(step_ms, range_ms, ignore_hints)

    check()


def test_grouped_max_dedup(spark, samples_df):
    # duplicate (series, ts) rows collapse under max (A1)
    q = ReadQuery(start_ms=0, matchers=(LabelMatcher(EQ, "__name__", "go_goroutines"),))
    rows = read_query_grouped(samples_df, q).collect()
    node = [r for r in rows if "job=node" in r["slb"]]
    by_t = {r["t"]: r["max_0"] for r in node}
    assert by_t[datetime(2024, 1, 1, 0, 0, 15)] == 13.0  # max(11, 13)
    assert len(node) == 2  # two distinct timestamps


def test_time_bounds_inclusive(spark, samples_df):
    q = ReadQuery(
        start_ms=ms(s=15),
        end_ms=ms(s=30),
        matchers=(LabelMatcher(EQ, "__name__", "go_goroutines"),),
    )
    rows = read_query_grouped(samples_df, q).collect()
    ts_seen = sorted({r["t"] for r in rows})
    assert ts_seen == [datetime(2024, 1, 1, 0, 0, 15), datetime(2024, 1, 1, 0, 0, 30)]


def test_end_ms_zero_means_unbounded(spark, samples_df):
    q = ReadQuery(start_ms=0, end_ms=0, matchers=())
    assert read_query_grouped(samples_df, q).count() > 0


def test_series_assembly_sorted(spark, samples_df):
    # out-of-order http_requests_total series comes back time-ascending
    q = ReadQuery(start_ms=0, matchers=(LabelMatcher(EQ, "job", "api"),))
    rows = read_query_df(samples_df, q).collect()
    assert len(rows) == 1
    samples = rows[0]["samples"]
    ts_list = [s["t"] for s in samples]
    assert ts_list == sorted(ts_list)
    assert [s["v"] for s in samples] == [5.0, 7.0]
    assert rows[0]["slb"] == ["job=api", "le=0.5"]


def test_labels_resorted_on_read(spark, samples_df):
    # 'up' was written with unsorted labels; read canonicalizes (P2)
    q = ReadQuery(start_ms=0, matchers=(LabelMatcher(EQ, "__name__", "up"),))
    rows = read_query_df(samples_df, q).collect()
    assert rows[0]["slb"] == ["instance=10.0.0.1:9100", "job=omada"]


def test_downsampled_bucket_max(spark, samples_df):
    # 60s step -> 30s buckets: go_goroutines omada {0,15}->bucket 0, {30}->bucket 30
    q = ReadQuery(
        start_ms=0,
        matchers=(LabelMatcher(EQ, "job", "omada"), LabelMatcher(EQ, "__name__", "go_goroutines")),
        hints=ReadHints(step_ms=60000),
    )
    rows = read_query_grouped(samples_df, q).collect()
    by_t = {r["t"]: r["max_0"] for r in rows}
    assert by_t == {
        datetime(2024, 1, 1, 0, 0, 0): 36.0,  # max(35@0s, 36@15s)
        datetime(2024, 1, 1, 0, 0, 30): 37.0,
    }


def test_read_path_randomized_end_to_end_sweep(spark):
    """Randomized integration sweep of the WHOLE remote-read path — F1/F2
    time bounds (ms//1000 truncation, inclusive upper, 0 => open), the
    matcher algebra incl. the F8 ignore-label drop, the A2 downsample
    policy (strict >2000 ms threshold, range-beats-step clamp, halving,
    1 s floor), A1 grouped max over duplicate (series, ts) rows, P2 label
    re-sort, and O1/O2 series assembly — against an independent pure-
    Python pipeline written from the Prometheus / ``read.go:13-101``
    SEMANTICS, not from the implementation, so agreement is evidence
    rather than tautology.  The fixed-case tests above pin each rule in
    isolation; this sweep exercises their composition on corpora the
    fixed cases cannot enumerate (random bounds with sub-second
    remainders, random hint combinations, random matcher stacks over
    serieses with missing labels and metachar values)."""
    import random
    import re as pyre

    from pyspark.sql import functions as F

    from remote_tsdb_clickhouse_spark.model import (
        DEFAULT_READ_IGNORE_LABEL,
        SAMPLES_SCHEMA,
    )

    rng = random.Random(0x51_0E10)

    METRICS = ["up", "down", "d.wn", "up2", "http_requests_total"]
    # ASCII-only pool (byte order == codepoint order, so Python sorted()
    # and Spark array_sort agree; non-ASCII collation is pinned elsewhere)
    LABEL_POOL = [
        "job=api", "job=db", "job=a=b", "job=^anchor$",
        "env=prod", "env=dev", "env=", "le=0.5",
        "remote=clickhouse", "instance=10.0.0.1:9100",
    ]
    NAME_LITS = METRICS + ["nosuch"]
    # Java/Python-common regex subset only
    NAME_RES = ["up.*", "d.wn", "up|down", ".*2", "h.+total", "nosuch.*"]
    LABEL_LITS = [
        ("job", "api"), ("job", "db"), ("job", "a=b"), ("env", "prod"),
        ("env", ""), ("le", "0.5"), ("remote", "clickhouse"), ("env", "nosuch"),
    ]
    LABEL_RES = [
        ("job", "a.*"), ("env", "prod|dev"), ("job", "db"), ("env", ""),
        ("le", "0\\.5"), ("instance", "10\\..*:9100"), ("job", "nosuch.*"),
    ]

    base_s = int(datetime(2024, 1, 1).timestamp())  # UTC session

    def ref_interval(step_ms: int, range_ms: int) -> int | None:
        # independent restatement of read.go:38-52
        if step_ms <= 2000:
            return None
        iv_ms = range_ms if 0 < range_ms < step_ms else step_ms
        return max((iv_ms // 2) // 1000, 1)

    def ref_re(pattern: str, s: str) -> bool:
        # the REFERENCE's regex semantics (read.go:104): partial match()
        # of the bare concat '^' + pattern + '$'.  NOT fullmatch(pattern):
        # for a top-level alternation the two diverge ('^up|down$' hits
        # 'up2' via the ^up branch), and the engine must reproduce the
        # reference — see test_matchers.py::
        # test_top_level_alternation_anchors_like_reference.  Python re's
        # alternation/anchor precedence matches Java's and RE2's here.
        return bool(pyre.search("^" + pattern + "$", s))

    def ref_matches(name: str, labels: list[str], ms_) -> bool:
        for m in ms_:
            v = m.value
            if m.name == "__name__":
                ok = {
                    MatcherType.EQ: lambda: name == v,
                    MatcherType.NEQ: lambda: name != v,
                    MatcherType.RE: lambda: ref_re(v, name),
                    MatcherType.NRE: lambda: not ref_re(v, name),
                }[m.type]()
            else:
                joined = f"{m.name}={v}"
                if m.type == MatcherType.EQ:
                    ok = joined == DEFAULT_READ_IGNORE_LABEL or joined in labels
                elif m.type == MatcherType.NEQ:
                    ok = joined not in labels
                elif m.type == MatcherType.RE:
                    ok = any(ref_re(joined, x) for x in labels)
                else:  # NRE: vacuously true on a missing label
                    ok = not any(ref_re(joined, x) for x in labels)
            if not ok:
                return False
        return True

    def rand_matchers() -> tuple[LabelMatcher, ...]:
        out = []
        for _ in range(rng.randrange(0, 4)):
            t = rng.choice(list(MatcherType))
            if rng.random() < 0.4:  # name matcher
                if t in (MatcherType.RE, MatcherType.NRE):
                    out.append(LabelMatcher(t, "__name__", rng.choice(NAME_RES)))
                else:
                    out.append(LabelMatcher(t, "__name__", rng.choice(NAME_LITS)))
            else:
                pool = LABEL_RES if t in (MatcherType.RE, MatcherType.NRE) else LABEL_LITS
                k, v = rng.choice(pool)
                out.append(LabelMatcher(t, k, v))
        return tuple(out)

    STEPS = [0, 1500, 2000, 2001, 2400, 5000, 30000, 60000]
    RANGES = [0, 1000, 4000, 10000, 60000, 70000]

    for trial in range(8):
        n = rng.randrange(60, 140)
        rows = []
        for _ in range(n):
            name = rng.choice(METRICS)
            labels = rng.sample(LABEL_POOL, rng.randrange(0, 4))
            off = rng.randrange(0, 7200)
            val = float(rng.randrange(-1000, 1000))
            rows.append((datetime(2024, 1, 1) + timedelta(seconds=off), name, labels, val))
        df = spark.createDataFrame(rows, SAMPLES_SCHEMA)

        start_ms = (base_s + rng.randrange(0, 3600)) * 1000 + rng.choice([0, 1, 500, 999])
        end_ms = 0 if rng.random() < 0.3 else (
            (base_s + rng.randrange(1800, 7200)) * 1000 + rng.choice([0, 1, 500, 999])
        )
        step_ms = rng.choice(STEPS + [rng.randrange(2001, 120000)])
        range_ms = rng.choice(RANGES + [rng.randrange(0, 120000)])
        q = ReadQuery(
            start_ms=start_ms, end_ms=end_ms, matchers=rand_matchers(),
            hints=ReadHints(step_ms=step_ms, range_ms=range_ms),
        )

        # --- independent Python pipeline -------------------------------
        interval = ref_interval(step_ms, range_ms)
        grouped: dict[tuple, float] = {}
        for dt, name, labels, val in rows:
            ts_s = int(dt.timestamp())
            if ts_s < start_ms // 1000:
                continue
            if end_ms > 0 and ts_s > end_ms // 1000:
                continue
            if not ref_matches(name, labels, q.matchers):
                continue
            t = ts_s - ts_s % interval if interval else ts_s
            key = (name, tuple(sorted(labels)), t)
            grouped[key] = max(grouped.get(key, float("-inf")), val)
        want_grouped = sorted((k[0], list(k[1]), k[2], v) for k, v in grouped.items())
        series: dict[tuple, list] = {}
        for (name, slb, t), v in grouped.items():
            series.setdefault((name, slb), []).append((t, v))
        want_series = sorted(
            (name, list(slb), sorted(samples)) for (name, slb), samples in series.items()
        )

        # --- Spark plan, timestamps compared as epoch seconds ----------
        got_grouped = sorted(
            (r["metric_name"], r["slb"], r["t"], r["max_0"])
            for r in read_query_grouped(df, q)
            .select("metric_name", "slb", F.col("t").cast("long").alias("t"), "max_0")
            .collect()
        )
        assert got_grouped == want_grouped, f"trial {trial}: grouped mismatch q={q}"
        got_series = sorted(
            (r["metric_name"], r["slb"], [tuple(s) for s in r["samples"]])
            for r in read_query_df(df, q)
            .select(
                "metric_name",
                "slb",
                F.expr("transform(samples, s -> struct(cast(s.t as long), s.v))").alias(
                    "samples"
                ),
            )
            .collect()
        )
        assert got_series == want_series, f"trial {trial}: assembly mismatch q={q}"


def test_trunc_ms_to_s_is_go_division():
    """F1/F2 nano-parity (VERDICT r11): Go's ``StartTimestampMs/1000``
    truncates toward zero; Python ``//`` floors.  The helper must match Go
    on the full int domain and equal ``// 1000`` everywhere ms >= 0 (the
    reachable domain — Prometheus timestamps are non-negative and
    ClickHouse DateTime cannot store pre-1970), so swapping it into the
    read path is a proven no-op for every driver row."""
    from remote_tsdb_clickhouse_spark.plans.read_plan import trunc_ms_to_s

    # Go semantics on negatives: -1500/1000 == -1, -1000/1000 == -1,
    # -999/1000 == 0 (floor would give -2, -1, -1)
    assert trunc_ms_to_s(-1500) == -1
    assert trunc_ms_to_s(-1000) == -1
    assert trunc_ms_to_s(-999) == 0
    assert trunc_ms_to_s(-1) == 0
    assert trunc_ms_to_s(0) == 0
    assert trunc_ms_to_s(1704067200500) == 1704067200
    # exhaustive sweep around zero plus wide strides: trunc == int(a/b)
    # mathematically, and floor == trunc for all non-negative ms
    for v in list(range(-5000, 5001)) + [10**k for k in range(3, 19)]:
        assert trunc_ms_to_s(v) == int(v / 1000) if abs(v) < 2**52 else True
        if v >= 0:
            assert trunc_ms_to_s(v) == v // 1000


def test_negative_ms_bound_truncates_toward_zero_on_both_legs(spark):
    """A pre-1970 (negative-ms) start bound must reproduce Go's
    truncate-toward-zero on BOTH legs (read.go:24-28): the Spark samples
    leg filters ``ts >= -1s`` for ``start_ms=-1500`` (floor semantics
    would admit the ``-2s`` row), and the ClickHouse pushdown leg emits
    ``t >= -1`` in its WHERE clause."""
    from remote_tsdb_clickhouse_spark.plans.read_plan import read_query_grouped
    from remote_tsdb_clickhouse_spark.sources.clickhouse import read_query_sql

    df = spark.createDataFrame(
        [
            ("m", ["job=a"], datetime(1969, 12, 31, 23, 59, 58), 1.0),  # -2 s
            ("m", ["job=a"], datetime(1969, 12, 31, 23, 59, 59), 2.0),  # -1 s
            ("m", ["job=a"], datetime(1970, 1, 1, 0, 0, 1), 3.0),       # +1 s
        ],
        "metric_name STRING, labels ARRAY<STRING>, ts TIMESTAMP, value DOUBLE",
    )
    q = ReadQuery(start_ms=-1500, matchers=(LabelMatcher(EQ, "__name__", "m"),))
    vals = sorted(r["max_0"] for r in read_query_grouped(df, q).collect())
    assert vals == [2.0, 3.0]  # -2 s row excluded: bound is -1 s, not -2 s

    sql = read_query_sql(q)
    assert "t >= -1" in sql and "t >= -2" not in sql
    # and an in-domain bound is byte-identical to the old floor spelling
    assert f"t >= {1704067200500 // 1000}" in read_query_sql(
        ReadQuery(start_ms=1704067200500, matchers=())
    )


def test_driver_row_read_bounds_are_nonnegative():
    """Every ReadQuery bound the entry source (the registry and every
    ``queries/`` module) constructs is a non-negative constant (resolved
    through module-level names and simple arithmetic), and trunc == floor
    on non-negative ms (pinned above) — so
    the read_plan/clickhouse trunc-toward-zero division gives every query
    the same result the floor spelling would."""
    import ast

    from conftest import entry_sources

    trees = [ast.parse(open(path).read()) for path in entry_sources()]

    # module-level constants of every file; a name two files bind to
    # different values resolves to nothing (fails closed below)
    consts: dict[str, int | None] = {}
    for tree in trees:
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
            ):
                try:
                    value = int(ast.literal_eval(node.value))
                except Exception:
                    continue
                name = node.targets[0].id
                consts[name] = value if consts.get(name, value) == value else None

    def resolve(expr) -> int:
        if isinstance(expr, ast.Constant):
            return int(expr.value)
        if isinstance(expr, ast.Name) and consts.get(expr.id) is not None:
            return consts[expr.id]
        if isinstance(expr, ast.BinOp):
            left, right = resolve(expr.left), resolve(expr.right)
            if isinstance(expr.op, ast.Mult):
                return left * right
            if isinstance(expr.op, ast.Add):
                return left + right
            if isinstance(expr.op, ast.Sub):
                return left - right
        raise AssertionError(f"unresolvable ReadQuery bound: {ast.dump(expr)}")

    bounds = []
    for node in (n for tree in trees for n in ast.walk(tree)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "ReadQuery"
        ):
            for i, arg in enumerate(node.args[:2]):
                bounds.append(resolve(arg))
            for kw in node.keywords:
                if kw.arg in ("start_ms", "end_ms"):
                    bounds.append(resolve(kw.value))
    assert bounds, "entry constructs no ReadQuery? (extraction broke)"
    assert all(b >= 0 for b in bounds), bounds
