"""util: the partition-floor guard for explode-heavy operators (spread)
and the one driver-side session cache (SessionCache)."""

from __future__ import annotations

from remote_tsdb_clickhouse_spark.util import (
    SESSION_CACHE,
    SESSION_CACHE_BOUND,
    SessionCache,
    _bytes_conf,
    spread,
)


def test_spread_repartitions_single_file_scan(spark, tmp_path):
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    out = spread(df)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_spread_many_tiny_files_still_repartitions(spark, tmp_path):
    """Spark bin-packs small files into FilePartitions (maxPartitionBytes /
    openCostInBytes), so n_files >= target does NOT imply enough scan
    partitions — 12 tiny files can scan as one.  spread() must fall through
    to the real partition probe, not short-circuit on file count."""
    target = spark.sparkContext.defaultParallelism
    n_files = max(12, target + 4)
    path = str(tmp_path / "tiny")
    spark.range(n_files).repartition(n_files).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= target  # the trap: many files...
    out = spread(df)
    assert out.rdd.getNumPartitions() >= target  # ...still spread correctly


def test_spread_noop_on_already_parallel_frame(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target * 2)
    assert spread(df) is df


def test_bytes_conf_parses_suffixes(spark):
    spark.conf.set("graft.test.bytes.plain", "1048576")
    spark.conf.set("graft.test.bytes.mb", "64m")
    spark.conf.set("graft.test.bytes.suffixed", "128MB")
    spark.conf.set("graft.test.bytes.kb", "4k")
    assert _bytes_conf(spark, "graft.test.bytes.plain", 0) == 1 << 20
    assert _bytes_conf(spark, "graft.test.bytes.mb", 0) == 64 << 20
    assert _bytes_conf(spark, "graft.test.bytes.suffixed", 0) == 128 << 20
    assert _bytes_conf(spark, "graft.test.bytes.kb", 0) == 4 << 10
    assert _bytes_conf(spark, "graft.test.bytes.absent", 42) == 42


def test_bench_calibration_job_pinned(spark):
    """The bench's host-speed calibration job must stay byte-for-byte the
    same workload across rounds (its published time is the cross-round
    host-speed normalizer): run the module's own CALIB_SQL at a reduced
    row count scaled from the same expression and pin the full-size
    constant via the module fields."""
    import bench

    assert bench.CALIB_N == 4_000_000_000
    assert bench.CALIB_EXPECTED == 2_000_015_793_174_243
    # the expression itself is deterministic: check a cheap 1e7-row prefix
    # against a locally computed reference of the same arithmetic
    n = 10_000_000
    got = spark.range(n).selectExpr(bench.CALIB_SQL).collect()[0]["s"]
    want = sum(i % 1000003 * (i % 999983) % 1000003 for i in range(n))
    assert got == want


def test_bench_calibration_mismatch_flagged(spark, capsys):
    """ADVICE r9: a calibration-sum mismatch must surface machine-readably
    (ok=False -> main() nulls host_calib_sec and publishes
    host_calib_ok=false), not just as a stderr warning.  A reduced row
    count computes a sum != the pinned full-size constant, exercising
    exactly the drift path."""
    import bench

    trials, ok = bench.measure_calibration(spark, n=1000)
    assert ok is False
    assert len(trials) == 3 and all(t >= 0 for t in trials)
    assert "not comparable" in capsys.readouterr().err
    # and the published-figure contract: ok=False nulls the headline field
    assert (min(trials) if ok else None) is None


def test_bench_stdout_json_fits_driver_capture_window():
    """The driver tail-captures ~2.2 KB of bench stdout; an 84-entry
    queries map once pushed the JSON's opening brace outside it (r1/r2
    "parsed": null — see the comment above bench.py's BENCH_DETAIL
    split).  Pin the contract: the stdout summary line, assembled exactly
    as main() does but with worst-case field widths — the 10 LONGEST real
    query names from the live entry module, maximal plausible timing
    widths, and the host_calib_trials array added in r13 — must leave
    comfortable headroom under the window."""
    import json

    import __spark_entry__ as entrymod

    names = sorted(entrymod.queries().keys(), key=len, reverse=True)[:10]
    line = json.dumps(
        {
            "metric": "total_query_sec",
            "value": 99999.999,
            "unit": "sec",
            "queries": {n: 9999.999 for n in names},
            "n_queries": 160,
            "sf": 0.001,
            "host_calib_sec": 99.999,
            "host_calib_trials": [99.999, 99.999, 99.999],
            "host_calib_ok": True,
        },
        separators=(",", ":"),
    )
    assert len(line) < 1200, f"bench stdout line {len(line)}B nears the ~2.2KB window"


def test_session_cache_bounded_fifo_eviction():
    """The session cache must not grow without bound — the /read server
    path builds one filter per distinct remote-read request, so an
    uncapped namespace is a slow driver-memory leak.  Each namespace
    evicts oldest-inserted past the bound, and namespaces are separate:
    an equal key in two namespaces holds two values."""
    m = SessionCache(bound=8)
    for i in range(100):
        m.get("ns", ("k", i), lambda i=i: f"v{i}")
        m.get("other", ("k", i), lambda i=i: f"other-v{i}")
    assert m.size("ns") == 8 and m.size("other") == 8
    # oldest evicted, newest retained (a re-get of a retained key is a hit)
    calls = []
    assert m.get("ns", ("k", 99), lambda: calls.append(1) or "rebuilt") == "v99"
    assert m.get("other", ("k", 99), lambda: calls.append(1) or "rebuilt") == "other-v99"
    assert not calls
    assert m.get("ns", ("k", 0), lambda: "rebuilt-0") == "rebuilt-0"
    # a cached None is a hit too (misses are detected by a sentinel)
    for _ in range(2):
        m.get("ns", "none", lambda: calls.append(1))
    assert calls == [1]


def test_session_cache_typeerror_fallback():
    """An unhashable key component (e.g. a Column slipping into
    series_window's extra_order) must fall back to direct construction,
    not raise."""
    m = SessionCache(bound=8)
    built = []
    for _ in range(3):
        m.get("ns", ("k", ["unhashable"]), lambda: built.append(1) or "v")
    assert len(built) == 3  # built every time, never cached
    assert m.size("ns") == 0


def test_session_cache_clears_on_context_change():
    """Cached values wrap py4j JavaObjects or hold their session; a
    relaunched SparkContext would leave stale references.  The cache
    tracks the active SparkContext and drops every namespace on change."""
    m = SessionCache(bound=8)
    m.get("ns", ("k",), lambda: "v1")
    m.get("other", ("k",), lambda: "w1")
    assert m.size("ns") == 1
    m._ctx = object()  # simulate: entries were cached under another context
    built = []
    assert m.get("ns", ("k",), lambda: built.append(1) or "v2") == "v2"
    assert built  # rebuilt: the old entry was dropped, not served stale
    assert m.size("other") == 0


def test_session_cache_concurrent_gets_stay_bounded():
    """The /read server's handler threads share the cache: concurrent
    misses past the bound must neither raise (two threads evicting the
    same oldest key) nor serve one key's value for another."""
    import sys
    import threading

    m = SessionCache(bound=16)
    errors = []

    def work(t):
        try:
            for i in range(3000):
                k = (t, i % 40)
                got = m.get("ns", k, lambda k=k: k)
                if got != k:
                    errors.append((k, got))
        except Exception as exc:  # recorded, asserted below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]
    assert m.size("ns") <= 16


def test_read_filter_memo_bounded_under_distinct_queries(spark):
    """r21 verdict item 3 'Done' shape: N distinct ReadQueries (the
    dashboard/server traffic pattern) leave the read-path memo bounded."""
    from remote_tsdb_clickhouse_spark.plans import read_plan as rp

    for i in range(600):
        rp.read_filter(rp.ReadQuery(start_ms=i * 1000, end_ms=i * 1000 + 500))
    assert SESSION_CACHE.size("read_plan") <= SESSION_CACHE_BOUND


def test_read_filter_memo_ignores_hint_only_differences(spark):
    """ADVICE r21: the built filter depends only on the time bounds,
    matchers and ignore_label — queries differing only in step/range
    hints (the common dashboard pattern) must share one cached filter."""
    from remote_tsdb_clickhouse_spark.plans import read_plan as rp

    q1 = rp.ReadQuery(start_ms=1000, end_ms=2000, hints=rp.ReadHints(step_ms=0))
    q2 = rp.ReadQuery(start_ms=1000, end_ms=2000, hints=rp.ReadHints(step_ms=60000))
    assert rp.read_filter(q1) is rp.read_filter(q2)


def test_no_private_driver_caches():
    """Every driver-side memo goes through util.SESSION_CACHE (one bound,
    one invalidation rule).  A weak-keyed dict pins its session through
    values that hold it, and an id()-keyed dict pins every session it has
    seen, so neither may creep back, nor a module-level OrderedDict LRU;
    function-local worker memos (plain dicts keyed by payload bytes) do
    not match."""
    import ast
    import glob
    import os

    def name(node):
        return getattr(node, "id", None) or getattr(node, "attr", None) or getattr(node, "name", None)

    from conftest import entry_sources

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = glob.glob(os.path.join(repo, "remote_tsdb_clickhouse_spark", "**", "*.py"), recursive=True)
    files += entry_sources()
    hits = []
    for path in files:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if name(node) == "WeakKeyDictionary" or (isinstance(node, ast.Call) and name(node.func) == "id"):
                hits.append(f"{path}:{node.lineno}: {ast.unparse(node)}")
        for stmt in tree.body:
            value = getattr(stmt, "value", None)
            if isinstance(value, ast.Call) and name(value.func) == "OrderedDict":
                hits.append(f"{path}:{stmt.lineno}: {ast.unparse(stmt)}")
    assert len(files) > 20
    assert not hits, hits


_RELAUNCH_SCRIPT = r"""
import gc, json, sys, weakref
sys.path.insert(0, sys.argv[1])
sf = sys.argv[2]
import __spark_entry__ as entry
from queries import tsdb
from queries._common import T0, T20
from remote_tsdb_clickhouse_spark.plans import read_plan as rp
from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
from remote_tsdb_clickhouse_spark.session import get_spark

q = rp.ReadQuery(start_ms=T0, end_ms=T20,
                 matchers=(LabelMatcher(MatcherType.EQ, "__name__", "view"),),
                 hints=rp.ReadHints(step_ms=60000))

def run(spark):
    frames = [entry.queries()["q6_revenue_delta"](spark, sf),
              entry.queries()["tsdb_read_eq"](spark, sf),
              rp.read_query_df(tsdb._samples(spark, sf), q)]
    return [sorted(repr(tuple(r)) for r in df.collect()) for df in frames]

spark = get_spark("relaunch")
spark.sparkContext.setLogLevel("ERROR")
first = run(spark)
old = weakref.ref(spark)
spark.stop()
del spark
spark = get_spark("relaunch")  # first session-cache access after the stop
spark.sparkContext.setLogLevel("ERROR")
gc.collect()
old_alive = old() is not None
second = run(spark)
spark.stop()
print("RESULT " + json.dumps({"sizes": [len(r) for r in first],
                              "equal": first == second, "old_alive": old_alive}))
"""


def test_session_cache_survives_gateway_relaunch(tmp_path):
    """Stop the session and get a new one in the same process: every
    memoized frame and expression is rebuilt against the new context (no
    py4j error from a stale JavaObject, equal results), and the stopped
    session is released once the cache has been touched.  A subprocess,
    so the suite's shared session is never stopped."""
    import json
    import os
    import subprocess
    import sys

    from conftest import SF_SMOKE

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run(
        [sys.executable, "-c", _RELAUNCH_SCRIPT, repo, SF_SMOKE],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert "Py4J" not in r.stderr, r.stderr[-4000:]
    out = json.loads(r.stdout.split("RESULT ", 1)[1])
    assert all(out["sizes"]), out  # every query returned rows
    assert out["equal"], out
    assert not out["old_alive"], out
