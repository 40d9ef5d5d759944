"""Driver-contract invariants for __spark_entry__: every query has an oracle
twin, keys match exactly, and the module imports cleanly (the driver's first
action each round)."""

from __future__ import annotations

import __spark_entry__ as entry


def test_every_query_has_oracle():
    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert q == o, f"drift: queries-only={q - o}, oracles-only={o - q}"


def test_oracles_are_nonempty_sql():
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_queries_are_callables():
    for name, fn in entry.queries().items():
        assert callable(fn), name


def test_each_family_holds_its_queries_oracles():
    """Each family module's query names are exactly its own oracle names,
    no name is in two families, and the registry order lists every name
    the families define, once."""
    seen: list[str] = []
    for family in entry.FAMILIES:
        names = set(family.queries())
        assert names == set(family.oracle_sql()), family.__name__
        seen += names
    assert len(seen) == len(set(seen)), "a query name in two families"
    assert sorted(seen) == sorted(entry.ORDER)


def test_registry_order_is_pinned():
    """queries() dict order is a contract: bench.py runs the families in
    order of first appearance, and perfbench's tsdb_analytics workload
    takes every 5th tsdb_* name (leaving out the store-served ones) in
    this order.  A reorder silently changes both, so pin it."""
    import hashlib

    names = list(entry.queries())
    assert len(names) == 160 and len(set(names)) == 160
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == (
        "b0bbc5a65dbbb84bb8cd580ce91fbd2f295ae996e45af82dd366e80f1f7e4251"
    )
    # perfbench.workloads.STORE_SERVED
    store_served = {
        "tsdb_rollup_serve", "tsdb_rollup_hierarchy",
        "tsdb_retention_serve", "tsdb_compact_serve",
    }
    tsdb = [n for n in names if n.startswith("tsdb_") and n not in store_served]
    assert tsdb[::5] == [
        "tsdb_quantile_over_time", "tsdb_mad_over_time", "tsdb_read_eq",
        "tsdb_downsample_range_clamp", "tsdb_label_join",
        "tsdb_histogram_buckets", "tsdb_series_count", "tsdb_resets_changes",
    ]


def test_registry_applies_query_confs(spark):
    """Every ``queries()`` callable sets the session confs the queries
    assume before it builds anything: in a session whose time zone is not
    UTC and whose conf memo is empty, a query still returns its oracle's
    rows.  The whole session cache is dropped, not only the ``confs``
    namespace, because the memoized frames were analyzed under UTC and
    would hide the zone."""
    from test_oracle_parity import SF_DIR, _duck_df, _row_multiset

    from remote_tsdb_clickhouse_spark.session import ensure_query_confs
    from remote_tsdb_clickhouse_spark.util import SESSION_CACHE

    name = "tsdb_read_eq"
    spark.catalog.clearCache()
    SESSION_CACHE.clear()
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got = _row_multiset(entry.queries()[name](spark, SF_DIR).toPandas())
    finally:
        spark.catalog.clearCache()
        SESSION_CACHE.clear()
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ensure_query_confs(spark)
    assert got == _row_multiset(_duck_df(entry.oracle_sql()[name]))


def test_oracle_sql_compiles_in_duckdb():
    """Each oracle must at least parse/bind against empty tables of the
    driver's schemas — catches typos without running Spark."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name, sql in entry.oracle_sql().items():
        con.execute(f"SELECT * FROM ({sql}) LIMIT 0")


def _driver_regex_patterns(src: str | None = None) -> list[str]:
    """Extract the pattern of EVERY RE/NRE ``LabelMatcher`` in the entry
    source (the registry and every ``queries/`` module), failing CLOSED:
    an extraction that matched only bare-Name-type positional calls with
    a constant third argument would silently exclude a matcher spelled
    ``MatcherType.RE``, via keyword args, or with a non-literal pattern
    from the regex checks below.  This walker classifies every LabelMatcher call and
    raises on any spelling it cannot prove is either non-regex or a
    constant-pattern regex.  ``src`` overrides the entry source so the
    fail-closed promise is itself testable."""
    import ast

    from conftest import entry_sources

    if src is None:
        srcs = [open(path).read() for path in entry_sources()]
    else:
        srcs = [src]
    patterns = []
    for node in (n for s in srcs for n in ast.walk(ast.parse(s))):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        is_ctor = (isinstance(fn, ast.Name) and fn.id == "LabelMatcher") or (
            isinstance(fn, ast.Attribute) and fn.attr == "LabelMatcher"
        )
        if not is_ctor:
            continue
        texpr = node.args[0] if node.args else next(
            (k.value for k in node.keywords if k.arg == "type"), None
        )
        if isinstance(texpr, ast.Name):
            tname = texpr.id
        elif isinstance(texpr, ast.Attribute):
            tname = texpr.attr
        else:
            raise AssertionError(
                f"line {node.lineno}: LabelMatcher type spelling this proof "
                f"cannot classify: {ast.dump(node)}"
            )
        if tname in ("EQ", "NEQ"):
            continue
        assert tname in ("RE", "NRE"), (
            f"line {node.lineno}: unknown MatcherType {tname!r}"
        )
        vexpr = node.args[2] if len(node.args) >= 3 else next(
            (k.value for k in node.keywords if k.arg == "value"), None
        )
        assert isinstance(vexpr, ast.Constant) and isinstance(vexpr.value, str), (
            f"line {node.lineno}: RE/NRE matcher whose pattern is not a "
            f"string literal — the regex no-op proofs cannot cover it"
        )
        patterns.append(vexpr.value)
    assert patterns, "entry defines no regex matchers? (extraction broke)"
    return patterns


def test_driver_regex_extraction_fails_closed():
    """The walker itself must raise on the spellings it claims to catch —
    otherwise 'fail closed' is an unexercised promise."""
    import pytest

    assert _driver_regex_patterns('LabelMatcher(RE, "n", "a.*")') == ["a.*"]
    assert _driver_regex_patterns(
        'LabelMatcher(MatcherType.NRE, "n", "b+")'
    ) == ["b+"]
    assert _driver_regex_patterns(
        'LabelMatcher(type=RE, name="n", value="c?")'
    ) == ["c?"]
    assert _driver_regex_patterns(
        'LabelMatcher(EQ, "n", some_variable); LabelMatcher(RE, "n", "x")'
    ) == ["x"]  # non-regex matchers may use any value spelling
    with pytest.raises(AssertionError):
        _driver_regex_patterns('LabelMatcher(RE, "n", some_variable)')
    with pytest.raises(AssertionError):
        _driver_regex_patterns('LabelMatcher(NRE, "n", value=f"{x}.*")')
    with pytest.raises(AssertionError):
        _driver_regex_patterns('LabelMatcher(WEIRD, "n", "x")')
    with pytest.raises(AssertionError):
        _driver_regex_patterns('LabelMatcher(compute_type(), "n", "x")')
    with pytest.raises(AssertionError):  # no matchers at all: proof is void
        _driver_regex_patterns("pass")


def test_driver_row_regexes_unaffected_by_re2_guard_extension():
    """Every regex literal any queries() entry hands to the matcher
    compiler is accepted by the RE2-portability guard, so the guard's
    possessive/atomic rejection only fires on patterns no query uses and
    cannot change any query's result."""
    from remote_tsdb_clickhouse_spark.plans.matchers import check_re2_portable

    for pat in _driver_regex_patterns():
        assert check_re2_portable(pat) == pat


def test_driver_row_regexes_unaffected_by_backslash_parity_scan():
    """The guard's backslash-parity scan only changes decisions for
    patterns containing an escaped literal backslash (``\\\\``) — NO
    queries() regex does, and every one is still accepted, so the scan
    cannot change any query's result.  (The scoped-diff property itself
    is pinned by
    test_matchers.py::test_backslash_parity_scan_is_noop_without_escaped_pairs.)

    The lookaround guard rides the same check: it can only SHRINK the
    rejection set
    (test_matchers.py::test_lookaround_parity_guard_only_shrinks_rejections),
    so the acceptance of every queries() regex asserted here holds."""
    from remote_tsdb_clickhouse_spark.plans.matchers import check_re2_portable

    for pat in _driver_regex_patterns():
        assert "\\\\" not in pat, f"driver regex {pat!r} has an escaped pair"
        assert check_re2_portable(pat) == pat
