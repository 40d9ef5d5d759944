from __future__ import annotations

import glob
import os
import sys
from datetime import datetime, timezone

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def entry_sources() -> list[str]:
    """Paths of the query contract's source: the ``__spark_entry__``
    registry and every ``queries/*.py`` module.  Fails closed: every family
    module the registry looks queries up in must be among them, so a moved
    or renamed family cannot drop out of the source-walking tests."""
    import __spark_entry__ as entry

    paths = sorted(glob.glob(os.path.join(REPO_ROOT, "queries", "*.py")))
    missing = {os.path.abspath(m.__file__) for m in entry.FAMILIES} - set(paths)
    assert not missing, f"family modules outside queries/: {missing}"
    return [os.path.join(REPO_ROOT, "__spark_entry__.py"), *paths]


@pytest.fixture(scope="session")
def spark():
    from remote_tsdb_clickhouse_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("tests")
    yield spark


def ts(y, mo, d, h=0, mi=0, s=0):
    return datetime(y, mo, d, h, mi, s, tzinfo=timezone.utc)


def epoch_ms(y, mo, d, h=0, mi=0, s=0, ms=0):
    return int(ts(y, mo, d, h, mi, s).timestamp() * 1000) + ms


@pytest.fixture(scope="session")
def samples_df(spark):
    """Small hand-built samples table with adversarial labelsets (FIXTURES.md §1)."""
    from remote_tsdb_clickhouse_spark.model import SAMPLES_SCHEMA

    naive = lambda *a: datetime(*a)  # session TZ is UTC; naive == UTC
    rows = [
        # go_goroutines on two instances; job=omada on one
        (naive(2024, 1, 1, 0, 0, 0), "go_goroutines", ["instance=10.0.0.1:9100", "job=omada"], 35.0),
        (naive(2024, 1, 1, 0, 0, 15), "go_goroutines", ["instance=10.0.0.1:9100", "job=omada"], 36.0),
        (naive(2024, 1, 1, 0, 0, 30), "go_goroutines", ["instance=10.0.0.1:9100", "job=omada"], 37.0),
        (naive(2024, 1, 1, 0, 0, 0), "go_goroutines", ["instance=10.0.0.2:9100", "job=node"], 12.0),
        (naive(2024, 1, 1, 0, 0, 15), "go_goroutines", ["instance=10.0.0.2:9100", "job=node"], 11.0),
        # duplicate (series, ts) with different values -> max-dedup (A1)
        (naive(2024, 1, 1, 0, 0, 15), "go_goroutines", ["instance=10.0.0.2:9100", "job=node"], 13.0),
        # regex-overlapping name; value containing '=' after the first
        (naive(2024, 1, 1, 0, 1, 0), "go_gc_duration", ["path=/api/v1?x=1", "q=0.5"], 0.01),
        # series MISSING job label (F9/F11 vacuous semantics)
        (naive(2024, 1, 1, 0, 1, 0), "http_requests_total", ["re=a.b*c"], 100.0),
        # out-of-order arrival within a series
        (naive(2024, 1, 1, 0, 2, 0), "http_requests_total", ["job=api", "le=0.5"], 7.0),
        (naive(2024, 1, 1, 0, 1, 30), "http_requests_total", ["job=api", "le=0.5"], 5.0),
        # unsorted labels on write (read re-sorts, P2)
        (naive(2024, 1, 1, 0, 3, 0), "up", ["job=omada", "instance=10.0.0.1:9100"], 1.0),
    ]
    return spark.createDataFrame(rows, SAMPLES_SCHEMA)
