"""Helpers shared by the query families: the session memo, the staging
builds' scratch root, the shared table frames, the epoch-ms query bounds,
the exact double sum, and the CTEs several families' oracles start from."""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.operators import dedup
from remote_tsdb_clickhouse_spark.plans.matchers import MatcherType
from remote_tsdb_clickhouse_spark.util import SESSION_CACHE, spread


#: a driver query: (spark, sf_dir) -> DataFrame
Query = Callable[[SparkSession, str], DataFrame]

EQ, NEQ, RE, NRE = MatcherType.EQ, MatcherType.NEQ, MatcherType.RE, MatcherType.NRE

# epoch-ms bounds used by the TSDB queries (events span 2024-01-01..01-30 UTC)
T0 = 1704067200000  # 2024-01-01
T5 = 1704412800000  # 2024-01-05
T20 = 1705708800000  # 2024-01-20


def _session_memo(namespace: str):
    """Memoize ``fn(spark, *args)`` in ``namespace`` of the one session
    cache (util.SessionCache), keyed by ``(fn module, fn name, *args)``
    (two families may name a helper alike): built once per SparkContext,
    dropped when the context changes.  Namespaces:
    ``table`` holds DataFrames (table frames and shared plan frames),
    ``index`` trained or collected index builds, ``staging`` setup
    written to disk (staging dirs, stores, bucketed tables)."""

    def deco(fn):
        @functools.wraps(fn)
        def memo(spark: SparkSession, *args):
            return SESSION_CACHE.get(
                namespace, (fn.__module__, fn.__name__, *args), lambda: fn(spark, *args)
            )

        return memo

    return deco


@functools.cache
def _scratch_root() -> str:
    """The one directory of this process under which every staging build
    makes its temp directories (stores, bucketed tables, streaming inputs
    and checkpoints); removed when the process exits."""
    root = tempfile.mkdtemp(prefix="graft_")
    pid = os.getpid()

    def remove() -> None:
        if os.getpid() == pid:  # a forked child exiting must not remove it
            shutil.rmtree(root, ignore_errors=True)

    atexit.register(remove)
    return root


def _mkdtemp(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


@_session_memo("table")
def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized :func:`read_events` frame (same rationale as
    :func:`_tbl`: the timestamp-normalized relation is immutable per
    session/sf; re-deriving it per query re-ran the schema job)."""
    from remote_tsdb_clickhouse_spark.sources.events import read_events

    return read_events(spark, sf_dir)


#: Fixed Column-tree memo: these helpers build the same
#: immutable expression trees on every query call (py4j round-trips);
#: share one instance per distinct input — expressions only, never data.
_expr_memo = functools.partial(SESSION_CACHE.get, "entry")


def _lbl(col: str = "slb") -> F.Column:
    return _expr_memo(("lbl", col), lambda: F.array_join(col, ",").alias("labels_str"))


def _epoch(col: str = "t") -> F.Column:
    return _expr_memo(("epoch", col), lambda: F.col(col).cast("long").alias(col))


def _dsum(col: F.Column) -> F.Column:
    """Order-independent exact sum of a double column: per-row DECIMAL(30,6)
    cast -> exact decimal sum -> double.  Bit-identical to the DuckDB oracle
    (float summation order is engine/partitioning-dependent; decimal is not).
    """
    return F.sum(col.cast("decimal(30,6)")).cast("double")


@_session_memo("table")
def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Session-memoized table frame.  Path-based ``read.parquet`` re-lists
    files and re-reads the footer schema on EVERY call — a driver-side job
    that cost ~0.3-0.5 s of the ~1 s fixed overhead each bench query paid.
    A real deployment reads through a catalog whose metastore caches
    exactly this metadata, so memoizing the (unresolved, immutable)
    DataFrame per session/sf is the faithful analog, not a bench trick:
    every query still plans, optimizes, and executes its own job from the
    shared relation."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf-scale documents arrive as one small parquet file = one partition;
    # spread so per-doc expression work uses every core (at real corpus
    # scale the input is already many-partitioned and this is a no-op)
    return spread(_tbl(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tbl(spark, sf_dir, "embeddings")


@_session_memo("table")
def _norm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized ``dedup.normalized_docs`` frame: the
    tokenize->shingle plan is a wide HOF expression tree whose PYTHON-side
    construction + analysis measured ~0.1-0.2 s per call — the same
    driver-latency argument as :func:`_tbl`/:func:`_samples`.  Same plan,
    same results; only the per-query rebuild goes away."""
    return dedup.normalized_docs(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------


# the same bounds as DuckDB timestamp literals, for the oracles
TS0 = "TIMESTAMP '2024-01-01 00:00:00'"
TS5 = "TIMESTAMP '2024-01-05 00:00:00'"
TS20 = "TIMESTAMP '2024-01-20 00:00:00'"


_H32 = "CAST('0x' || substring(md5({x}), 1, 8) AS BIGINT)"

_TOKS_CTE = """
toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), '\\s+'),
                       x -> x != '') AS toks
    FROM documents
)
"""

_SH_CTE = """
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(generate_series(1, len(toks) - 2),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE [] END) AS shingles
    FROM toks
)
"""

_EMB_NORM_CTE = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
"""
