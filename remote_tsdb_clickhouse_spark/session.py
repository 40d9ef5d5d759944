"""SparkSession construction with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from remote_tsdb_clickhouse_spark.util import SESSION_CACHE


def ensure_query_confs(spark: SparkSession) -> SparkSession:
    """Runtime confs every engine query assumes; safe on a live session.

    UTC session time zone makes epoch math deterministic regardless of host
    zone (and matches DuckDB's naive-timestamp interpretation in the oracle
    comparisons); AQE re-plans shuffles at runtime (skew joins, coalesced
    partitions) — essential at 100 TB, harmless locally.

    The confs are set once per session (the ``confs`` namespace of
    :data:`~remote_tsdb_clickhouse_spark.util.SESSION_CACHE`): every query
    entrypoint calls this, often several times per query, and each call
    used to pay ~6 py4j conf round-trips.  A later call returns at once,
    so it will NOT re-apply a conf that other code unset or changed
    mid-session.  Code that changes one of these confs must restore it
    itself.
    """
    SESSION_CACHE.get("confs", "ensured", lambda: _set_query_confs(spark))
    return spark


def _set_query_confs(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull(arr)`
    # above every explode, and predicate pushdown then drags that filter
    # through exchanges down to the scan — re-inlining the full array
    # expression (tokenize+shingle HOF chains here) into an interpreted
    # filter that recomputes it per row BEFORE the stage that computes it
    # for real (measured: the exploded shingle index builds 3.5x slower).
    # Every generator input in this engine is an array computed in the same
    # stage as its explode, so the inferred filter can never prune work —
    # excluding the rule changes plans, never results.
    _EXCLUDE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    try:
        existing = spark.conf.get("spark.sql.optimizer.excludedRules") or ""
    except Exception:
        existing = ""
    if _EXCLUDE not in existing:
        merged = f"{existing},{_EXCLUDE}" if existing else _EXCLUDE
        spark.conf.set("spark.sql.optimizer.excludedRules", merged)
    # Spark rejects parquet TIMESTAMP(NANOS) outright; read as long nanos and
    # normalize in the source adapters (sources/events.py floors ns -> us,
    # byte-matching DuckDB's coercion).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def get_spark(app_name: str = "remote-tsdb-clickhouse-spark") -> SparkSession:
    """Local-mode session mirroring the target cluster's per-executor shape.

    ``local[N]`` with N from ``SPARK_GRAFT_CPUS`` (default all cores).  On a
    real cluster these confs move to spark-submit; the engine code itself
    never assumes local mode.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Workers must import this package (worker-side decoders/kernels) and
    # the preloading daemon module below; `python -m` covers it when the
    # JVM's cwd is the repo, PYTHONPATH covers it everywhere else.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Preload numpy/pandas/pyarrow in the worker daemon BEFORE forking:
        # worker spawn drops from ~1 s (import chain) to fork-cost, which
        # removes the import storm when the elastic pool re-expands after
        # idle culls (see pydaemon module docstring for the measurements)
        .config(
            "spark.python.daemon.module", "remote_tsdb_clickhouse_spark.pydaemon"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return ensure_query_confs(builder.getOrCreate())
