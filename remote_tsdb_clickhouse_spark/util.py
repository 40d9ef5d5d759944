"""Small engine utilities."""

from __future__ import annotations

import threading

from pyspark import SparkContext
from pyspark.sql import DataFrame

#: Entries per :class:`SessionCache` namespace; past it the oldest-inserted
#: entry is evicted.  Bench and oracle key sets are small and fixed; the
#: bound matters for the long-lived ``/read`` server, which builds one
#: filter per distinct remote-read request.
SESSION_CACHE_BOUND = 256

_MISS = object()


class SessionCache:
    """The engine's one driver-side memo: values that are pure functions
    of their key for the life of a SparkContext — expression trees
    (Columns, WindowSpecs), session-memoized DataFrames (the table-frame
    memo, the catalog-metastore analog for path-based reads), trained
    index builds and staged setup directories.

    - **Namespaces**: one dict per namespace, so equal keys from
      different modules never collide.
    - **Bounded**: at most ``bound`` entries per namespace,
      oldest-inserted evicted first.  An evicted value is rebuilt on its
      next use.
    - **One invalidation rule**: everything is dropped when
      ``SparkContext._active_spark_context`` changes.  Cached values wrap
      py4j JavaObjects or hold their SparkSession, so after a stop and
      relaunch they would raise py4j errors far from the cause — and
      pin the stopped session.  Keying by context is exact because the
      engine runs one session per context (``get_spark`` uses
      ``getOrCreate``).
    - **TypeError-safe**: an unhashable key component falls back to
      direct construction, uncached.
    """

    def __init__(self, bound: int = SESSION_CACHE_BOUND):
        self.bound = bound
        self._spaces: dict[str, dict] = {}
        self._ctx = None
        self._lock = threading.Lock()

    def _space(self, namespace: str) -> dict:
        ctx = SparkContext._active_spark_context
        if ctx is not self._ctx:
            self._spaces = {}
            self._ctx = ctx
        return self._spaces.setdefault(namespace, {})

    def get(self, namespace: str, key, build):
        space = self._space(namespace)
        try:
            val = space.get(key, _MISS)
        except TypeError:  # unhashable component in the key
            return build()
        if val is _MISS:
            val = build()
            with self._lock:
                if key not in space and len(space) >= self.bound:
                    del space[next(iter(space))]
                space[key] = val
        return val

    def size(self, namespace: str) -> int:
        return len(self._space(namespace))

    def clear(self, namespace: str | None = None) -> None:
        if namespace is None:
            self._spaces = {}
        else:
            self._spaces.pop(namespace, None)


SESSION_CACHE = SessionCache()


def _bytes_conf(spark, key: str, default: int) -> int:
    """Read a byte-size conf, tolerating '128m'-style suffixed values."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if raw.endswith(suffix + "b"):
            raw, mult = raw[:-2], m
            break
        if raw.endswith(suffix):
            raw, mult = raw[:-1], m
            break
    if raw.endswith("b"):
        raw = raw[:-1]
    try:
        return int(float(raw) * mult)
    except ValueError:
        return default


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a DataFrame has enough partitions to use the cluster.

    Small dimension-like inputs (one parquet file -> one partition) serialize
    every downstream map stage onto a single core; explode-heavy operators
    (shingling, pair scoring) then run 32x slower than they should.  A
    round-robin repartition is cheap at small sizes and a no-op cost at
    scale, where inputs already have >= parallelism partitions.

    Probe strategy: ``n_files >= target`` alone is NOT enough — Spark
    bin-packs small files into FilePartitions (maxPartitionBytes /
    openCostInBytes), so 16 tiny files can scan as ONE partition.  The
    packing does give a guaranteed lower bound: every file contributes at
    least ``openCostInBytes`` padded bytes and no partition exceeds
    ``maxPartitionBytes`` of padded cost, so the scan yields at least
    ``n_files * openCost / maxPartitionBytes`` partitions; with a 2x safety
    factor for greedy-packing slack this short-circuits the probe exactly
    where it matters (real tables at scale: thousands of files), while small
    inputs fall through to the exact ``df.rdd.getNumPartitions()`` probe —
    driver-only plan conversion, cheap at the sizes where it runs.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files:
        open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
        max_bytes = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
        if max_bytes > 0 and n_files * open_cost >= 2 * target * max_bytes:
            return df
    if _num_partitions(df) < target:
        return df.repartition(target)
    return df


def _num_partitions(df: DataFrame) -> int:
    """Memoized ``df.rdd.getNumPartitions()``.  The RDD probe forces
    physical planning (driver-only but ~tens of ms); operator entrypoints
    call spread() on the same scans once per query, so memoize by plan
    semantics — semantically-equal plans are guaranteed equal hashes, and
    the hash covers the relation's file listing, so an appended table
    re-probes."""
    try:
        h = df.semanticHash()
    except Exception:
        return df.rdd.getNumPartitions()
    return SESSION_CACHE.get("npart", h, lambda: df.rdd.getNumPartitions())
