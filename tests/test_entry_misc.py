"""Entry-module hardening tests: the cached-samples spread scale guard,
the streaming-dedup staging trust checks (r8/r9 advisor findings), the
family_warmup persist allowlist, and the removal of staging directories
at process exit."""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

from conftest import SF_SMOKE

import __spark_entry__ as entry
from queries import dedup, sim, streaming, tsdb
from remote_tsdb_clickhouse_spark.util import SESSION_CACHE


def test_samples_spread_guard(spark):
    # pure guard: the measured local knee at or below local-bench
    # parallelism, spread()'s own defaultParallelism target beyond it —
    # a mid-scale deployment whose events table is a handful of large
    # files must NOT be capped at 4 partitions (r8 advisor)
    assert tsdb._samples_spread(1) == tsdb._SAMPLES_SPREAD
    assert tsdb._samples_spread(8) == tsdb._SAMPLES_SPREAD
    assert tsdb._samples_spread(tsdb._LOCAL_BENCH_PARALLELISM) == tsdb._SAMPLES_SPREAD
    assert tsdb._samples_spread(tsdb._LOCAL_BENCH_PARALLELISM + 1) is None
    assert tsdb._samples_spread(400) is None
    # provable local no-op: at local parallelism the cached samples frame
    # still holds exactly the knee partition count the r8 sweep measured
    # (so the guard leaves every tsdb query's local result unchanged)
    df = tsdb._samples(spark, SF_SMOKE)
    assert df.rdd.getNumPartitions() == tsdb._SAMPLES_SPREAD


def _published_staging_path(sf_dir: str) -> str:
    uid = os.getuid() if hasattr(os, "getuid") else 0
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"graft_dedup_stream2_u{uid}_{tag}")


def _drop_published(spark, sf_dir: str) -> str:
    """Forget the staging memos and remove any published staging dir."""
    SESSION_CACHE.clear("staging")
    final = _published_staging_path(sf_dir)
    if os.path.islink(final):
        os.unlink(final)
    elif os.path.lexists(final):
        shutil.rmtree(final, ignore_errors=True)
    return final


def test_staging_rejects_symlink_alias(spark, tmp_path):
    """A symlink planted at the published staging name must never be
    trusted, even when it points at a directory this uid legitimately
    owns (os.stat would pass the uid check on the TARGET's owner — the
    r8 advisor's aliasing variant of the staging-poisoning class)."""
    final = _drop_published(spark, SF_SMOKE)
    decoy = tmp_path / "decoy"
    decoy.mkdir()
    (decoy / "_STAGED").write_text(os.path.abspath(SF_SMOKE))  # even a "right" marker
    os.symlink(decoy, final)
    try:
        got = streaming.stage_dedup_stream_input(spark, SF_SMOKE)
        assert not os.path.islink(got)
        assert os.path.realpath(got) != os.path.realpath(str(decoy))
        with open(os.path.join(got, "_STAGED")) as fh:
            assert fh.read() == os.path.abspath(SF_SMOKE)
        assert sorted(os.listdir(os.path.join(got, "in"))) == [
            f"chunk{i}.parquet" for i in range(2)
        ]
    finally:
        _drop_published(spark, SF_SMOKE)


def test_staging_marker_binds_dataset(spark):
    """An owned REAL directory under the published name whose marker names
    a different dataset must be rebuilt around, not served (the marker is
    the dataset identity, not a mere existence flag)."""
    final = _drop_published(spark, SF_SMOKE)
    os.makedirs(final)
    with open(os.path.join(final, "_STAGED"), "w") as fh:
        fh.write("/somewhere/else")
    try:
        got = streaming.stage_dedup_stream_input(spark, SF_SMOKE)
        assert got != final
        with open(os.path.join(got, "_STAGED")) as fh:
            assert fh.read() == os.path.abspath(SF_SMOKE)
    finally:
        _drop_published(spark, SF_SMOKE)


def test_staging_reuses_published_dir(spark):
    """The happy path must still share across processes/sessions: a prior
    publication with the right marker is reused verbatim."""
    final = _drop_published(spark, SF_SMOKE)
    first = streaming.stage_dedup_stream_input(spark, SF_SMOKE)
    assert first == final and os.path.isfile(os.path.join(final, "_STAGED"))
    # a fresh "session" view: clear only the staging memos, keep the dir
    SESSION_CACHE.clear("staging")
    again = streaming.stage_dedup_stream_input(spark, SF_SMOKE)
    assert again == final


def test_family_warmup_persists_only_its_allowlist(spark):
    """family_warmup's rule 1 allows only the index-side build frames its
    docstring names to be persisted.  After a clearCache, each family's
    warmup must leave exactly those frames in the CacheManager, so a new
    persist (or a listed frame that stops being cached) fails here."""
    allowlist = {
        "tsdb": lambda: [tsdb._samples(spark, SF_SMOKE)],
        "streaming": lambda: [],
        "dedup": lambda: [
            *dedup._dedup_shingle_frames(spark, SF_SMOKE),
            dedup._lsh_pairs(spark, SF_SMOKE),
            dedup._jaccard_pairs(spark, SF_SMOKE),
        ],
        "sim": lambda: [
            sim._bf_corpus_df(spark, SF_SMOKE),
            sim._mat_corpus_df(spark, SF_SMOKE),
            sim._lsh_corpus4_df(spark, SF_SMOKE),
            sim._ivf_lists_df(spark, SF_SMOKE),
            sim._trained_ivf_lists_df(spark, SF_SMOKE),
        ],
    }
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    try:
        for family, frames in allowlist.items():
            spark.catalog.clearCache()
            entry.family_warmup(spark, SF_SMOKE, family)
            n_cached = cache_manager.numCachedEntries()
            # the memo getters return the warmup's own (memoized) objects
            listed = frames()
            assert n_cached == len(listed), (family, n_cached, len(listed))
            for df in listed:
                assert df.is_cached, family
                assert cache_manager.lookupCachedData(df._jdf).isDefined(), family
    finally:
        spark.catalog.clearCache()


_STAGING_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from queries import streaming, tsdb
from remote_tsdb_clickhouse_spark.session import get_spark

spark = get_spark("staging-cleanup")
store = tsdb._compacted_store(spark, sys.argv[2])
staging = streaming.stage_streaming_input(spark, sys.argv[2])
assert store.read().count() > 0
print("RESULT " + json.dumps([store.path, staging]))
"""


def test_staging_dirs_removed_at_exit(tmp_path):
    """Every temp directory a staging build makes lives under the process's
    one scratch root, removed when the process exits: a process that built
    the compacted store and the streaming staging leaves no ``graft_*``
    entry in its temp dir but the published streaming-dedup one."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = dict(os.environ, TMPDIR=str(tmpdir), SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run(
        [sys.executable, "-c", _STAGING_SCRIPT, repo, SF_SMOKE],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    built = json.loads(r.stdout.split("RESULT ", 1)[1])
    assert all(p.startswith(str(tmpdir)) and not os.path.exists(p) for p in built), built
    left = [n for n in os.listdir(tmpdir)
            if n.startswith("graft_") and not n.startswith("graft_dedup_stream2_")]
    assert left == []
