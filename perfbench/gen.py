"""Seeded input generation: remote-write bodies, remote-read queries and the
``events`` table the analytics queries read.

Everything here is a pure function of the seed (and of the sizes passed
in), so two runs with one seed hand the adapter byte-identical inputs.  The
adapter only ever sees the encoded bodies and the generated parquet file.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from remote_tsdb_clickhouse_spark import codec, prompb
from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery

EQ, NEQ, RE, NRE = MatcherType.EQ, MatcherType.NEQ, MatcherType.RE, MatcherType.NRE

#: 2024-03-01 00:00:00 UTC; every written sample lies after it.
BASE_MS = 1709251200000
STEP_MS = 15_000

METRICS = (
    "node_cpu_seconds_total",
    "node_memory_active_bytes",
    "node_load1",
    "http_requests_total",
    "http_request_duration_seconds",
    "go_goroutines",
    "go_gc_duration_seconds",
    "process_open_fds",
    "scrape_duration_seconds",
    "up",
)
N_INSTANCES = 50
N_JOBS = 5


def series_labels(metric: str, i: int) -> list[tuple[str, str]]:
    """Labels of series (metric, instance i), sorted by name as Prometheus
    sends them.  The instance value holds a ``:``; ``tier`` exists on every
    third instance only, so NEQ/NRE matchers on it hit missing labels."""
    labels = [
        ("__name__", metric),
        ("instance", f"10.0.{i // 10}.{i % 10}:9100"),
        ("job", f"job{i % N_JOBS}"),
    ]
    if i % 3 == 0:
        labels.append(("tier", "gold"))
    return labels


ALL_SERIES = [series_labels(m, i) for m in METRICS for i in range(N_INSTANCES)]


@dataclass
class WriteBatch:
    """One remote-write request: its wire body and what it carries."""

    body: bytes
    samples: int
    value_sum: float
    #: (series index, ts_ms, value) per sample; kept only when the read
    #: model needs the store's contents
    rows: list[tuple[int, int, float]] | None


def write_batch(seed: int, k: int, samples_per_series: int, keep_rows: bool) -> WriteBatch:
    """Request ``k`` of a run: every series gets ``samples_per_series``
    samples at a 15 s step, in a time slot of its own (requests never
    overlap in time, so every sample is a distinct (series, second)).
    Values are multiples of 0.25 below 1000, so any sum of them is exact in
    a double and the read-back check can compare sums bit for bit."""
    rng = random.Random(f"write:{seed}:{k}")
    t0 = BASE_MS + k * samples_per_series * STEP_MS
    timeseries = []
    rows = [] if keep_rows else None
    total = 0.0
    for si, labels in enumerate(ALL_SERIES):
        samples = []
        for j in range(samples_per_series):
            v = rng.randrange(4000) * 0.25
            t = t0 + j * STEP_MS + rng.randrange(1000)  # sub-second jitter
            samples.append(prompb.Sample(v, t))
            total += v
            if keep_rows:
                rows.append((si, t, v))
        timeseries.append(
            prompb.TimeSeries(labels=[prompb.Label(n, v) for n, v in labels], samples=samples)
        )
    body = codec.encode_write_request(prompb.WriteRequest(timeseries=timeseries))
    return WriteBatch(body, len(ALL_SERIES) * samples_per_series, total, rows)


# -- remote-read queries ------------------------------------------------------


@dataclass(frozen=True)
class ReadSpec:
    kind: str  # "hinted" or "raw"
    label: str  # panel id, or raw selection size
    query: ReadQuery

    def body(self) -> bytes:
        return codec.encode_read_request(prompb.ReadRequest(queries=[self.query]))


def _re_alt(values) -> str:
    return "(" + "|".join(v.replace(".", r"\.") for v in values) + ")"


def hinted_panels(seed: int, span_ms: int) -> list[ReadSpec]:
    """12 dashboard panels over the last hour of the preloaded data: one
    metric each (``__name__`` EQ), a ``job`` =~ or != matcher, the routing
    label ``remote="clickhouse"`` that the adapter must drop, and on some
    a missing-label ``tier`` NEQ/NRE.  Step hints of 60 s or 300 s switch
    downsampling on; one panel's range hint is shorter than its step."""
    rng = random.Random(f"panels:{seed}")
    end = BASE_MS + span_ms
    start = end - 3_600_000
    panels = []
    for p in range(12):
        metric = METRICS[rng.randrange(len(METRICS))]
        jobs = sorted(rng.sample([f"job{j}" for j in range(N_JOBS)], 2))
        matchers = [
            LabelMatcher(EQ, "__name__", metric),
            LabelMatcher(RE, "job", _re_alt(jobs)) if p % 2 == 0 else LabelMatcher(NEQ, "job", jobs[0]),
            LabelMatcher(EQ, "remote", "clickhouse"),
        ]
        if p % 4 == 1:
            matchers.append(LabelMatcher(NEQ, "tier", "gold"))
        elif p % 4 == 3:
            matchers.append(LabelMatcher(NRE, "tier", "go.*"))
        step = 60_000 if p % 3 else 300_000
        range_ms = 60_000 if p == 5 else (300_000 if p % 2 else 0)
        q = ReadQuery(
            start_ms=start,
            end_ms=end,
            matchers=tuple(matchers),
            hints=ReadHints(step_ms=step, range_ms=range_ms),
        )
        panels.append(ReadSpec("hinted", f"panel{p}", q))
    return panels


RAW_SIZES = (1, 10, 100)


def raw_query(seed: int, n: int, span_ms: int) -> ReadSpec:
    """The ``n``-th raw query of a run: no hints, a distinct random
    30-minute window, and 1, 10 or 100 series in turn."""
    rng = random.Random(f"raw:{seed}:{n}")
    size = RAW_SIZES[n % len(RAW_SIZES)]
    start = BASE_MS + rng.randrange(0, span_ms - 1_800_000, 1000) + rng.randrange(1000)
    end = start + 1_800_000
    if size == 1:
        i = rng.randrange(N_INSTANCES)
        matchers = (
            LabelMatcher(EQ, "__name__", METRICS[rng.randrange(len(METRICS))]),
            LabelMatcher(EQ, "instance", f"10.0.{i // 10}.{i % 10}:9100"),
        )
    elif size == 10:
        matchers = (
            LabelMatcher(EQ, "__name__", METRICS[rng.randrange(len(METRICS))]),
            LabelMatcher(RE, "job", f"job{rng.randrange(N_JOBS)}"),
        )
    else:
        names = sorted(rng.sample(METRICS, 2))
        matchers = (
            LabelMatcher(RE, "__name__", _re_alt(names)),
            LabelMatcher(NRE, "job", "batch.*"),
        )
    return ReadSpec("raw", str(size), ReadQuery(start_ms=start, end_ms=end, matchers=matchers))


# -- analytics input ------------------------------------------------------------

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def write_events(seed: int, rows: int, path: str) -> None:
    """The ``events`` table the ``tsdb_*`` queries read, in the shape of
    the repository's test data: ``rows`` events spread over January 2024
    in time order, ``rows // 667`` users, ``props`` = ``{"k": 0..99}``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    t0_us = 1704067200 * 1_000_000  # 2024-01-01 UTC
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, rows)) + t0_us
    users = max(rows // 667, 3)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, rows, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, rows)),
            "value": pa.array(np.round(rng.lognormal(3.4, 1.0, rows), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        }
    )
    pq.write_table(table, path)
