"""Pure-Python model of the reference's remote-read semantics (``read.go``),
used to check every ``/read`` response the benchmark receives.

It covers what the generated queries exercise: the time bounds (ms -> s by
integer division, inclusive end, ``end_ms == 0`` open), ``__name__`` and
label matchers with Prometheus's fully anchored regexes, missing-label
NEQ/NRE (a series without the label matches), the ignore-label EQ drop,
the downsampling bucket of ``max(floor(min(step, range) / 2) s, 1 s)``
when ``step > 2 s``, the max per (series, bucket), and the ordering of
series (by name, then sorted label strings) and of samples (by time).
"""

from __future__ import annotations

import bisect
import re

from remote_tsdb_clickhouse_spark.plans.matchers import MatcherType

MIN_STEP_HINT_MS = 2000


def bucket_seconds(step_ms: int, range_ms: int) -> int | None:
    if step_ms <= MIN_STEP_HINT_MS:
        return None
    interval = range_ms if 0 < range_ms < step_ms else step_ms
    return max((interval // 2) // 1000, 1)


def _trunc_s(ms: int) -> int:
    return -(-ms // 1000) if ms < 0 else ms // 1000


class ReadModel:
    """The store's contents as the adapter should see them.

    ``series`` is the list of label lists (``(name, value)`` pairs,
    ``__name__`` included); ``add(si, ts_ms, value)`` records one written
    sample of series ``si``.
    """

    def __init__(self, series: list[list[tuple[str, str]]], ignore_label: str = "remote=clickhouse"):
        self.ignore_label = ignore_label
        self.names = []
        self.label_sets = []
        for labels in series:
            self.names.append(dict(labels)["__name__"])
            self.label_sets.append(sorted(f"{n}={v}" for n, v in labels if n != "__name__"))
        self.points: list[dict[int, float]] = [{} for _ in series]  # ts_s -> max value
        self._sorted: list[list[int]] | None = None

    def add(self, si: int, ts_ms: int, value: float) -> None:
        ts = ts_ms // 1000
        pts = self.points[si]
        old = pts.get(ts)
        pts[ts] = value if old is None else max(old, value)
        self._sorted = None

    def _matches(self, si: int, matchers) -> bool:
        name, labels = self.names[si], self.label_sets[si]
        for m in matchers:
            joined = f"{m.name}={m.value}"
            if m.name == "__name__":
                if m.type == MatcherType.EQ:
                    ok = name == m.value
                elif m.type == MatcherType.NEQ:
                    ok = name != m.value
                elif m.type == MatcherType.RE:
                    ok = re.fullmatch(m.value, name) is not None
                else:
                    ok = re.fullmatch(m.value, name) is None
            elif m.type == MatcherType.EQ:
                ok = joined == self.ignore_label or joined in labels
            elif m.type == MatcherType.NEQ:
                ok = joined not in labels
            else:
                hit = any(re.fullmatch(f"{re.escape(m.name)}={m.value}", lb) for lb in labels)
                ok = hit if m.type == MatcherType.RE else not hit
            if not ok:
                return False
        return True

    def answer(self, q) -> list[tuple[list[tuple[str, str]], list[tuple[int, float]]]]:
        """Expected series of one query: ``(labels, [(ts_ms, value)])`` in
        response order, labels as ``[("__name__", name), (k, v), ...]``."""
        if self._sorted is None:
            self._sorted = [sorted(p) for p in self.points]
        lo = _trunc_s(q.start_ms)
        hi = _trunc_s(q.end_ms) if q.end_ms > 0 else None
        interval = bucket_seconds(q.hints.step_ms, q.hints.range_ms)
        out = []
        for si in range(len(self.names)):
            if not self._matches(si, q.matchers):
                continue
            ts_sorted = self._sorted[si]
            a = bisect.bisect_left(ts_sorted, lo)
            b = len(ts_sorted) if hi is None else bisect.bisect_right(ts_sorted, hi)
            if a >= b:
                continue
            buckets: dict[int, float] = {}
            pts = self.points[si]
            for ts in ts_sorted[a:b]:
                t = ts if interval is None else ts - ts % interval
                v = pts[ts]
                old = buckets.get(t)
                buckets[t] = v if old is None else max(old, v)
            labels = [("__name__", self.names[si])] + [
                tuple(lb.split("=", 1)) for lb in self.label_sets[si]
            ]
            out.append(
                (self.names[si], self.label_sets[si], labels, [(t * 1000, v) for t, v in sorted(buckets.items())])
            )
        out.sort(key=lambda s: (s[0], s[1]))
        return [(labels, samples) for _, _, labels, samples in out]


def response_series(resp) -> list[tuple[list[tuple[str, str]], list[tuple[int, float]]]]:
    """A decoded ``ReadResponse`` with one query result, in the shape of
    :meth:`ReadModel.answer`."""
    (result,) = resp.results
    return [
        ([(lb.name, lb.value) for lb in ts.labels], [(s.timestamp, s.value) for s in ts.samples])
        for ts in result.timeseries
    ]
