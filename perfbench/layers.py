"""Per-layer numbers of a traced run: per-request span times (p50, and the
share of the root span they take), per-request counts, the tracing
overhead, and the check that per-request counters repeat.

Layers are named by the module whose call a span wraps (see
``workloads.ServingWorkload.instrument``).  A span's self time is its
duration minus what its child spans cover.  The shares use self times of
spans clipped to their parents, which add up to the root span exactly;
``self_coverage`` is the sum of unclipped self times over the root span, so
it shows how well the spans of a request nest (1.0 when they do).
"""

from __future__ import annotations

import json
import os
import statistics

from tracing import self_times

#: span name -> layer metric (durations of leaf spans)
LEAF_SPANS = {
    "codec.decode_write": "codec.decode_write_ms",
    "codec.decode_read": "codec.decode_read_ms",
    "codec.encode_read": "codec.encode_read_ms",
    "writer.flatten": "writer.flatten_ms",
    "samples_store.append": "samples_store.append_ms",
    "read_plan.build": "read_plan.build_ms",
    "service.assembly": "service.assembly_ms",
    "entry.build": "entry.build_ms",
    "entry.collect": "entry.collect_ms",
}

#: counters that must repeat for identical requests and across runs
STEADY_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "samples_store.files_per_write",
    "read_plan.py4j_calls",
    "entry.py4j_calls_build",
)


def work(record) -> str:
    """What a request does, as far as its cost goes: every write body is
    alike; a read is its panel or its raw-query size; a query its name."""
    return "write" if record.kind == "write" else f"{record.kind}:{record.label}"


def request_layers(spans, counts: dict) -> dict:
    """All layer numbers of one request (times in ms)."""
    st = self_times(spans)
    root = next(s for s in spans if s.parent is None or s.name in ("client.request", "entry.query"))
    root_ms = (root.end - root.start) * 1000
    dur: dict[str, float] = {}
    self_ms: dict[str, float] = {}
    py4j: dict[str, int] = {}
    for s in spans:
        dur[s.name] = dur.get(s.name, 0.0) + (s.end - s.start) * 1000
        self_ms[s.name] = self_ms.get(s.name, 0.0) + st[s.id] * 1000
        py4j[s.name] = py4j.get(s.name, 0) + s.py4j
    out = {"root_ms": root_ms, "self_coverage": sum(self_times(spans, clip=False).values()) * 1000 / root_ms}
    for span, metric in LEAF_SPANS.items():
        if span in dur:
            out[metric] = dur[span]
    out["self"] = self_ms
    if "app.handle_write" in dur or "app.handle_read" in dur:
        handle = dur.get("app.handle_write", 0.0) + dur.get("app.handle_read", 0.0)
        out["http.overhead_ms"] = root_ms - handle
        out["py4j.calls"] = py4j.get("server.handler", 0)
    else:
        out["py4j.calls"] = py4j.get("entry.query", 0)
    if "writer.write" in self_ms:
        out["writer.to_df_ms"] = self_ms["writer.write"]
        out["build_ms"] = out["writer.to_df_ms"]
        out["execute_ms"] = out.get("samples_store.append_ms", 0.0)
    elif "service.handle_read" in self_ms:
        out["service.execute_collect_ms"] = self_ms["service.handle_read"]
        out["read_plan.py4j_calls"] = py4j.get("read_plan.build", 0)
        out["service.assembly_ms"] = dur.get("service.assembly", 0.0)
        out["build_ms"] = out.get("read_plan.build_ms", 0.0)
        out["execute_ms"] = out["service.execute_collect_ms"]
    else:
        out["entry.py4j_calls_build"] = py4j.get("entry.build", 0)
        out["build_ms"] = out.get("entry.build_ms", 0.0)
        out["execute_ms"] = out.get("entry.collect_ms", 0.0)
    out["other_ms"] = root_ms - out["build_ms"] - out["execute_ms"]
    out["spark.jobs"] = counts.get("spark_jobs", 0)
    out["spark.stages"] = counts.get("spark_stages", 0)
    out["spark.tasks"] = counts.get("spark_tasks", 0)
    if "samples_store.append_ms" in out:
        out["samples_store.files_per_write"] = counts.get("files_per_write", 0)
    if "entry.build_ms" in out:
        out["entry.spark_jobs"] = out["spark.jobs"]
    return out


def _unit(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.startswith("http.bytes"):
        return "bytes"
    return "count"


def summarize(rows: list[dict]) -> dict:
    """p50 per metric over requests; timings also get their share of the
    summed root spans."""
    root_total = sum(r["root_ms"] for r in rows)
    out = {}
    names = sorted({k for r in rows for k in r if k not in ("self", "self_coverage")})
    for k in names:
        vals = [r[k] for r in rows if k in r]
        m = {"value": statistics.median(vals), "unit": _unit(k), "n": len(vals)}
        if k.endswith("_ms") and k != "root_ms":
            m["share"] = 100.0 * sum(vals) / root_total
        out[k] = m
    selfs: dict[str, float] = {}
    for r in rows:
        for name, v in r["self"].items():
            selfs[name] = selfs.get(name, 0.0) + v
    out["self_time_share_pct"] = {name: round(100.0 * v / root_total, 3) for name, v in sorted(selfs.items())}
    out["self_coverage"] = statistics.median(r["self_coverage"] for r in rows)
    return out


def request_rows(traced, tracer) -> list[tuple]:
    """``(record, layer numbers)`` of every complete traced request."""
    trees = tracer.trees()
    out = []
    for r in traced:
        if not r.ok or r.rid not in trees:
            continue
        row = request_layers(trees[r.rid], tracer.requests.get(r.rid, {}))
        if r.kind != "query":
            row["http.bytes_in"] = r.bytes_in
            row["http.bytes_out"] = r.bytes_out
        if "series" in r.extra:
            row["service.series_out"] = r.extra["series"]
            row["service.samples_out"] = r.extra["samples"]
        out.append((r, row))
    if not out:
        raise RuntimeError("traced phase recorded no complete request")
    return out


def per_layer(workload: str, plain, traced, rows, checks: dict) -> tuple[dict, dict]:
    """(contract per-layer metrics, report) of a traced run."""
    rows_by_kind: dict[str, list[dict]] = {}
    for r, row in rows:
        rows_by_kind.setdefault(r.kind, []).append(row)
    all_rows = [row for _, row in rows]

    # traced p50 over the p50 of the untraced windows around it, taken per
    # kind of work, since the windows hold different mixes of them; the
    # median of those ratios (of the plain p50s if no kind is in both)
    def overhead(kinds) -> float:
        ratios = []
        for g in {work(r) for r in traced if r.kind in kinds}:
            p = [r.ms for r in plain if work(r) == g]
            t = [r.ms for r in traced if work(r) == g]
            if p and t:
                ratios.append(statistics.median(t) / statistics.median(p))
        if ratios:
            return statistics.median(ratios)
        return statistics.median(r.ms for r in traced if r.kind in kinds) / statistics.median(
            r.ms for r in plain if r.kind in kinds
        )

    report = {kind: summarize(kind_rows) for kind, kind_rows in rows_by_kind.items()}
    for kind, s in report.items():
        s["trace_overhead"] = {"value": overhead({kind}), "unit": "ratio", "n": len(rows_by_kind[kind])}
        if "files_total" in checks and workload != "tsdb_analytics":
            s["samples_store.files_total"] = {"value": checks["files_total"], "unit": "count", "n": 1}

    allsum = summarize(all_rows)
    contract = {}
    for k in ("build_ms", "execute_ms", "other_ms"):
        contract[k] = {"value": allsum[k]["value"], "unit": "ms"}
        contract[k.replace("_ms", "_share")] = {"value": allsum[k]["share"], "unit": "%"}
    for k in ("py4j.calls", "spark.jobs", "spark.stages", "spark.tasks"):
        contract[k] = {"value": allsum[k]["value"], "unit": "count"}
    fpw = allsum.get("samples_store.files_per_write")
    contract["samples_store.files_per_write"] = {"value": fpw["value"] if fpw else 0, "unit": "count"}
    contract["trace_overhead"] = {"value": overhead(set(rows_by_kind)), "unit": "ratio"}
    return contract, {"layers": report}


def unsteady(workload: str, rows, work_dir: str, seed: int, scale: str) -> list[str]:
    """Counters that did not repeat: across identical requests of this run
    (each write, each panel, each raw-query size, each analytics query), and
    against the previous traced run of the same workload, seed and scale if
    one left its counters behind.  Flagged, never dropped."""
    seen: dict[str, dict[str, set]] = {}
    for r, row in rows:
        group = work(r)
        for c in STEADY_COUNTERS:
            if c in row:
                seen.setdefault(group, {}).setdefault(c, set()).add(row[c])
    values = {g: {c: sorted(v) for c, v in cs.items()} for g, cs in seen.items()}
    flagged = set()
    for group, cs in values.items():
        for c, v in cs.items():
            if len(v) > 1:
                flagged.add(f"{c} (varies within {group}: {v})")
    path = os.path.join(work_dir, f"counters-{workload}-{scale}-{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        for group, cs in values.items():
            for c, v in cs.items():
                if c in prev.get(group, {}) and prev[group][c] != v:
                    flagged.add(f"{c} (at {group}: {v}, previous run {prev[group][c]})")
    os.makedirs(work_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump(values, f)
    return sorted(flagged)
