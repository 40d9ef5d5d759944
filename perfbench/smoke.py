"""Smoke test of the benchmark itself, at tiny size.

    python3 perfbench/smoke.py          (or: python3 -m pytest perfbench/smoke.py)

Runs every workload in both modes with a few requests (and a 1000-event
table for the analytics workload), and asserts that every output check
passes, that the last line carries exactly the metrics ``BENCHMARK.json``
names, each with its unit, that the report prints every named metric of
the workload with its unit and sample count, and that a copy holding only
``BENCHMARK.json`` and the benchmark's files exits non-zero without a
result.  Takes about four minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = "6"

#: workload -> end-to-end metrics its report must print
REPORTED = {
    "remote_write": [
        "setup_s", "write_samples_per_s", "write_p50_ms", "write_p90_ms",
        "error_ratio", "store_bytes_per_sample", "peak_rss_mb",
    ],
    "remote_read": [
        "setup_s", "read_hinted_p50_ms", "read_hinted_p90_ms", "read_raw_p50_ms",
        "read_raw_p90_ms", "read_qps", "error_ratio", "store_bytes_per_sample", "peak_rss_mb",
    ],
    "tsdb_analytics": ["setup_s", "tsdb_pass_s", "error_ratio", "peak_rss_mb"],
}

_COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "py4j.calls"]
_HTTP = ["http.overhead_ms", "http.bytes_in", "http.bytes_out", "samples_store.files_total"]
_READ = _HTTP + _COUNTS + [
    "codec.decode_read_ms", "codec.encode_read_ms", "read_plan.build_ms",
    "read_plan.py4j_calls", "service.execute_collect_ms", "service.assembly_ms",
    "service.series_out", "service.samples_out",
]
#: request kind -> per-layer metrics its traced report must print
LAYERED = {
    "write": _HTTP + _COUNTS + [
        "codec.decode_write_ms", "writer.flatten_ms", "writer.to_df_ms",
        "samples_store.append_ms", "samples_store.files_per_write",
    ],
    "hinted": _READ,
    "raw": _READ,
    "query": _COUNTS + [
        "entry.build_ms", "entry.collect_ms", "entry.py4j_calls_build", "entry.spark_jobs",
    ],
}
KINDS = {"remote_write": ["write"], "remote_read": ["hinted", "raw"], "tsdb_analytics": ["query"]}


def bench(workload: str, trace: int, cwd: str = ROOT, seed: int = 7) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", SECONDS, "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def parse(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(next(ln for ln in lines if ln.startswith("REPORT "))[len("REPORT "):])
    return result, report


def check_result(result: dict, names: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert set(result["metrics"]) == set(names), sorted(result["metrics"])
    for name, m in result["metrics"].items():
        assert m["unit"] == names[name], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_untraced():
    names = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    for workload, reported in REPORTED.items():
        result, report = parse(bench(workload, 0))
        check_result(result, names)
        for name in reported:
            assert report[name]["unit"] and report[name]["n"] >= 1, (workload, name)
        assert report["error_ratio"]["value"] == 0, (workload, report["checks"])


def test_traced():
    names = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    for workload, kinds in KINDS.items():
        result, report = parse(bench(workload, 1))
        check_result(result, names)
        assert isinstance(report["unsteady_counters"], list)
        for kind in kinds:
            layer = report["layers"][kind]
            for name in LAYERED[kind]:
                assert layer[name]["unit"] and layer[name]["n"] >= 1, (workload, kind, name)
            assert abs(layer["self_coverage"] - 1.0) < 0.02, (workload, kind, layer["self_coverage"])
            assert layer["trace_overhead"]["value"] > 0


def test_fails_without_program():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        proc = bench("remote_write", 0, cwd=bare)
        assert proc.returncode != 0
        assert not proc.stdout.strip(), proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    for t in (test_fails_without_program, test_untraced, test_traced):
        t()
        print(f"ok {t.__name__}", flush=True)
