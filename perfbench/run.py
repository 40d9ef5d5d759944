"""Serving-path benchmark for the remote-storage adapter.

    python3 perfbench/run.py --workload remote_write --seed 1 --seconds 20 --trace 0

Runs one workload (``remote_write``, ``remote_read`` or ``tsdb_analytics``)
from a seed on a ``local[nproc]`` Spark session, checks every output, and
prints a report followed, as the last line, by one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` the middle half of the run is traced, the quarters
before and after it untraced, and the metrics are the per-layer ones.  Run
it from the repository root; everything it writes goes under
``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SIZES = {
    "full": {
        "remote_write": {"clients": 2, "samples_per_series": 20, "warmup": 2},
        "remote_read": {
            "clients": 2,
            "preload_writes": 2,
            "preload_samples_per_series": 100,
            "warmup_raw": 0,
        },
        "tsdb_analytics": {"clients": 2, "events": 50000, "query_stride": 5, "warm_passes": 2},
    },
    # the smoke test's size: a few requests, a 1000-event table
    "tiny": {
        "remote_write": {"clients": 2, "samples_per_series": 2, "warmup": 2},
        "remote_read": {
            "clients": 2,
            "preload_writes": 2,
            "preload_samples_per_series": 80,
            "warmup_raw": 1,
        },
        "tsdb_analytics": {"clients": 2, "events": 1000, "query_stride": 8, "warm_passes": 1},
    },
}


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` start time
    against the boot-time clock both are measured on)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def process_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, user + system CPU ticks) of every live process."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    return stats


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and of every live
    descendant (the JVM's Python worker daemons)."""
    stats = process_table()
    keep, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == p and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in keep if p in stats) / os.sysconf("SC_CLK_TCK")


def terminate_children() -> None:
    """SIGTERM every child process (the JVM, whose Python workers exit
    with it) and reap each, SIGKILLing one that outlives 20 s.  Works
    at any point, also while the JVM is still starting."""
    kids = [pid for pid, (ppid, _) in process_table().items() if ppid == os.getpid()]
    for pid in kids:
        os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.waitpid(pid, os.WNOHANG) == (0, 0):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.1)


def host_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) of the whole host so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    x = (len(v) - 1) * q / 100.0
    i = int(x)
    return v[i] if i + 1 >= len(v) else v[i] + (v[i + 1] - v[i]) * (x - i)


def timing(values: list[float], unit: str = "ms") -> dict:
    """Median and p90 with the sample count and how many lie beyond p90."""
    p90 = pct(values, 90)
    return {
        "p50": {"value": statistics.median(values), "unit": unit, "n": len(values)},
        "p90": {
            "value": p90,
            "unit": unit,
            "n": len(values),
            "beyond": sum(1 for x in values if x > p90),
        },
    }


def prepare_environment(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write under the run
    directory, size the session to this host, and silence progress bars."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata file in the system temp dir, from Spark's launcher JVM
    # or from the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its parent pipe closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def make_workload(name: str, spark, run_dir: str, seed: int, sizes: dict):
    import workloads

    cls = {
        "remote_write": workloads.RemoteWrite,
        "remote_read": workloads.RemoteRead,
        "tsdb_analytics": workloads.TsdbAnalytics,
    }[name]
    return cls(spark, run_dir, seed, sizes[name])


# -- end-to-end metrics -----------------------------------------------------------


def end_to_end(workload: str, records, wall: float, setup_s: float, usage: dict, checks: dict) -> tuple[dict, dict]:
    """(contract metrics, report) of an untraced run."""
    t = timing([r.ms for r in records])
    contract = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "p50_ms": {"value": t["p50"]["value"], "unit": "ms"},
        "ops_per_s": {"value": len(records) / wall, "unit": "1/s"},
        "cpu_ms_per_op": {"value": 1000 * usage["cpu_s"] / len(records), "unit": "ms"},
        "driver_rss_mb": {"value": usage["rss_python_mb"], "unit": "MB"},
    }
    failed = sum(1 for r in records if not r.ok or r.failed_check)
    by_start = sorted(records, key=lambda r: r.t0)
    half = len(by_start) // 2
    report = {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "error_ratio": {"value": failed / len(records), "unit": "failed/attempted", "n": len(records)},
        "peak_rss_mb": {"value": usage["rss_python_mb"] + usage["rss_jvm_mb"], "unit": "MB", "n": 1},
        "driver_rss_mb": {"value": usage["rss_python_mb"], "unit": "MB", "n": 1},
        "cpu_ms_per_op": {"value": contract["cpu_ms_per_op"]["value"], "unit": "ms", "n": len(records)},
        "host_steal_pct": {"value": 100 * usage["steal"], "unit": "%", "n": 1},
        # warm enough when the two halves of the run agree
        "half_p50_ms": [statistics.median(r.ms for r in part) for part in (by_start[:half], by_start[half:]) if part],
    }
    if workload == "remote_write":
        tw = timing([r.ms for r in records if r.kind == "write"])
        acked = sum(r.extra["samples"] for r in records if r.ok)
        report["write_samples_per_s"] = {"value": acked / wall, "unit": "samples/s", "n": len(records)}
        report["write_p50_ms"] = tw["p50"]
        report["write_p90_ms"] = tw["p90"]
    elif workload == "remote_read":
        for kind in ("hinted", "raw"):
            tk = timing([r.ms for r in records if r.kind == kind])
            report[f"read_{kind}_p50_ms"] = tk["p50"]
            report[f"read_{kind}_p90_ms"] = tk["p90"]
        report["read_qps"] = {"value": len(records) / wall, "unit": "1/s", "n": len(records)}
    else:
        passes: dict[tuple, list] = {}
        for r in sorted(records, key=lambda r: r.t0):
            passes.setdefault(r.extra["pass"], []).append(r)
        width = max(len(p) for p in passes.values())
        pass_s = [p[-1].t1 - p[0].t0 for p in passes.values() if len(p) == width]
        report["tsdb_pass_s"] = {"value": statistics.median(pass_s), "unit": "s", "n": len(pass_s)}
        report["query_p50_ms"] = t["p50"]
        report["query_p90_ms"] = t["p90"]
        by_name: dict[str, list[float]] = {}
        for r in records:
            by_name.setdefault(r.label, []).append(r.ms)
        report["query_p50_ms_by_name"] = {k: round(statistics.median(v), 1) for k, v in by_name.items()}
    if "store_bytes" in checks:
        report["store_bytes_per_sample"] = {
            "value": checks["store_bytes"] / checks["acked_samples"],
            "unit": "bytes",
            "n": checks["acked_samples"],
        }
    return contract, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    # the program under test is the checkout this file sits in
    if not os.path.isfile(os.path.join(ROOT, "remote_tsdb_clickhouse_spark", "__init__.py")):
        print(f"no remote_tsdb_clickhouse_spark package beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")

    def on_sigterm(*_):
        # a terminated run still stops its JVM and removes its files
        terminate_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(143)

    signal.signal(signal.SIGTERM, on_sigterm)
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_environment(run_dir)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> int:
    from remote_tsdb_clickhouse_spark.session import get_spark

    import layers
    from tracing import Tracer

    sizes = SIZES[args.scale]
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = process_age_s()
    w = None
    try:
        w = make_workload(args.workload, spark, run_dir, args.seed, sizes)
        w.setup(args.seconds)
        setup_s = process_age_s()
        if args.trace:
            # untraced, traced, untraced (a quarter, a half, a quarter of
            # the run), so drift during the run, such as warm-up, weighs on
            # both sides of the overhead ratio alike
            plain, _ = w.phase("plain1", args.seconds / 4, None)
            tracer = Tracer()
            w.instrument(tracer)
            try:
                traced, wall = w.phase("traced", args.seconds / 2, tracer)
            finally:
                w.uninstrument(tracer)
            plain += w.phase("plain2", args.seconds / 4, None)[0]
            records = plain + traced
        else:
            cpu0, steal0 = tree_cpu_s(os.getpid()), host_steal()
            records, wall = w.phase("plain", args.seconds, None)
            cpu1, steal1 = tree_cpu_s(os.getpid()), host_steal()
        from pyspark import SparkContext

        usage = {
            "rss_python_mb": vm_hwm_mb("self"),
            "rss_jvm_mb": vm_hwm_mb(SparkContext._gateway.proc.pid),
        }
        checks = w.check(records)
    finally:
        if w is not None:
            w.close()
        stop_spark(spark)

    attempted = len(records)
    failed = sum(1 for r in records if not r.ok or r.failed_check)
    if args.trace:
        rows = layers.request_rows(traced, tracer)
        contract, report = layers.per_layer(args.workload, plain, traced, rows, checks)
        report["unsteady_counters"] = layers.unsteady(args.workload, rows, WORK, args.seed, args.scale)
        os.makedirs(WORK, exist_ok=True)
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    else:
        usage["cpu_s"] = cpu1 - cpu0
        usage["steal"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        contract, report = end_to_end(args.workload, records, wall, setup_s, usage, checks)
    report["setup_phases"] = {"session_s": session_s} | w.setup_phases
    report["checks"] = {k: v for k, v in checks.items() if k != "bad_slots"} | {
        "failed": failed,
        "attempted": attempted,
    }
    print_report(args, report)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": contract}
        )
    )
    return 0


def print_report(args, report: dict) -> None:
    print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for name, m in report.items():
        if isinstance(m, dict) and "value" in m:
            extra = "".join(f" {k}={m[k]}" for k in ("n", "beyond", "share") if k in m)
            print(f"{name:32s} {m['value']:14.4f} {m['unit']}{extra}")
        elif name != "layers":
            print(f"{name}: {json.dumps(m, default=str)}")
    for kind, layer in report.get("layers", {}).items():
        print(f"## traced {kind}")
        for name, m in layer.items():
            if isinstance(m, dict) and "value" in m:
                extra = f" n={m['n']}" + (f" share={m['share']:.2f}%" if "share" in m else "")
                print(f"  {name:34s} {m['value']:14.4f} {m['unit']}{extra}")
            else:
                print(f"  {name}: {json.dumps(m)}")
    print("REPORT " + json.dumps(report, default=str))


if __name__ == "__main__":
    sys.exit(main())
