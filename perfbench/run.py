"""CDC engine benchmark: one workload, one fresh Spark JVM, one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload steady_cow --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced run (spans recorded around the engine's
layers, see tracing.py) plus the tracing overhead. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; lines before it are a
readable summary. Inputs come from gen.py and the seed; outputs are checked
against the DuckDB oracle. Everything the run writes goes under
``.perfbench_work/`` in the repository root and is removed at the end,
except the trace file of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("steady_cow", "steady_mor_read")

E2E_UNITS = {
    "events_per_s": "events/s",
    "commit_p50_s": "s",
    "commit_p90_s": "s",
    "read_p50_s": "s",
    "read_p90_s": "s",
    "setup_s": "s",
    "ok_ops_ratio": "ratio",
}


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def cpu_probe_ms() -> float:
    """Median time of a fixed pure-Python loop: a host-speed reading that
    lets runs from different hypervisor phases be told apart."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def start_session(cores: int, shuffle: int, work: str):
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # Python workers import the engine from this checkout and keep their
    # temp files inside it; SPARK_LOCAL_DIRS overrides spark.local.dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (launcher and driver): temp files here,
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from airbyte_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def e2e(run, ops) -> dict[str, float]:
    commit_ops = [o for o in ops if o.kind == "commit"]
    commits = [o.seconds for o in commit_ops]
    reads = [o.seconds for o in ops if o.kind == "read"]
    wall = sum(commits) + sum(reads)
    events_per_s = sum(o.events for o in commit_ops) / wall if wall else 0.0
    n_failed = sum(not o.ok for o in ops)
    return {
        "events_per_s": events_per_s,
        "commit_p50_s": median(commits),
        "commit_p90_s": p90(commits),
        "read_p50_s": median(reads),
        "read_p90_s": p90(reads),
        "setup_s": median(run.setup_s),
        "ok_ops_ratio": (len(ops) - n_failed) / len(ops) if ops else 0.0,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--shuffle-partitions", type=int, default=16)
    a = ap.parse_args()

    if not (
        os.path.isdir(os.path.join(ROOT, "airbyte_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print("perfbench: run from a repository root holding airbyte_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import gen

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        input_dir = os.path.join(work, "input")
        gen.write(a.workload, a.seed, input_dir)
        shape = gen.SHAPES[a.workload]
        cores = max(1, min(a.cores, os.cpu_count() or 1))
        spark, start_s = start_session(cores, a.shuffle_partitions, work)
        try:
            out = measure(a, spark, shape, input_dir, work, start_s, base)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


def measure(a, spark, shape, input_dir, work, start_s, base) -> dict:
    from perfbench import tracing
    from perfbench.oracle import Oracle
    from perfbench.workloads import Bench, run_workload

    tracer = tracing.Tracer()
    if a.trace:
        tracing.install(tracer, spark)
    oracle = Oracle(os.path.join(input_dir, "events.parquet"), os.path.join(work, "duckdb"))
    bench = Bench(spark, shape, input_dir, work, oracle, tracer, bool(a.trace), a.seed)
    cpu0, probe0 = cpu_times(), cpu_probe_ms()
    run = run_workload(a.workload, bench, a.seconds)
    cpu1, probe1 = cpu_times(), cpu_probe_ms()
    oracle.close()

    d = [y - x for x, y in zip(cpu0, cpu1)]
    host = {
        "host.steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / max(1, sum(d)),
        "host.iowait_pct": 100.0 * d[4] / max(1, sum(d)),
    }
    peak_rss = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    failed = sum(not o.ok for o in run.ops)
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "ops": len(run.ops), "failed_ops_ratio": failed / max(1, len(run.ops)),
        "checks": run.checks, "setup_samples_s": run.setup_s, "warmup_s": run.warm_s,
        "session.start_s": start_s, **host, "host.cpu_probe_ms": [probe0, probe1],
        "op_s": [[o.kind[0], round(o.seconds, 3)] for o in run.ops],
    }
    if a.trace:
        from perfbench.layers import layer_metrics

        metrics = layer_metrics(tracer, run, spark, input_dir, shape)
        metrics.update({"session.start_s": (start_s, "s"),
                        "session.peak_rss_mb": (peak_rss, "MB")})
        metrics.update({k: (v, "%") for k, v in host.items()})
        untraced = e2e(run, [o for o in run.ops if not o.traced])
        traced = e2e(run, [o for o in run.ops if o.traced])
        for k in ("events_per_s", "commit_p50_s", "commit_p90_s", "read_p50_s", "read_p90_s"):
            metrics[f"trace.overhead.{k}"] = (traced[k] - untraced[k], E2E_UNITS[k])
        os.makedirs(base, exist_ok=True)
        trace_path = os.path.join(base, f"trace-{a.workload}-s{a.seed}.json")
        tracer.dump(trace_path, {"summary": summary})
        summary["trace_file"] = os.path.relpath(trace_path, ROOT)
        summary["untraced_e2e"], summary["traced_e2e"] = untraced, traced
    else:
        metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e(run, run.ops).items()}
    print("# " + json.dumps(summary))
    for k, (v, unit) in metrics.items():
        print(f"#   {k:36s} {v:14.6g} {unit}")
    return {
        "correct": failed == 0 and len(run.ops) > 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
