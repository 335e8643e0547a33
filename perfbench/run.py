"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload fleet_report --seed 1 \
        --seconds 10 --trace 0

Generates seeded inputs, sets up a ``local[nproc]`` session several times
(the median is ``setup_s``), measures closed-loop operations for
``--seconds``, checks outputs against the DuckDB oracles, and prints one
JSON object as the last stdout line. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` traces every other op and reports the
per-layer metrics, the tracing overhead, and writes the spans to
``.perfbench_work/``. Exit code 1 when an output check fails.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyspark  # noqa: E402

from kafka_overwatch_spark.session import get_spark, warm_python_workers  # noqa: E402
from tracing import Tracer, peak_rss_kb  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
LAYERS = (
    "session", "sources.files", "operators.usage", "operators.lag",
    "operators.governance", "operators.schema_registry",
    "operators.windows", "operators.report", "operators.metrics",
    "sinks.prometheus", "sinks.exports", "streaming.offsets",
    "streaming.report_stream",
)
SHUFFLE_LAYERS = ("operators.lag", "operators.windows", "operators.report")
GAUGES = ("streaming.offsets.state_rows", "streaming.offsets.state_bytes")
# per workload: (op name, units name) for the human-readable lines
NAMES = {
    "fleet_report": ("report", "cycles"),
    "scan_stream": ("scan_batch", "scans"),
}


def per_layer_names() -> list[str]:
    names = []
    for layer in LAYERS:
        kinds = ["self_s", "plan_ms", "jobs", "cpu_s", "wait_s"]
        if layer in SHUFFLE_LAYERS:
            kinds.append("shuffle_bytes")
        names += [f"{layer}.{k}" for k in kinds]
    return names + list(GAUGES) + ["trace.overhead_frac"]


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    q = 100.0 * (n - 10) / n
    return q, sorted(samples)[n - 11]


def layer_metrics(tracer: Tracer, traced: list[float],
                  untraced: list[float]) -> dict:
    """Every per-layer metric, per traced op (``session`` per set-up),
    plus the tracing overhead: traced over untraced op median, minus 1."""
    metrics = {}
    for layer in LAYERS:
        agg = tracer.layers.get(layer, {})
        div = SETUP_REPS if layer == "session" else max(len(traced), 1)
        vals = {k: agg.get(k, 0.0) / div for k in
                ("self_s", "plan_ms", "jobs", "cpu_s", "run_s",
                 "shuffle_bytes")}
        vals["wait_s"] = vals["run_s"] - vals["cpu_s"]
        for k, v in vals.items():
            metrics[f"{layer}.{k}"] = v
    for g in GAUGES:
        metrics[g] = tracer.gauges.get(g, 0.0)
    metrics["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(untraced) - 1
        if traced and untraced else 0.0)
    units = {"_s": "s", "_ms": "ms", "jobs": "count", "_bytes": "bytes",
             "_rows": "count", "_frac": "ratio"}
    return {name: {"value": metrics[name],
                   "unit": next(u for sfx, u in units.items()
                                if name.endswith(sfx))}
            for name in per_layer_names()}


def cpu_times() -> list[int]:
    """The host's aggregate CPU times (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int]) -> float:
    """Share of the host's CPU time since ``before`` stolen by the
    hypervisor (the eighth field): a slow host shows here."""
    delta = [b - a for a, b in zip(before, cpu_times())]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def isolate(workdir: str) -> None:
    """Keep Spark's scratch files, temp files and log inside the
    checkout; Spark's stderr goes to a log file, Python's stays."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # local[nproc]; shuffle (and state-store) partitions = nproc
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_SHUFFLE"] = os.environ["SPARK_GRAFT_CPUS"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} "
        "pyspark-shell")
    saved = os.dup(2)
    log = os.open(workdir + ".log", os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log, 2)
    os.close(log)
    sys.stderr = os.fdopen(saved, "w", buffering=1)


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import numpy as np

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"{tag}-{os.getpid()}")
    os.makedirs(workdir)
    isolate(workdir)
    load_before, cpu_before = os.getloadavg(), cpu_times()
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](
        workdir, np.random.default_rng(args.seed), tracer)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    spark = None
    setup_s: list[float] = []
    latencies: list[float] = []
    traced_lat: list[float] = []
    untraced_lat: list[float] = []
    attempted, failed = 0, 0
    for rep in range(SETUP_REPS):
        if spark is not None:
            wl.stop()
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t_session = time.perf_counter() - t0
        tracer.bind(spark)
        tracer.begin("setup")
        tracer.add("session", self_s=t_session)
        with tracer.span("session"):
            warm_python_workers(spark)
        tracer.end()
        wl.start(spark, rep)
        setup_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm(spark)
    warm_s = time.perf_counter() - t0

    # whole ops for about --seconds: another op starts only if, at
    # the previous op's duration, it ends before the deadline. At least
    # two ops, so the median never rests on one op and a traced run has
    # a traced and an untraced op.
    t_start, last, i = time.perf_counter(), 0.0, 0
    while i < 2 or time.perf_counter() + last < t_start + args.seconds:
        traced = args.trace and i % 2 == 0
        if traced:
            tracer.begin(i)
        attempted += 1
        t0 = time.perf_counter()
        try:
            lat = wl.op(spark)
            latencies.append(lat)
            (traced_lat if traced else untraced_lat).append(lat)
        except Exception:  # noqa: BLE001 — counted, run continues
            failed += 1
            traceback.print_exc()
        last = time.perf_counter() - t0
        tracer.end()
        i += 1
    t0 = time.perf_counter()
    problems = wl.check(spark)
    check_s = time.perf_counter() - t0
    peak_kb = peak_rss_kb()
    info = {
        "cores": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty(
            "java.version"),
        "python": platform.python_version(),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "steal_frac": steal_frac(cpu_before),
    }
    wl.stop()
    stop_spark(spark)

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    op_name, unit_name = NAMES[args.workload]
    p50 = statistics.median(latencies) if latencies else float("nan")
    t = tail(latencies)
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print("# host " + json.dumps(info))
    print(f"# setup runs (s): {[round(s, 3) for s in setup_s]}; untimed warm-up "
          f"{warm_s:.1f} s; input generation {gen_s:.1f} s; output check "
          f"{check_s:.1f} s")
    print(f"# op latencies (s): {[round(x, 3) for x in latencies]}")
    print(f"{op_name}_p50_s {p50:.4f} s  (n={len(latencies)})")
    print(f"{op_name}_tail_s "
          + (f"{t[1]:.4f} s  (p{t[0]:.1f}, n={len(latencies)})" if t
             else f"n/a  (n={len(latencies)} < 11 samples)"))
    print(f"{unit_name}_per_s "
          f"{len(latencies) / sum(latencies) if latencies else 0:.4f} 1/s")
    print(f"setup_s {statistics.median(setup_s):.4f} s")
    print(f"fail_frac {failed / attempted if attempted else 0:.4f} "
          f"({failed}/{attempted})")
    print(f"peak_rss_mb {peak_kb / 1024:.1f} MB")

    if args.trace:
        out = layer_metrics(tracer, traced_lat, untraced_lat)
        spans = os.path.join(base, f"trace-{tag}.jsonl")
        tracer.dump(spans)
        print(f"# spans: {spans}")
        print(f"# trace overhead {out['trace.overhead_frac']['value']:+.3f} "
              f"(traced ops {len(traced_lat)}, untraced {len(untraced_lat)})")
    else:
        out = {
            "op_p50_s": {"value": p50, "unit": "s"},
            "setup_s": {"value": statistics.median(setup_s), "unit": "s"},
        }
    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
