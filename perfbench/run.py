"""Benchmark command: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload crawl|analytics --seed N \\
        --seconds S --trace 0|1

Runs from the root of a checkout on ``local[<nproc>]``, one client and one
operation in flight. Human-readable lines (host record, every metric with its
unit, check failures) come first; the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
for ``--trace 0`` and the per-layer metrics for ``--trace 1``.

Everything the run writes stays under ``.perfbench/`` in the checkout:
cached worlds and references, catalogs, Spark temporary files, the spans of traced
runs and one result file per run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit): the metrics a user of either plane sees; BENCHMARK.json
# carries the same list with each metric's bound
END_TO_END = [
    ("setup_s", "s"),  # time to the first result from a cold start
    ("op_s", "s"),  # typical latency of one unit of progress
    ("pass_s", "s"),  # wall time of the workload's whole unit of work
]


def host_record() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:  # cpu user nice system idle iowait irq softirq steal
        cpu = [int(x) for x in f.readline().split()[1:9]]
    return {
        "loadavg": load,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_bytes": mem.get("MemAvailable", 0),
        "cpu_jiffies": cpu,
    }


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests during the run."""
    d = [b - a for a, b in zip(start["cpu_jiffies"], end["cpu_jiffies"])]
    return d[7] / max(sum(d), 1)


def make_session(work: str, host: dict):
    """A local session sized to this host: every core, and a JVM heap of a
    quarter of the free memory clamped to 1-4 GiB."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    # Python workers import the program from this checkout and keep their
    # temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway's connection file, if tempfile already ran
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from pyspark.sql import SparkSession

    n = host["nproc"]
    heap_mb = max(1024, min(4096, host["mem_available_bytes"] // 4 // 2**20))
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail(xs: list[float]):
    """(percentile, value) for the highest of p99/p95/p90/p75 that has at
    least ten samples beyond it, or None when the count cannot support one."""
    n = len(xs)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return None


def summarize(workload: str, run) -> tuple[dict, list[tuple[str, float, str]]]:
    """End-to-end metric values plus the workload's named report lines."""
    s = run.samples
    med = {k: statistics.median(v) for k, v in s.items() if v}
    e2e = {k: med[k] for k, _ in END_TO_END}
    lines = [(k, v, "s") for k, v in e2e.items()]
    # median over plain waves / over every warm query execution, and the
    # tail over every wave interval / every warm query execution
    unit_op, p50, every = (("wave", "op_s", "wave_s") if workload == "crawl"
                           else ("query", "query_s", "query_s"))
    lines.append((f"{unit_op}_p50_s (n={len(s[p50])})", med[p50], "s"))
    t = tail(s[every])
    if t is not None:
        lines.append((f"{unit_op}_tail_s (p{t[0]}, n={len(s[every])})", t[1], "s"))
    if workload == "crawl":
        for label, k, u in (
            ("wave_maint_p50_s", "maint_s", "s"), ("cold_setup_s", "cold_setup_s", "s"),
            ("crawl_rows_per_s", "crawl_rows_per_s", "rows/s"),
            ("steady_rows_per_s", "steady_rows_per_s", "rows/s"),
            ("ingest_s", "ingest_s", "s"), ("resume_s", "resume_s", "s"),
        ):
            if k in med:
                lines.append((f"{label} (n={len(s[k])})", med[k], u))
    else:
        lines.append(("suite_s", med["pass_s"], "s"))
    lines.append(("ops_failed_ratio", run.failed / max(run.attempted, 1), "ratio"))
    return e2e, lines


def main(argv=None, work: str | None = None, sizes: dict | None = None,
         sabotage: bool = False) -> int:
    """The command. The keyword arguments serve selftest.py: another work
    directory, toy crawl world sizes, and a deliberately broken output check."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "visiblev8_crawler_spark"))):
        print("perfbench: the program is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import analytics
    import crawl
    from layers import layer_metrics
    from spans import Tracer, instrument

    work = work or os.path.join(ROOT, ".perfbench")
    host = host_record()
    print(f"host: nproc={host['nproc']} mem_available={host['mem_available_bytes'] / 2**30:.1f}GiB"
          f" loadavg_start={host['loadavg']}")
    tracer = Tracer(bool(args.trace))
    module = {"crawl": crawl, "analytics": analytics}[args.workload]
    kw = {"sizes": sizes} if sizes else {}

    # inputs and references first, outside any timed region
    stages = [time.perf_counter()]
    module.prepare(work, args.seed, **kw)
    stages.append(time.perf_counter())
    spark = make_session(work, host)
    stages.append(time.perf_counter())
    uninstall = instrument(tracer) if tracer.enabled else (lambda: None)
    try:
        run = module.run(spark, work, args.seed, args.seconds, tracer, sabotage, **kw)
    finally:
        uninstall()
        stages.append(time.perf_counter())
        stop_session(spark)
        stages.append(time.perf_counter())
    host_end = host_record()
    print(f"host: loadavg_end={host_end['loadavg']} steal={steal_share(host, host_end):.1%}")
    print("stages: " + " ".join(
        f"{k}={b - a:.1f}s" for k, a, b in
        zip(("inputs", "session", "workload", "stop"), stages, stages[1:])
    ))
    print(f"ops: attempted={run.attempted} failed={run.failed}")

    try:
        e2e, lines = summarize(args.workload, run)
    except KeyError as e:  # every operation of some kind failed
        print(f"perfbench: no samples for {e}", file=sys.stderr)
        return 1
    for name, value, unit in lines:
        print(f"  {name:<40} {value:>14.6g} {unit}")
    result = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host_start": host, "host_end": host_end, "end_to_end": e2e,
              "attempted": run.attempted, "failed": run.failed, "samples": run.samples}
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    res_path = os.path.join(work, "results", f"{args.workload}-s{args.seed}-t{{}}.json")

    if tracer.enabled:
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(work, "traces", f"{args.workload}-s{args.seed}.json"))
        per_layer = layer_metrics(tracer, run.layer)
        result["per_layer"] = per_layer
        print("per-layer (traced run):")
        for name, (value, unit) in per_layer.items():
            print(f"  {name:<40} {value:>14.6g} {unit}")
        if os.path.exists(res_path.format(0)):
            with open(res_path.format(0)) as f:
                base = json.load(f)["end_to_end"]
            print("tracing overhead (traced minus untraced, same seed):")
            for name, unit in END_TO_END:
                print(f"  {name:<40} {e2e[name] - base[name]:>+14.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    with open(res_path.format(args.trace), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: {time.perf_counter() - t0:.1f}s wall", file=sys.stderr)
    sys.exit(code)
