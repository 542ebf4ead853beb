"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The runner pins the environment (cores,
JVM heap, module path, scratch dirs inside ``.bench_work/``), starts
one local Spark session, runs the workload as a closed loop with one
client, checks every output, and prints ``{"correct", "attempted",
"failed", "metrics"}`` as the last line of stdout. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` wraps the
package's layer entry points, reads engine counters per op, reports the
per-layer metrics and writes every span to ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HEAP_GB = 4  # capped at a quarter of host memory
YOUNG_GEN = "512m"


def pin_environment(work: Path) -> tuple[int, int]:
    """Fix what the session inherits; returns the core count and the JVM
    heap in GiB."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        host_gb = int(fh.readline().split()[1]) // 2**20
    mem_gb = max(1, min(HEAP_GB, host_gb // 4))
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    path = [str(ROOT), str(HERE), *filter(None, [os.environ.get("PYTHONPATH")])]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        PYTHONPATH=os.pathsep.join(path),  # Python workers import the package too
        MALLOC_ARENA_MAX="2",  # per-thread malloc arenas make the JVM's RSS wander
    )
    return cpus, mem_gb


def peak_rss_mb(spark) -> float:
    """High-water resident set of the JVM behind ``spark``."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop(spark) -> None:
    """Stop the session and wait for the JVM, which exits on stdin EOF."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(layers: list[dict], spec: list[dict], cpus: int) -> dict:
    """Median over timed ops of each per-layer metric; a layer an op never
    reached reads 0."""
    ops = []
    for layer in layers:
        d = dict(layer)
        d["spark.slot_util"] = d["spark.task_s"] / (d["op_wall_s"] * cpus)
        d["spark.read_amp"] = d["spark.input_rows"] / d["landed_rows"]
        d["spark.write_amp"] = d["spark.output_bytes"] / d["landed_bytes"]
        d["registry.build_share"] = d.get("registry.build_s", 0.0) / d["op_wall_s"]
        d["operators.cdc.commits"] = d.get("operators.cdc.commit.count", 0)
        d["trace.op_wall_s"] = d["op_wall_s"]
        ops.append(d)
    return {
        m["name"]: {"value": statistics.median(d.get(m["name"], 0.0) for d in ops), "unit": m["unit"]}
        for m in spec
    }


def main(argv: list[str] | None = None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        from databricks_end_to_end_lakeflow_project_spark.session import get_spark
    except ImportError as ex:
        print(f"the lakeflow package is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    import workloads as wl
    from tracer import EngineProbe, Tracer

    bench_dir = ROOT / ".bench_work"
    work = bench_dir / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cpus, mem_gb = pin_environment(work)

    if args.workload == "medallion_refresh":
        workload = wl.Medallion(args.seed, str(work))
    else:
        workload = wl.QueryMix(wl.QUERY_MIXES[args.workload], args.seed, str(work))
    prepare_s = workload.prepare()
    t0 = time.perf_counter()
    spark = get_spark(
        "lakeflow-bench", cpus=cpus, shuffle_partitions=cpus,
        extra_conf={
            # a fixed heap and young generation keep peak RSS from following
            # the collector's run-to-run sizing decisions
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -Xms{mem_gb}g -Xmn{YOUNG_GEN}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    session_s = time.perf_counter() - t0
    tracer = probe = None
    try:
        if args.trace:
            tracer = Tracer()
            wl.instrument(tracer)
            probe = EngineProbe(spark)
        out = workload.run(spark, args.seconds, tracer, probe)
        rss = peak_rss_mb(spark)
    finally:
        if tracer is not None:
            tracer.restore()
        if probe is not None:
            probe.close()
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        tracer.dump(str(bench_dir / f"spans-{args.workload}-{args.seed}.json"))
        metrics = layer_metrics(out.layers, spec["per_layer"], cpus)
    else:
        values = {**out.metrics, "peak_rss_mb": rss}
        values["setup_s"] += prepare_s + session_s
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
