"""fastpasta_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload checkall_batch --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from the seed and
cached under .perfbench/ (generation is never timed); everything the run
writes stays inside the checkout. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. A fuller record of
the run goes to .perfbench/results/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# the driver JVM's heap: get_spark defaults to 48g, far past this host
DRIVER_MEM = "3g"


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and bound the
    JVM heap, before pyspark or tempfile are first used."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def _spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # bench.py's settings: small input splits so 4 cores stay busy,
        # bigger Arrow batches for the fused pass
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.files.openCostInBytes": "512k",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "16000",
    }


def _stop(spark) -> None:
    """Stop Spark, the JVM and every Python worker, and wait for them."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (subprocess.TimeoutExpired, OSError):
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while measure.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in measure.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # without the program there is nothing to measure: fail fast
    if not os.path.isfile(os.path.join(ROOT, "fastpasta_spark", "__init__.py")):
        print("fastpasta_spark not found next to perfbench/", file=sys.stderr)
        return 2
    _environment()
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    prepare, execute = workloads.WORKLOADS[args.workload]
    run = workloads.Run(ROOT, args.workload, args.seed, args.seconds,
                        bool(args.trace))
    t_gen = time.perf_counter()
    inp = prepare(run)
    run.info["input_s"] = time.perf_counter() - t_gen
    run.info["generate_s"] = inp[1]["generate_s"]

    from fastpasta_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    rss = measure.RssSampler().start()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores,
                      extra_conf=_spark_conf())
    start_s = time.perf_counter() - t0
    try:
        if run.traced:
            run.plans = measure.PlanCapture(spark)
        res = execute(run, spark, inp)
        if run.plans:
            run.plans.close()
    finally:
        rss.stop()
        _stop(spark)

    walls = res["walls"]
    wall = measure.median(walls)
    e2e = {
        "setup_s": start_s + res["warmup_s"],
        "wall_s": wall,
        "docs_per_s": res["n_docs"] / wall,
        "peak_rss_mb": rss.peak / 1e6,
    }
    run.layer.update({"session.start_s": start_s,
                      "session.warmup_s": res["warmup_s"], "trace.wall_s": wall})
    layer = {n: run.layer.get(n, 0) for n, _ in workloads.LAYER_METRICS}
    units = dict(workloads.LAYER_METRICS) if run.traced else workloads.END_TO_END
    shown = layer if run.traced else e2e
    metrics = {n: {"value": v, "unit": units[n]} for n, v in shown.items()}

    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "seconds": args.seconds, "cores": cores,
              "driver_mem": os.environ["SPARK_DRIVER_MEM"],
              "walls_s": walls,
              "end_to_end": e2e, "per_layer": layer,
              "attempted": run.attempted, "failed": run.failed,
              "problems": run.problems[:20], **run.info}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    base = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}")
    if run.traced and os.path.exists(base + "-trace0.json"):
        with open(base + "-trace0.json") as f:
            record["trace_overhead_s"] = wall - json.load(f)["end_to_end"]["wall_s"]
    with open(f"{base}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)
    for n, m in metrics.items():
        print(f"{args.workload} {n} = {m['value']:.6g} {m['unit']}",
              file=sys.stderr)
    print(f"{args.workload} reps = {len(walls)}, cores = {cores}, "
          f"driver heap = {os.environ['SPARK_DRIVER_MEM']}", file=sys.stderr)
    for p in run.problems[:20]:
        print(f"FAILED: {p}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
