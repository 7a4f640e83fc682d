"""Where a `check all` flow spends its time: wall seconds, Spark jobs
and codegen compiles per step, cold and warm.

    python scripts/flow_probe.py [--seed 7] [--flows 4] [--cores N]
                                 [--json PATH]

Runs the flow that perfbench's `checkall_batch` workload times, FLOWS
times in one Spark session, over the same seeded input: `check_all()`
(the media-id collect and the plan building), the violations write,
the per-doc verdict write, `write_stats`, and `golden_diff` against the
input's pinned golden stats. Each step runs in its own job group; its
job count comes from the status tracker once the listener bus has
drained, and its compile count is the change in the JVM's codegen
compilation-time histogram (`CodegenMetrics.METRIC_COMPILATION_TIME`).
Flow 1 pays JIT and cold codegen; later flows show the warm steady
state.

The input is perfbench's, generated from the seed on first use and
cached under `.perfbench/`. Spark settings follow perfbench: a 3g
driver heap (unless SPARK_DRIVER_MEM is set), 4m input splits,
16,000-row Arrow batches. The numbers are wall times: run one probe at
a time on a quiet host.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from inputs import checkall_input  # noqa: E402

STEPS = ("check_all", "violations", "verdicts", "write_stats", "golden_diff")


class StepMeter:
    """Wall time, job count and compile count of one step at a time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.n = 0

    def run(self, fn) -> tuple[object, dict]:
        self.n += 1
        group = f"flow_probe_{self.n}"
        c0 = self.compiles.getCount()
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bus.waitUntilEmpty()
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
        return out, {"wall_s": round(wall, 3), "jobs": jobs,
                     "compiles": self.compiles.getCount() - c0}


def run_flow(spark, meter: StepMeter, docs_dir: str, media, golden: str,
             out: str) -> dict:
    from fastpasta_spark.functions.cache import release_tracked
    from fastpasta_spark.plans.check_all import check_all
    from fastpasta_spark.plans.report import golden_diff, read_stats, write_stats

    docs = spark.read.parquet(docs_dir)
    stats_path = os.path.join(out, "stats.json")
    steps = {}
    res, steps["check_all"] = meter.run(lambda: check_all(docs, media))
    _, steps["violations"] = meter.run(
        lambda: res.violations.write.mode("overwrite").parquet(
            os.path.join(out, "violations")))
    _, steps["verdicts"] = meter.run(
        lambda: res.passed.write.mode("overwrite").parquet(
            os.path.join(out, "verdicts")))
    _, steps["write_stats"] = meter.run(lambda: write_stats(res.metrics, stats_path))
    mismatches, steps["golden_diff"] = meter.run(
        lambda: golden_diff(res.metrics, read_stats(spark, golden)).collect())
    if mismatches:
        raise SystemExit(f"golden_diff found {len(mismatches)} mismatches: "
                         f"{mismatches[:3]}")
    res.release()
    release_tracked()
    steps["flow"] = {k: round(sum(s[k] for s in steps.values()), 3)
                     for k in ("wall_s", "jobs", "compiles")}
    return steps


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--flows", type=int, default=4)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--json", help="also write the per-flow steps here")
    args = ap.parse_args()

    path, meta = checkall_input(ROOT, args.seed)
    docs_dir = os.path.join(path, "docs")
    golden = os.path.join(path, "golden.json")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    from fastpasta_spark.session import get_spark
    from fastpasta_spark.sources.synth import CorpusConfig, media_df

    work = tempfile.mkdtemp(prefix="flow_probe_")
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name="flow_probe", cores=args.cores, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "512k",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "16000",
        })
        print(f"session start {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        media = media_df(spark, CorpusConfig(n_media=meta["n_media"]))
        meter = StepMeter(spark)
        flows = [run_flow(spark, meter, docs_dir, media, golden,
                          os.path.join(work, f"flow{f}"))
                 for f in range(args.flows)]
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"{'flow':>4} {'step':<12} {'wall_s':>7} {'jobs':>5} {'compiles':>8}")
    for i, steps in enumerate(flows, 1):
        for step in (*STEPS, "flow"):
            s = steps[step]
            print(f"{i:>4} {step:<12} {s['wall_s']:>7.3f} {s['jobs']:>5} "
                  f"{s['compiles']:>8}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(flows, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
