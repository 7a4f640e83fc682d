"""The workloads: checkall_batch and curate_docs.

Each workload has a `prepare` step (input generation, before the Spark
session exists) and a `run` step that warms up at full workload shape,
measures, and checks every output. Untraced runs report the end-to-end
metrics; traced runs wrap the calls into each layer in spans, capture
the executed plan of every action, and report the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import inputs
import measure
import oracle

# module that owns each curation query's hot operator (metric prefix)
CURATION_MODULES = {
    "textstats": "textstats", "minhash_signatures": "arrowtext",
    "simhash": "arrowtext", "jaccard_pairs": "dedup",
    "dup_clusters": "graph", "cosine_topk": "similarity",
    "lsh_ann": "similarity", "decontam": "dedup",
    "unigram_lm": "textstats", "curation": "curate",
}

# the end-to-end curation suite. dup_clusters and curation run in traced
# runs only: a run must stay near 60 s, and those two alone take ~15 s
# warm and ~22 s cold (fixed per-round label-propagation costs) at any
# size tried here
CURATE_SUITE = ("textstats", "minhash_signatures", "simhash",
                "jaccard_pairs", "cosine_topk", "lsh_ann", "decontam",
                "unigram_lm")
CURATE_TRACED_ONLY = ("dup_clusters", "curation")

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "docs_per_s": "1/s", "peak_rss_mb": "MB",
}

LAYER_METRICS = [  # (name, unit)
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("sources.scan_s", "s"),
    ("sequence.pass_s", "s"), ("sequence.rows_v", "count"),
    ("sequence.rows_s", "count"), ("sequence.rows_k", "count"),
    ("sequence.py_bytes_in", "bytes"), ("sequence.py_bytes_out", "bytes"),
    ("sequence.py_time_s", "s"),
    ("check_all.media_bc_s", "s"), ("check_all.violations_s", "s"),
    ("check_all.metrics_s", "s"), ("check_all.passed_s", "s"),
    ("check_all.write_s", "s"), ("check_all.shuffle_bytes", "bytes"),
    ("check_all.shuffle_records", "count"),
    ("check_all.violation_rows", "count"),
    ("cache.held", "count"), ("cache.release_s", "s"),
    ("report.write_stats_s", "s"), ("report.golden_diff_s", "s"),
    ("validate_stream.wall_s", "s"), ("validate_stream.epoch_p50_s", "s"),
    ("validate_stream.epoch_p75_s", "s"), ("validate_stream.epochs", "count"),
    ("validate_stream.input_rows", "count"),
    ("validate_stream.add_batch_p50_s", "s"),
    ("validate_stream.latest_offset_p50_s", "s"),
    ("validate_stream.wal_commit_p50_s", "s"),
    ("validate_stream.planning_p50_s", "s"),
    ("validate_stream.media_bc_p50_s", "s"),
    ("validate_stream.sink_files", "count"),
    ("validate_stream.sink_bytes", "bytes"),
    *[(f"{m}.{q}_{s}", u) for q, m in CURATION_MODULES.items()
      for s, u in (("s", "s"), ("rows", "count"))],
    ("curate.py_time_s", "s"), ("curate.shuffle_bytes", "bytes"),
    ("trace.wall_s", "s"),
]


@dataclass
class Run:
    """State of one benchmark invocation."""
    root: str
    workload: str
    seed: int
    seconds: float
    traced: bool
    spans: measure.Spans = None
    plans: measure.PlanCapture | None = None
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def __post_init__(self) -> None:
        self.spans = measure.Spans(self.traced)

    @property
    def out(self) -> str:
        return os.path.join(self.root, ".perfbench", "out", self.workload)

    def op(self, ok: bool, what: str = "") -> None:
        """Count one operation; a failed one also records why."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def repeat(self, fn, min_reps: int) -> list[float]:
        """Call fn (which returns its own wall time) until `seconds` have
        passed and at least min_reps calls were made."""
        walls: list[float] = []
        t0 = time.perf_counter()
        while len(walls) < min_reps or time.perf_counter() - t0 < self.seconds:
            walls.append(fn())
        return walls


def _rep_spans(run: Run) -> dict[str, float]:
    """Span totals by name since the last call (one rep's breakdown)."""
    totals: dict[str, float] = {}
    for name, s, e, _ in run.spans.records:
        totals[name] = totals.get(name, 0.0) + (e - s)
    run.spans.records.clear()
    return totals


def _median_of(reps: list[dict], name: str) -> float:
    return measure.median([r.get(name, 0.0) for r in reps])


def _media(spark, n_media: int):
    from fastpasta_spark.sources.synth import CorpusConfig, media_df

    return media_df(spark, CorpusConfig(n_media=n_media))


# --------------------------------------------------------------------------
# checkall_batch
# --------------------------------------------------------------------------


def _checkall_flow(run: Run, spark, docs_dir: str, golden: str,
                   n_media: int, out: str) -> dict:
    """The `check all` CLI flow through library calls: check_all, write
    violations and per-doc verdicts as parquet, write_stats, golden_diff
    against the pinned stats. Returns wall time, outputs, rep spans."""
    from fastpasta_spark.functions.cache import release_tracked, tracked_count
    from fastpasta_spark.plans.check_all import check_all
    from fastpasta_spark.plans.report import golden_diff, read_stats, write_stats

    sp = run.spans.span
    docs = spark.read.parquet(docs_dir)
    media = _media(spark, n_media)
    stats_path = os.path.join(out, "stats.json")
    # spans and actions before this rep are not part of it
    run.spans.records.clear()
    if run.plans:
        run.plans.drain()
    t0 = time.perf_counter()
    res = check_all(docs, media)
    with sp("check_all.violations"):
        res.violations.write.mode("overwrite").parquet(
            os.path.join(out, "violations"))
    with sp("check_all.passed"):
        res.passed.write.mode("overwrite").parquet(os.path.join(out, "verdicts"))
    with sp("report.write_stats"):
        write_stats(res.metrics, stats_path)
    with sp("report.golden_diff"):
        mismatches = golden_diff(res.metrics, read_stats(spark, golden)).collect()
    wall = time.perf_counter() - t0
    held = tracked_count()
    with sp("cache.release"):
        res.release()
        release_tracked()
    with open(stats_path) as f:
        stats = json.load(f)
    return {"wall": wall, "mismatches": mismatches, "stats": stats,
            "held": held, "spans": _rep_spans(run),
            "plans": run.plans.drain() if run.plans else []}


def _check_checkall(run: Run, spark, r: dict, n_docs: int, out: str) -> None:
    """One flow rep is one operation: golden_diff must report nothing,
    the exact distinct count must equal the doc count, and the FAIL
    verdicts must equal docs_with_errors."""
    from pyspark.sql import functions as F

    n_fail = (spark.read.parquet(os.path.join(out, "verdicts"))
              .filter(F.col("verdict") == "FAIL").count())
    st = r["stats"]
    bad = [m.message for m in r["mismatches"]]
    if st.get("doc_id_distinct_exact") != n_docs:
        bad.append(f"doc_id_distinct_exact {st.get('doc_id_distinct_exact')}"
                   f" != {n_docs}")
    if n_fail != st.get("docs_with_errors"):
        bad.append(f"FAIL verdicts {n_fail} != docs_with_errors "
                   f"{st.get('docs_with_errors')}")
    run.op(not bad, "check_all: " + "; ".join(bad[:5]))


def _layer_probes(run: Run, spark, docs_dir: str, n_media: int) -> None:
    """Traced only: the scan alone and the fused pass alone, each into a
    sink that keeps no data, with exact pass row counts by row type."""
    from fastpasta_spark.operators.sequence import sequence_pass
    from fastpasta_spark.plans.check_all import media_id_broadcast

    docs = spark.read.parquet(docs_dir).select("doc_id", "spans")
    t0 = time.perf_counter()
    docs.write.format("noop").mode("overwrite").save()
    run.layer["sources.scan_s"] = time.perf_counter() - t0
    run.plans.drain()

    bc = media_id_broadcast(_media(spark, n_media), track=False)
    t0 = time.perf_counter()
    counts = dict(sequence_pass(docs, fused=True, valid_media_ids=bc)
                  .groupBy("row_type").count().collect())
    run.layer["sequence.pass_s"] = time.perf_counter() - t0
    bc.unpersist()
    for t in ("v", "s", "k"):
        run.layer[f"sequence.rows_{t}"] = counts.get(t, 0)
    agg = run.plans.metrics(run.plans.drain())
    sent, recv, py_s = measure.python_udf_metrics(agg, measure.PYTHON_EXECS)
    run.layer["sequence.py_bytes_in"] = sent
    run.layer["sequence.py_bytes_out"] = recv
    run.layer["sequence.py_time_s"] = py_s


def _checkall_layers(run: Run, reps: list[dict]) -> None:
    spans = [r["spans"] for r in reps]
    for key, name in (("check_all.media_bc_s", "check_all.media_bc"),
                      ("check_all.violations_s", "check_all.violations"),
                      ("check_all.metrics_s", "check_all.metrics"),
                      ("check_all.passed_s", "check_all.passed"),
                      ("report.write_stats_s", "report.write_stats"),
                      ("report.golden_diff_s", "report.golden_diff"),
                      ("cache.release_s", "cache.release")):
        run.layer[key] = _median_of(spans, name)
    run.layer["check_all.write_s"] = measure.median(
        [s.get("check_all.violations", 0.0) + s.get("check_all.passed", 0.0)
         + s.get("report.write_stats", 0.0) for s in spans])
    shuffles = [measure.shuffle_totals(run.plans.metrics(r["plans"]))
                for r in reps]
    run.layer["check_all.shuffle_bytes"] = measure.median([b for b, _ in shuffles])
    run.layer["check_all.shuffle_records"] = measure.median(
        [n for _, n in shuffles])
    run.layer["check_all.violation_rows"] = reps[-1]["stats"]["total_errors"]
    run.layer["cache.held"] = reps[-1]["held"]


def _wrap_check_all_calls(run: Run, bc_span: str) -> list:
    """Traced only: spans around media_id_broadcast (called by check_all
    and, per epoch, by validate_stream) and around the metrics collect
    inside write_stats."""
    from fastpasta_spark.plans import check_all as check_all_mod
    from fastpasta_spark.plans import report as report_mod

    return [run.spans.wrap(check_all_mod, "media_id_broadcast", bc_span),
            run.spans.wrap(report_mod, "metrics_to_dict", "check_all.metrics")]


def checkall_prepare(run: Run) -> tuple[str, dict]:
    path, meta = inputs.checkall_input(run.root, run.seed)
    if run.traced:
        meta = {**meta, "stream": inputs.stream_input(run.root, run.seed)}
    return path, meta


def checkall_run(run: Run, spark, inp: tuple[str, dict]) -> dict:
    path, meta = inp
    docs_dir = os.path.join(path, "docs")
    golden = os.path.join(path, "golden.json")
    out = run.out
    undo = _wrap_check_all_calls(run, "check_all.media_bc")

    def rep() -> dict:
        r = _checkall_flow(run, spark, docs_dir, golden, meta["n_media"], out)
        _check_checkall(run, spark, r, meta["n_docs"], out)
        return r

    # warm-up at full shape: the first flow compiles everything, and the
    # second still runs ~10% slow (JIT)
    t0 = time.perf_counter()
    rep()
    rep()
    warmup = time.perf_counter() - t0
    if run.traced:
        _layer_probes(run, spark, docs_dir, meta["n_media"])
    reps: list[dict] = []

    def measured() -> float:
        reps.append(rep())
        return reps[-1]["wall"]

    walls = run.repeat(measured, 2)
    for u in undo:
        u()
    if run.traced:
        _checkall_layers(run, reps)
        _stream_traced(run, spark, meta["stream"])
    return {"warmup_s": warmup, "walls": walls, "n_docs": meta["n_rows"]}


# --------------------------------------------------------------------------
# streaming drain (traced checkall_batch runs)
# --------------------------------------------------------------------------


def _drain(spark, src: str, out: str, media) -> float:
    import shutil

    from fastpasta_spark.streaming.validate_stream import validate_stream

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    q = validate_stream(spark, src, os.path.join(out, "sink"),
                        os.path.join(out, "checkpoint"), media=media,
                        max_files_per_trigger=1)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    return wall


def _code_totals(spark, viol_dir: str) -> dict[str, int]:
    rows = spark.read.parquet(viol_dir).groupBy("check_code").count().collect()
    return {r["check_code"]: int(r["count"]) for r in rows}


def _stream_traced(run: Run, spark, inp: tuple[str, dict]) -> None:
    """Traced checkall_batch runs only: validate_stream drains 40 files of
    150 docs, one file per epoch, after a 2-epoch warm-up drain of another
    corpus. Every epoch is one operation: the drain's per-code totals must
    equal the reference totals of the same files, except E100, which is
    batch-only (validate_stream keeps no cross-epoch key state)."""
    from fastpasta_spark.schema import E100_DUPLICATE_KEY

    path, meta = inp
    media = _media(spark, meta["n_media"])
    listener, events = measure.epoch_listener(spark)
    undo = _wrap_check_all_calls(run, "validate_stream.media_bc")
    out = os.path.join(run.out, "stream")
    _drain(spark, meta["warmup"], os.path.join(run.out, "warm"), media)
    _wait_events(events, None, 0)
    events.clear()
    run.spans.records.clear()
    run.layer["validate_stream.wall_s"] = _drain(
        spark, os.path.join(path, "files"), out, media)
    epochs = _wait_events(events, meta["n_rows"], meta["n_files"])
    bc = run.spans.durations("validate_stream.media_bc")
    run.spans.records.clear()
    for u in undo:
        u()
    spark.streams.removeListener(listener)

    expected = {c: n for c, n in meta["code_rows"].items()
                if c != E100_DUPLICATE_KEY}
    got = _code_totals(spark, os.path.join(out, "sink", "violations"))
    rows_in = sum(e["rows"] for e in epochs)
    ok = got == expected and rows_in == meta["n_rows"]
    for _ in epochs:
        run.op(ok, f"stream totals {got} != {expected} or rows {rows_in}")
    _stream_layers(run, epochs, bc, out)


def _wait_events(events: list, n_rows: int | None, n_epochs: int,
                 timeout: float = 20.0) -> list[dict]:
    """Progress events arrive on the listener bus after the query ends:
    wait for all data epochs (or, with n_rows None, for the bus to go
    quiet)."""
    t0 = time.perf_counter()
    last = -1
    while time.perf_counter() - t0 < timeout:
        data = [e for e in events if e["rows"] > 0]
        if n_rows is not None and sum(e["rows"] for e in data) >= n_rows:
            break
        if n_rows is None and len(events) == last:
            break
        last = len(events)
        time.sleep(0.2)
    data = sorted((e for e in events if e["rows"] > 0),
                  key=lambda e: e["batch_id"])
    if n_rows is not None and len(data) < n_epochs:
        raise RuntimeError(f"saw {len(data)} data epochs, expected {n_epochs}")
    return data


def _stream_layers(run: Run, epochs: list[dict], bc: list[float],
                   out: str) -> None:
    def p50(key: str) -> float:
        return measure.median([e.get(key, 0.0) for e in epochs])

    trig = [e["triggerExecution"] for e in epochs]
    run.layer["validate_stream.epoch_p50_s"] = measure.median(trig)
    run.layer["validate_stream.epoch_p75_s"] = measure.quantile(trig, 0.75)
    run.layer["validate_stream.epochs"] = len(epochs)
    run.layer["validate_stream.input_rows"] = sum(e["rows"] for e in epochs)
    run.layer["validate_stream.add_batch_p50_s"] = p50("addBatch")
    run.layer["validate_stream.latest_offset_p50_s"] = p50("latestOffset")
    run.layer["validate_stream.wal_commit_p50_s"] = p50("walCommit")
    run.layer["validate_stream.planning_p50_s"] = p50("queryPlanning")
    run.layer["validate_stream.media_bc_p50_s"] = measure.median(bc) if bc else 0.0
    n_files = n_bytes = 0
    for d, _, fs in os.walk(os.path.join(out, "sink")):
        for f in fs:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(d, f))
    run.layer["validate_stream.sink_files"] = n_files
    run.layer["validate_stream.sink_bytes"] = n_bytes


# --------------------------------------------------------------------------
# curate_docs
# --------------------------------------------------------------------------


def curate_prepare(run: Run) -> tuple[str, dict]:
    return inputs.curate_input(run.root, run.seed)


def curate_run(run: Run, spark, inp: tuple[str, dict]) -> dict:
    import __spark_entry__ as entry
    from fastpasta_spark.functions.cache import release_tracked

    path, meta = inp
    expected = oracle.load_expected()
    if expected.get("input_version") != inputs.INPUT_VERSION:
        raise RuntimeError("curate_expected.json is stale: run perfbench/oracle.py")
    expected = expected[str(meta["variant"])]["queries"]
    qs = entry.queries()
    suites: list[dict] = []

    def suite(names: tuple[str, ...], plan_metrics: bool = False) -> float:
        """Run and check the queries; with plan_metrics (traced runs),
        also sum Python and shuffle metrics over their executed plans."""
        per: dict[str, tuple[float, int]] = {}
        py_s = shuffle = 0.0
        for q in names:
            t0 = time.perf_counter()
            df = qs[q](spark, path)
            rows = df.collect()
            per[q] = (time.perf_counter() - t0, len(rows))
            got = {"rows": len(rows), "hash": oracle.value_hash(rows, df.columns)}
            run.op(got == expected[q], f"{q}: {got} != oracle {expected[q]}")
            if run.plans:
                plans = run.plans.drain()
                if plan_metrics:
                    agg = run.plans.metrics(plans)
                    py_s += measure.python_udf_metrics(agg, measure.PYTHON_EXECS)[2]
                    shuffle += measure.shuffle_totals(agg)[0]
            release_tracked()
        suites.append({"per": per, "py_s": py_s, "shuffle": shuffle})
        return sum(t for t, _ in per.values())

    # warm-up at full shape: the first suite compiles everything. The
    # second still runs 10-20% slow, but a second warm-up suite would not
    # fit the run budget (README), so it is the first of the measured two
    t0 = time.perf_counter()
    suite(CURATE_SUITE)
    warmup = time.perf_counter() - t0
    suites.clear()
    walls = run.repeat(lambda: suite(CURATE_SUITE, plan_metrics=True), 2)
    run.info["query_s"] = {q: [s["per"][q][0] for s in suites]
                           for q in CURATE_SUITE}
    if run.traced:
        timed = list(suites)
        # the two graph-iterating queries, traced runs only and once, so
        # their times include first-run compilation (README)
        suite(CURATE_TRACED_ONLY)
        extra = suites[-1]["per"]
        for q, m in CURATION_MODULES.items():
            src = [extra] if q in extra else [s["per"] for s in timed]
            run.layer[f"{m}.{q}_s"] = measure.median([p[q][0] for p in src])
            run.layer[f"{m}.{q}_rows"] = src[-1][q][1]
        run.layer["curate.py_time_s"] = measure.median([s["py_s"] for s in timed])
        run.layer["curate.shuffle_bytes"] = measure.median(
            [s["shuffle"] for s in timed])
    return {"warmup_s": warmup, "walls": walls, "n_docs": meta["n_docs"]}


WORKLOADS = {
    "checkall_batch": (checkall_prepare, checkall_run),
    "curate_docs": (curate_prepare, curate_run),
}
