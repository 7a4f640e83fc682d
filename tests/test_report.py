"""Golden-stats round-trip + field-wise diff (the reference's
--output-stats / --input-stats-file regression flow,
`/root/reference/fastpasta/src/controller.rs:152-179`)."""

import itertools

from fastpasta_spark import schema as S
from fastpasta_spark.plans.check_all import check_all
from fastpasta_spark.plans.report import (
    format_report,
    golden_diff,
    metrics_to_dict,
    read_stats,
    write_stats,
)
from fastpasta_spark.sources.synth import CorpusConfig, corpus_df, media_df


def test_golden_stats_roundtrip(spark, tmp_path):
    cfg = CorpusConfig(n_docs=200, corrupt_per_mille=100)
    res = check_all(corpus_df(spark, cfg), media_df(spark, cfg))
    path = str(tmp_path / "stats.json")
    write_stats(res.metrics, path)
    golden = read_stats(spark, path)
    # re-run against the golden file: zero mismatches
    diff = golden_diff(res.metrics, golden)
    assert diff.count() == 0
    # no broadcast hint: a hint Spark cannot honour is ignored and logs
    # a warning on every call
    assert "ResolvedHint" not in diff._jdf.queryExecution().analyzed().toString()


def test_golden_diff_detects_mismatch(spark, tmp_path):
    cfg_a = CorpusConfig(n_docs=200, corrupt_per_mille=100)
    cfg_b = CorpusConfig(n_docs=210, corrupt_per_mille=100)
    res_a = check_all(corpus_df(spark, cfg_a), media_df(spark, cfg_a))
    res_b = check_all(corpus_df(spark, cfg_b), media_df(spark, cfg_b))
    path = str(tmp_path / "stats.json")
    write_stats(res_a.metrics, path)
    diff = golden_diff(res_b.metrics, read_stats(spark, path))
    rows = diff.collect()
    assert len(rows) > 0
    assert all(r.check_code == S.E130_GOLDEN_MISMATCH for r in rows)
    assert any("docs_seen" in r.message for r in rows)
    # engine-portable integral render (report._fmt_metric): counts read
    # 'current=210 golden=200', never '2.1E2' / '210.0' — the formatting
    # the DuckDB oracle reproduces verbatim
    docs_msg = next(r.message for r in rows if "docs_seen" in r.message)
    assert "current=210" in docs_msg and "golden=200" in docs_msg


def test_format_report(spark):
    cfg = CorpusConfig(n_docs=100, corrupt_per_mille=100)
    res = check_all(corpus_df(spark, cfg), media_df(spark, cfg))
    text = format_report(metrics_to_dict(res.metrics))
    assert "docs_seen" in text and "total_errors" in text


def test_alpide_census_reaches_golden_stats(spark, tmp_path):
    # G5 true form: the readout-flag census rides the same stats funnel
    # as every other counter — check_all metrics -> golden file -> diff
    cfg = CorpusConfig(n_docs=120, lane_layer=True, readout_flags=True,
                       min_frames=2, min_content=2)
    res = check_all(corpus_df(spark, cfg), media_df(spark, cfg))
    m = metrics_to_dict(res.metrics)
    assert m.get("alpide_chip_trailers_seen", 0) > 0
    assert {"alpide_busy_violations", "alpide_data_overrun",
            "alpide_transmission_in_fatal"} <= set(m)
    path = str(tmp_path / "stats_alpide.json")
    write_stats(res.metrics, path)
    assert golden_diff(res.metrics, read_stats(spark, path)).count() == 0
    assert "alpide_chip_trailers_seen" in format_report(m)


# ---------------------------------------------------------------------------
# JVM-side reference. golden_diff compares the two ~100-row tables on the
# driver; this full-outer-join form is what it replaced. It stays here as
# the in-engine reference the parity test compares with: same mismatch
# rule, same rendering (_fmt_metric), every value semantics Spark's.
# ---------------------------------------------------------------------------


def golden_diff_join(metrics, golden):
    from pyspark.sql import functions as F

    from fastpasta_spark.plans.report import APPROX_METRICS, _fmt_metric

    cur = metrics.select(F.col("name"), F.col("value").alias("cur"))
    gold = golden.select(F.col("name"), F.col("value").alias("gold"))
    j = cur.join(gold, "name", "full_outer")

    tol = F.lit(0.0)
    for metric, rtol in APPROX_METRICS.items():
        tol = F.when(F.col("name") == metric,
                     F.abs(F.col("gold")) * rtol).otherwise(tol)

    mismatch = (
        F.col("cur").isNull()
        | F.col("gold").isNull()
        | (F.abs(F.col("cur") - F.col("gold")) > tol)
    )
    return j.filter(mismatch).select(
        F.lit(None).cast("string").alias("doc_id"),
        F.lit(None).cast("int").alias("span_idx"),
        F.lit(-1).alias("offset"),
        F.lit(S.E130_GOLDEN_MISMATCH).alias("check_code"),
        F.lit(S.SEV_ERROR).alias("severity"),
        F.concat(
            F.lit("stats field mismatch: "), F.col("name"),
            F.lit(" current="),
            F.coalesce(_fmt_metric(F.col("cur")), F.lit("<absent>")),
            F.lit(" golden="),
            F.coalesce(_fmt_metric(F.col("gold")), F.lit("<absent>")),
        ).alias("message"),
    )


NAN, INF = float("nan"), float("inf")

# (current rows, golden rows) of (name, value); None is a NULL
DIFF_CASES = {
    "identical": ([("a", 1.0), ("b", 2.5)], [("a", 1.0), ("b", 2.5)]),
    "missing_either_side": ([("a", 1.0), ("only_cur", 2.0)],
                            [("a", 1.0), ("only_gold", 3.0)]),
    "null_value": ([("a", None), ("b", 1.0), ("c", None)],
                   [("a", 1.0), ("b", None), ("c", None)]),
    "large_fractional_negative": (
        [("big", 1e7), ("bigger", 123456789.0), ("huge", 1e16),
         ("frac", 0.5), ("neg", -3.0), ("negfrac", -2.25), ("same", -7.5)],
        [("big", 1e7 + 1), ("bigger", 123456788.0), ("huge", 2e16),
         ("frac", 0.25), ("neg", 3.0), ("negfrac", -2.5), ("same", -7.5)]),
    # 5% of 1000 is 50: 1049 and 1050 pass, 1051 and 949 fail; the
    # tolerance applies to doc_id_distinct_hll only
    "hll_inside": ([("doc_id_distinct_hll", 1049.0)],
                   [("doc_id_distinct_hll", 1000.0)]),
    "hll_edge": ([("doc_id_distinct_hll", 1050.0), ("exact", 1000.0)],
                 [("doc_id_distinct_hll", 1000.0), ("exact", 1000.0)]),
    "hll_outside": ([("doc_id_distinct_hll", 1051.0)],
                    [("doc_id_distinct_hll", 1000.0)]),
    "hll_outside_below": ([("doc_id_distinct_hll", 949.0)],
                          [("doc_id_distinct_hll", 1000.0)]),
    "not_hll_no_tolerance": ([("docs_seen", 1001.0)], [("docs_seen", 1000.0)]),
    # Spark ranks NaN above every value and equal to itself: NaN - NaN is
    # NaN, which is > 0.0 (a mismatch) but not > a NaN tolerance
    "nan": ([("n1", NAN), ("n2", NAN), ("n3", 1.0), ("inf", INF),
             ("doc_id_distinct_hll", NAN)],
            [("n1", NAN), ("n2", 1.0), ("n3", NAN), ("inf", INF),
             ("doc_id_distinct_hll", NAN)]),
    "nan_hll_tolerance": ([("doc_id_distinct_hll", 5.0)],
                          [("doc_id_distinct_hll", NAN)]),
    "duplicate_and_null_names": ([("d", 1.0), ("d", 2.0), (None, 1.0)],
                                 [("d", 1.0), (None, 1.0), ("g", None)]),
    "empty_golden": ([("a", 1.0)], []),
}


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_golden_diff_matches_join_reference(spark):
    schema = "name string, value double"
    for case, (cur, gold) in DIFF_CASES.items():
        m = spark.createDataFrame(cur, schema)
        g = spark.createDataFrame(gold, schema)
        got = golden_diff(m, g)
        assert got.schema == golden_diff_join(m, g).schema, case
        assert _sorted_rows(got) == _sorted_rows(golden_diff_join(m, g)), case
    # spot checks that the cases exercise both outcomes
    m = spark.createDataFrame(DIFF_CASES["hll_edge"][0], schema)
    g = spark.createDataFrame(DIFF_CASES["hll_edge"][1], schema)
    assert golden_diff(m, g).collect() == []
    m = spark.createDataFrame(DIFF_CASES["nan"][0], schema)
    g = spark.createDataFrame(DIFF_CASES["nan"][1], schema)
    assert {r.message.split()[3] for r in golden_diff(m, g).collect()} == {
        "n1", "n2", "n3", "inf"}


_groups = itertools.count()


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group once the
    listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    group = f"report_jobs_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_tables_run_no_jobs(spark, tmp_path):
    from fastpasta_spark.plans.report import custom_checks

    cfg = CorpusConfig(n_docs=150, corrupt_per_mille=100)
    res = check_all(corpus_df(spark, cfg), media_df(spark, cfg))
    path = str(tmp_path / "stats.json")
    write_stats(res.metrics, path)          # builds the cached metrics
    golden = read_stats(spark, path)
    assert golden.schema == S.METRICS_SCHEMA
    rows, jobs = _jobs_in(spark, golden.collect)
    assert jobs == 0 and len(rows) > 10
    # one job: the read of the cached metrics; the golden and the
    # rendered rows are LocalRelations
    diff, jobs = _jobs_in(
        spark, lambda: golden_diff(res.metrics, read_stats(spark, path)).collect())
    assert diff == [] and jobs <= 1
    # the custom-check expectations are a LocalRelation too
    exp = {"docs_seen": 1.0, "total_errors": 0.0}
    bad, jobs = _jobs_in(spark, lambda: custom_checks(res.metrics, exp).collect())
    assert {r.message.split()[3] for r in bad} == {"docs_seen", "total_errors"}
    assert jobs <= 2
    res.release()
