"""Golden-stats round-trip + field-wise diff (the reference's
--output-stats / --input-stats-file regression flow,
`/root/reference/fastpasta/src/controller.rs:152-179`)."""

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
    # no broadcast hint: Spark cannot broadcast a side of a full outer
    # join, so a hint there is ignored and logs a warning on every call
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
