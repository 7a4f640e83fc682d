"""Report assembly + golden-stats regression diff.

Mirrors the reference's report/golden-stats machinery: stats are
serialized to JSON (`/root/reference/fastpasta/src/stats/
stats_collector.rs:161-175`), read back and compared field-by-field with
one error per mismatching field (`stats/lib.rs:9-31` ``validate_fields!``,
`controller.rs:152-179`). Here the metrics table IS the stats tree, and
the diff is a full-outer join — exact for counters, tolerance-aware for
the HLL estimate.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from dataclasses import field as dataclass_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastpasta_spark import schema as S

# metric names that are approximate by construction — compared with rtol
APPROX_METRICS = {"doc_id_distinct_hll": 0.05}


def metrics_to_dict(metrics: DataFrame) -> dict[str, float]:
    return {r["name"]: r["value"] for r in metrics.collect()}


def write_stats(metrics: DataFrame, path: str) -> None:
    """Serialize metrics to a golden-stats file (S6 analogue). Format by
    extension: .toml writes TOML, anything else JSON — the reference
    supports both (stats_collector.rs:161-175)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    d = metrics_to_dict(metrics)
    with open(path, "w") as f:
        if path.endswith(".toml"):
            # flat float table; keys quoted so error_count_E45 etc. are
            # legal bare TOML keys regardless of characters
            for k in sorted(d):
                f.write(f'"{k}" = {float(d[k])!r}\n')
        else:
            json.dump(d, f, indent=2, sort_keys=True)


def read_stats(spark: SparkSession, path: str) -> DataFrame:
    """Golden-stats source (S7 analogue); reads JSON or TOML."""
    if path.endswith(".toml"):
        import tomllib

        with open(path, "rb") as f:
            d = tomllib.load(f)
    else:
        with open(path) as f:
            d = json.load(f)
    return spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(d.items())], schema=S.METRICS_SCHEMA
    )


def _fmt_metric(c):
    """Engine-portable metric render: integral doubles as integers.

    Spark's CAST(1e7 AS STRING) is '1.0E7' while DuckDB's is
    '10000000.0' — any message embedding a count >= 10^7 would
    hash-mismatch its oracle on formatting alone. Shared by
    custom_checks and golden_diff (and mirrored in their SQL oracles)."""
    return F.when(
        (c == F.floor(c)) & (F.abs(c) < F.lit(9.0e15)),
        c.cast("bigint").cast("string")
    ).otherwise(c.cast("string"))


def golden_diff(metrics: DataFrame, golden: DataFrame) -> DataFrame:
    """Field-wise diff -> one E130 violation row per mismatching metric.

    Full-outer join on metric name; a field missing on either side is a
    mismatch, like the reference's per-field validate_fields! errors.
    No broadcast hint: Spark has no broadcast build side for a full
    outer equi-join, so it ignores the hint (the plan is a sort-merge
    join either way) and logs a HintErrorLogger warning per call.
    """
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


def custom_checks(metrics: DataFrame, expectations: dict[str, float],
                  rtol: float = 0.0,
                  absent_is_zero: frozenset[str] | set[str] = frozenset()
                  ) -> DataFrame:
    """User-configured expectations against the metrics table — the V2
    analogue of the reference's custom TOML checks (expected CDP count,
    expected trigger count; custom_checks_cfg.rs:7-28,
    stats_validation.rs:4-38). One E9001 row per failed expectation;
    a missing metric also fails — EXCEPT names in ``absent_is_zero``
    (counter partials that simply never fired: absent means 0 there,
    so an expectation of 0 passes on a corpus with none)."""
    spark = metrics.sparkSession
    exp = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(expectations.items())],
        schema=S.METRICS_SCHEMA,
    ).select(F.col("name"), F.col("value").alias("expected"))
    j = exp.join(metrics.withColumnRenamed("value", "actual"), "name", "left")
    if absent_is_zero:
        j = j.withColumn(
            "actual",
            F.when(F.col("actual").isNull()
                   & F.col("name").isin(*sorted(absent_is_zero)),
                   F.lit(0.0)).otherwise(F.col("actual")))
    bad = j.filter(
        F.col("actual").isNull()
        | (F.abs(F.col("actual") - F.col("expected"))
           > F.abs(F.col("expected")) * rtol)
    )
    fmt = _fmt_metric

    return bad.select(
        F.lit(None).cast("string").alias("doc_id"),
        F.lit(None).cast("int").alias("span_idx"),
        F.lit(-1).alias("offset"),
        F.lit(S.E9001_CUSTOM_CHECK).alias("check_code"),
        F.lit(S.SEV_ERROR).alias("severity"),
        F.concat(
            F.lit("custom check failed: "), F.col("name"),
            F.lit(" expected="), fmt(F.col("expected")),
            F.lit(" actual="),
            F.coalesce(fmt(F.col("actual")), F.lit("<absent>")),
        ).alias("message"),
    )


@dataclass
class CustomChecksConfig:
    """The reference's four custom-check kinds (custom_checks_cfg.rs:7-28,
    validated in stats_validation.rs:4-38), re-expressed for the
    interleaved-docs model:

      cdps            -> expect_doc_count           (docs_seen)
      triggers_pht    -> expect_internal_trig_count (trig_internal_count:
                         trig spans with int=1 — the internal/physics
                         trigger census the pass counts)
      chip_count_ob   -> chips_per_lane: overrides the header-derived
                         ``chips=`` expectation in the E9004 check
      chip_orders_ob  -> legal_chip_orderings: replaces the default
                         strictly-increasing chip-id legality (E9005)
                         with an explicit list of legal sequences

    expect_metrics carries any further name -> value expectations
    (generic E9001, like the raw custom_checks function). Count
    expectations land as E9001 violation rows appended AFTER the error
    rollup — they assert on the finished stats, mirroring the reference
    running stats validation at the very end of a run, so they do not
    feed back into total_errors/error_count_* metrics.
    """

    expect_doc_count: int | None = None
    expect_internal_trig_count: int | None = None
    chips_per_lane: int | None = None
    legal_chip_orderings: list[list[int]] | None = None
    expect_metrics: dict[str, float] = dataclass_field(default_factory=dict)

    # metric names where an absent partial means a count of zero
    _ABSENT_ZERO = frozenset({"trig_internal_count"})

    def expectations(self) -> dict[str, float]:
        exp = dict(self.expect_metrics)
        if self.expect_doc_count is not None:
            exp["docs_seen"] = float(self.expect_doc_count)
        if self.expect_internal_trig_count is not None:
            exp["trig_internal_count"] = float(self.expect_internal_trig_count)
        return exp

    def violations(self, metrics: DataFrame) -> DataFrame:
        return custom_checks(metrics, self.expectations(),
                             absent_is_zero=self._ABSENT_ZERO)

    @classmethod
    def from_toml(cls, path: str) -> "CustomChecksConfig":
        """Load from a TOML file using the REFERENCE's field names
        (custom_checks_cfg.rs:7-28) so a fastPASTA custom-checks file
        translates 1:1:

            cdps = 20                 # expected doc count
            triggers_pht = 4          # expected internal-trigger count
            chip_count_ob = 7
            chip_orders_ob = [[0,1,2,3,4,5,6], [8,9,10,11,12,13,14]]

            [expect_metrics]          # engine extension: any metric
            total_errors = 0.0
        """
        import tomllib

        with open(path, "rb") as f:
            d = tomllib.load(f)
        return cls(
            expect_doc_count=d.get("cdps"),
            expect_internal_trig_count=d.get("triggers_pht"),
            chips_per_lane=d.get("chip_count_ob"),
            legal_chip_orderings=[list(o) for o in d["chip_orders_ob"]]
            if "chip_orders_ob" in d else None,
            expect_metrics={k: float(v)
                            for k, v in d.get("expect_metrics", {}).items()},
        )


def format_report(metrics: dict[str, float], max_width: int = 60) -> str:
    """Human-readable totals table (stats_report.rs:16-64 analogue)."""
    lines = ["fastpasta_spark report", "=" * max_width]
    for section, pred in [
        ("totals", lambda k: k in ("docs_seen", "spans_seen", "total_errors",
                                   "rows_total", "docs_with_errors",
                                   "error_codes_distinct")),
        ("kinds", lambda k: k.startswith("kind_count_")),
        ("errors", lambda k: k.startswith("error_count_")),
        ("error attribution (docs affected)",
         lambda k: k.startswith("error_docs_")),
        ("text stats", lambda k: k.startswith("text_len")),
        ("alpide readout flags", lambda k: k.startswith("alpide_")),
        ("uniqueness", lambda k: k.startswith("doc_id_distinct")),
    ]:
        rows = {k: v for k, v in sorted(metrics.items()) if pred(k)}
        if rows:
            lines.append(f"--- {section}")
            for k, v in rows.items():
                lines.append(f"{k:<40} {v:>15,.0f}")
    return "\n".join(lines)
