"""The `check all` pipeline — single-scan validation, fastPASTA-style.

Reference lifecycle (`/root/reference/fastpasta/src/lib.rs:101-159`,
doc/data_flow.md:13-23): one scan feeds batch stats, per-key validators
and the stats funnel concurrently; nothing reads the input twice. The
Spark translation keeps that property whole: the ONE scan carries the
compute (FSM + battery + stats) AND the referential check (refs tested
in-scan against a broadcast media-id set, only dangling rows emitted —
valid refs, ~90% of pass rows on media-heavy corpora, never leave the
pass, and no second scan exists; BENCH/REFS_INPASS.md):

  stage 1  docs scan -> fused mapInArrow pass (FSM + stateless battery
           + stats partials + uniqueness keys)  [the one COMPUTE scan]
  stage 2  pass output materialized ONCE, partitioned by row_type
           (parquet work_dir -> partition pruning per branch; or
           MEMORY_AND_DISK persist for small runs)
  stage 3  branches on the (much smaller) pass output:
             'v' rows  -> violation table
             's' rows  -> stats merge (partial+final agg)
             'k' rows  -> uniqueness (groupBy count>1 + HLL totals);
                          the persisted groups (one row per distinct
                          doc_id, NULL included) are also the per-doc
                          verdict universe — no second key shuffle
             kind mix  -> chi-square drift vs golden profile
           (E110 referential rows are 'v' rows: the pass checks refs
            in-scan against a broadcast media-id set — no re-scan; the
            columnar media_ref_rows form below serves the standalone
            dangling_refs driver query)
  stage 4  metrics assembly + error-code rollup (G6 analogue), persisted
           ONCE as a single partition: the report, write_stats,
           golden_diff and custom checks all read that table (the
           reference builds its stats once and then reports, writes and
           validates them, controller.rs:152-179)

Violations sort by (doc_id, offset, check_code) — the reference sorts
error rows by memory position before display (error_stats.rs:36-47).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastpasta_spark import schema as S
from fastpasta_spark.operators import drift as drift_ops
from fastpasta_spark.operators.sequence import sequence_pass, split_sequence_output


@dataclass
class CheckResult:
    violations: DataFrame  # VIOLATION_SCHEMA, sorted
    metrics: DataFrame     # (name, value), persisted: read it, never re-derive
    passed: DataFrame      # (doc_id, verdict) per-doc pass/fail
    # persisted frames (pass output, violation union, uniqueness groups,
    # metrics table). They are ALSO registered with the session cache
    # registry (tracked_persist), so either release path works: callers
    # that run MANY check_all's in one session (run_failfast slices,
    # resumable loops) call release() per result; a bare caller frees
    # everything at once with functions.cache.release_tracked().
    # Double-release is a no-op.
    _cached: tuple = ()
    # release closures beyond unpersist (the media-id broadcast): run by
    # release() AND deregistered, same dead-entry rationale as _cached
    _extra_release: tuple = ()

    def release(self) -> None:
        from fastpasta_spark.functions.cache import (
            untrack_release,
            untrack_run,
        )

        for df in self._cached:
            untrack_release(df)
        for fn in self._extra_release:
            untrack_run(fn)


def _uniqueness_branch(
        keys: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """'k' rows -> (E100 violations, uniqueness metrics, persisted
    groups — the caller must register the third frame for release).

    ONE groupBy lineage serves everything: dup violations filter it, the
    exact distinct is its row count, and the HLL sketches its keys (same
    estimate domain). Round-2 profiling showed a groupBy for dups PLUS
    an independent countDistinct agg paid the key shuffle twice and was
    the largest non-pass cost at 16 cores. A persist() here was then
    A/B-measured SLOWER at 32 cores — but that verdict predates the
    round-7-bonus `inMemoryColumnarStorage.compressed=false` default,
    which made the cache build of the ~all-distinct groups cheap;
    round-8 re-measured ALTERNATING at 32 cores (quiet reps): persisted
    2.55-2.86s vs re-evaluated 3.34-3.52s end-to-end check_all, so the
    violations action and the metrics action now share one key shuffle
    instead of paying it twice. The groups hold one row per distinct
    doc_id, NULL included, so they are also the per-doc verdict universe
    (check_all's `passed` anti-joins the failing keys against them
    instead of shuffling the 'k' rows a second time) — the declared key
    domain of the uniqueness constraint. The persist registers with the
    session cache registry AND is returned so check_all adds it to
    CheckResult._cached (slice loops release per result).
    """
    from fastpasta_spark.functions.cache import tracked_persist

    grouped = tracked_persist(keys.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_count")))
    viol = grouped.filter(F.col("dup_count") > 1).select(
        "doc_id",
        F.lit(None).cast("int").alias("span_idx"),
        F.lit(-1).alias("offset"),
        F.lit(S.E100_DUPLICATE_KEY).alias("check_code"),
        F.lit(S.SEV_ERROR).alias("severity"),
        F.concat(F.lit("duplicate doc_id seen "), F.col("dup_count"),
                 F.lit(" times")).alias("message"),
    )
    # HLL over a 64-bit pre-hash, as a DataSketches sketch (lgK 12,
    # ~1.6% rse): over the 20,100 groups of a 20k-doc corpus it took
    # 0.10-0.13 s per call on a 4-core host, against 0.36-0.55 s for
    # approx_count_distinct(rsd=0.02), and estimated 19,812 (-1.4%,
    # inside APPROX_METRICS' 5%)
    metrics = grouped.agg(
        # count(col), not count(*): the NULL-doc_id group must not count
        # as a distinct id (countDistinct semantics; keeps golden-stats
        # files stable across the groupBy-based rewrite)
        F.count("doc_id").alias("exact"),
        # mask NULL before the pre-hash: xxhash64(NULL) is a real value
        # (the seed), which would count the null-doc_id group as one
        # extra distinct and make hll drift from exact on corrupt corpora
        F.hll_sketch_estimate(F.hll_sketch_agg(
            F.when(F.col("doc_id").isNotNull(), F.xxhash64("doc_id")),
            12)).alias("hll"),
    ).selectExpr(
        "stack(2, 'doc_id_distinct_exact', CAST(exact AS DOUBLE), "
        "'doc_id_distinct_hll', CAST(hll AS DOUBLE)) AS (name, value)"
    )
    return viol, metrics, grouped


def _distinct_docs():
    """Distinct doc_ids in an aggregate, NULL counted as its own key:
    countDistinct skips NULL, so one is added when any NULL row exists
    (max of an empty group is NULL, hence the coalesce)."""
    return F.countDistinct("doc_id") + F.coalesce(
        F.max(F.col("doc_id").isNull().cast("int")), F.lit(0))


def media_ref_rows(docs: DataFrame) -> DataFrame:
    """Columnar (doc_id, span_idx, offset, message=media_ref) rows for
    every non-empty media ref — the referential check's input.

    History: round 5 first moved refs OUT of the fused pass (as 'r'
    rows they were ~90% of the pass output — 102M of 113M rows at 8M
    docs — and dominated the persist) into this columnar re-scan; the
    re-scan then cost ~30% of check_all wall at local[32] (its
    CPU-seconds compete with the pass workers), so check_all now checks
    refs IN the pass against a broadcast media-id set and emits only
    the rare dangling rows (operators/sequence.py E110). This columnar
    form remains the standalone derivation — the dangling_refs driver
    query pins E110 semantics against a DuckDB oracle with it.
    Semantics mirror the pass exactly:
    kind == 'media' (exact match), ref non-null and non-empty,
    span_idx = position in the spans list.

    Column pruning: posexplode over the raw struct column defeats
    Spark's nested-schema pruning (the scan reads spans.text too —
    most of the bytes at 100 TB). Extracting the three subfield arrays
    first (GetArrayStructFields, which DOES prune) and re-zipping keeps
    text out of the parquet scan; pinned by
    tests/test_plans.py::test_media_ref_rows_scan_prunes_text.
    """
    slim = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.arrays_zip(
            F.col("spans.kind").alias("kind"),
            F.col("spans.media_ref").alias("media_ref"),
            F.col("spans.offset").alias("offset"),
        ).alias("spans"),
    )
    s = F.col("s")
    return (
        slim.select("doc_id", F.posexplode("spans").alias("span_idx", "s"))
        .filter((s["kind"] == "media")
                & s["media_ref"].isNotNull()
                & (F.length(s["media_ref"]) > 0))
        .select("doc_id",
                F.col("span_idx").cast("int").alias("span_idx"),
                # NULL offset -> -1: the violation-table convention for
                # "no offset" (the old Arrow-pass 'r' rows fill_null'd
                # to -1, and the E120 drift branch emits lit(-1)); a raw
                # NULL would also shift the (doc_id, offset) sort order
                F.coalesce(s["offset"].cast("int"), F.lit(-1)).alias("offset"),
                s["media_ref"].cast("string").alias("message"))
    )


#: Size guard on the in-pass referential's driver collect: at most this
#: many DISTINCT media ids are pulled to the driver for the broadcast
#: set. 5M ids * ~60 B/string ≈ 300 MB on the driver and per executor —
#: the upper edge of sane broadcast scale. Past it media_id_broadcast
#: returns None and callers degrade to the columnar anti-join
#: (_referential_branch / operators/referential.referential_violations),
#: paying the documented ~30% second-scan cost instead of a driver OOM
#: on a billion-id media dim. Env override: FASTPASTA_MEDIA_BC_MAX.
MEDIA_BROADCAST_MAX = 5_000_000


_GUARD_WARNED = False


def _media_bc_max() -> int:
    import os

    return int(os.environ.get("FASTPASTA_MEDIA_BC_MAX", MEDIA_BROADCAST_MAX))


def media_id_broadcast(media: DataFrame, track: bool = True,
                       max_ids: int | None = None):
    """Collect + broadcast the media dim's id set — the fused pass's
    E110 referential input (operators/sequence.sequence_pass
    valid_media_ids=), SIZE-GUARDED: the driver pull is bounded by a
    LIMIT max_ids+1 on the distinct id domain, so a media dim larger
    than broadcast scale returns None (never materializing more than
    max_ids+1 rows on the driver) and the caller falls back to the
    columnar anti-join. In the good case the probe IS the collect — no
    extra count job. The id normalization here (cast to string, drop
    NULLs, distinct) is the single definition check_all, run_failfast
    and the streaming validator share — the E110 semantics are pinned
    to the columnar form row-for-row, so change it HERE only.

    track=True registers the unpersist with the session cache registry;
    pass track=False when the caller releases it itself (per-epoch
    streaming batches)."""
    if max_ids is None:
        max_ids = _media_bc_max()
    rows = (media.select(F.col("media_id").cast("string"))
            .where(F.col("media_id").isNotNull()).distinct()
            .limit(max_ids + 1).collect())
    if len(rows) > max_ids:
        global _GUARD_WARNED
        if not _GUARD_WARNED:  # once per process, not per epoch/slice
            _GUARD_WARNED = True
            import warnings

            warnings.warn(
                f"media-id domain exceeds {max_ids} distinct ids; E110 "
                "referential degrades to the columnar anti-join (second "
                "scan) instead of the in-pass broadcast — raise "
                "FASTPASTA_MEDIA_BC_MAX to force the broadcast path",
                stacklevel=2)
        return None
    bc = media.sparkSession.sparkContext.broadcast(
        frozenset(r[0] for r in rows))
    if track:
        from fastpasta_spark.functions.cache import track_release

        track_release(bc.unpersist)
    return bc


def _referential_branch(refs: DataFrame, media: DataFrame,
                        broadcast_dim: bool = True) -> DataFrame:
    """Ref rows (media_ref in `message`) -> E110 violations.

    broadcast_dim=False drops the F.broadcast hint (the guarded
    fallback path: the dim already exceeded MEDIA_BROADCAST_MAX ids, so
    forcing a broadcast would just move the OOM executor-side) — AQE
    then picks broadcast vs shuffle hash anti-join from the dim's real
    size at runtime (SURVEY §2.10's "shuffle hash anti-join (large)")."""
    dim = media.select("media_id")
    if broadcast_dim:
        dim = F.broadcast(dim)
    dangling = refs.join(
        dim,
        refs["message"] == F.col("media_id"),
        "left_anti",
    )
    return dangling.select(
        "doc_id",
        "span_idx",
        "offset",
        F.lit(S.E110_DANGLING_REF).alias("check_code"),
        F.lit(S.SEV_ERROR).alias("severity"),
        F.concat(F.lit("media_ref not found in media table: "),
                 F.col("message")).alias("message"),
    )


def check_all(
    docs: DataFrame,
    media: DataFrame | None = None,
    golden_kind_profile: DataFrame | None = None,
    work_dir: str | None = None,
    max_errors: int | None = None,
    trigger_period: int | None = None,
    custom=None,
    media_ids_bc=None,
    referential: str = "auto",
) -> CheckResult:
    """Full validation: one scan of docs, everything downstream is small.

    work_dir: materialize the fused pass output there as parquet
    partitioned by row_type (the scalable path — each branch reads only
    its partition). None -> persist() for small/test runs.

    max_errors: cap the RETURNED violation table (the reference's
    --max-tolerate-errors display cap, controller.rs:229-235 — here a
    LIMIT that AQE short-circuits rather than a cross-task stop flag;
    see run_failfast for true scan-stop). Metrics and per-doc verdicts
    are always computed from the UNCAPPED set.

    trigger_period: enable the E45 internal-trigger period check
    (reference --its-trigger-period, cdp_running.rs:400-427).

    custom: a plans.report.CustomChecksConfig — the reference's custom
    TOML checks (custom_checks_cfg.rs:7-28): count expectations become
    E9001 rows appended to the returned violation table, and
    chips_per_lane / legal_chip_orderings override the header-derived
    chip-layer expectations inside the fused pass.

    referential: 'auto' (default) tries the in-pass broadcast form and
    degrades to the columnar anti-join when the media-id domain exceeds
    MEDIA_BROADCAST_MAX; 'columnar' skips the probe entirely (slice
    loops that already saw the guard trip pass this so each slice does
    not re-probe).
    """
    spark = docs.sparkSession
    # the in-pass E110 referential input: a broadcast of the media dim's
    # id set hands the fused pass a ZERO-extra-scan referential check —
    # the refs re-scan (even nested-pruned) cost ~30% of check_all wall
    # at local[32] because every CPU-second competes with the pass's
    # workers (BENCH/REFS_INPASS.md). media_ids_bc lets slice loops
    # (run_failfast) build it ONCE instead of one collect+broadcast per
    # slice; when built here it is owned here (CheckResult.release).
    # media_id_broadcast is SIZE-GUARDED: past MEDIA_BROADCAST_MAX
    # distinct ids it returns None and E110 runs as the columnar
    # anti-join branch below instead (second scan, never a driver OOM).
    vm_bc, own_bc = media_ids_bc, False
    if vm_bc is None and media is not None and referential != "columnar":
        vm_bc = media_id_broadcast(media)
        own_bc = vm_bc is not None
    ref_fallback = media is not None and vm_bc is None
    out = sequence_pass(
        docs, fused=True, trigger_period=trigger_period,
        chips_per_lane=custom.chips_per_lane if custom else None,
        legal_chip_orderings=custom.legal_chip_orderings if custom else None,
        valid_media_ids=vm_bc)

    from fastpasta_spark.functions.cache import tracked_persist

    if work_dir:
        (out.write.mode("overwrite").partitionBy("row_type").parquet(work_dir))
        out = spark.read.parquet(work_dir)
    else:
        out = tracked_persist(out)

    violations_seq, stats = split_sequence_output(out)
    keys = out.filter(F.col("row_type") == "k").select("doc_id")

    uniq_viol, uniq_metrics, uniq_grouped = _uniqueness_branch(keys)
    # E110 referential rows arrive in violations_seq: the fused pass
    # checks refs against the broadcast media-id set in-scan (no second
    # corpus scan). _referential_branch/media_ref_rows remain the
    # standalone columnar form (dangling_refs driver query) AND the
    # guarded fallback: a media dim past MEDIA_BROADCAST_MAX ids pays
    # the columnar second scan + AQE-picked anti-join instead of a
    # driver-side collect (row parity between the two paths is pinned by
    # tests/test_check_all.py).
    branches = [violations_seq, uniq_viol]
    if ref_fallback:
        branches.append(_referential_branch(
            media_ref_rows(docs), media, broadcast_dim=False))
    if golden_kind_profile is not None:
        kind_counts = (
            stats.filter(F.col("name").startswith("kind_count_"))
            .select(F.expr("substring(name, 12)").alias("category"),
                    F.col("value").cast("long").alias("cnt"))
        )
        chi = drift_ops.chi_square(kind_counts, golden_kind_profile)
        branches.append(
            chi.filter(F.col("chi2") > 30.0).select(
                F.lit(None).cast("string").alias("doc_id"),
                F.lit(None).cast("int").alias("span_idx"),
                F.lit(-1).alias("offset"),
                F.lit(S.E120_DRIFT).alias("check_code"),
                F.lit(S.SEV_WARNING).alias("severity"),
                F.concat(F.lit("kind distribution drift: chi2="),
                         F.round("chi2", 3).cast("string")).alias("message"),
            )
        )

    violations = branches[0]
    for b in branches[1:]:
        violations = violations.unionByName(b)
    # the violation table is orders of magnitude smaller than the corpus
    # but feeds FOUR consumers (count, per-code rollup, verdicts, caller)
    # — persist it so the union (incl. the uniqueness shuffle and the
    # anti-join) runs once, and sort only the returned view
    violations = tracked_persist(violations)
    violations_sorted = violations.orderBy("doc_id", "offset", "check_code")
    if max_errors is not None:
        # the cap limits the RETURNED TABLE only; metrics and verdicts
        # below stay on the uncapped set — otherwise a doc whose
        # violations sort after the cap would be reported PASS and a
        # --passed-out quarantine would keep corrupt documents
        violations_sorted = violations_sorted.limit(max_errors)

    # error rollup (G6 analogue: error_stats.rs:96-121 — total, per-code)
    # two rows per code: total occurrences AND distinct docs affected —
    # the per-key attribution the reference keeps per stave
    # (error_stats.rs:13-55 unique_error_codes + staves_with_errors)
    code_counts = violations.groupBy("check_code").agg(
        F.count(F.lit(1)).alias("n"),
        _distinct_docs().alias("docs_affected"),
    ).select(
        F.expr("stack(2, "
               "concat('error_count_', check_code), CAST(n AS DOUBLE), "
               "concat('error_docs_', check_code), "
               "CAST(docs_affected AS DOUBLE)) AS (name, value)")
    )
    total = violations.agg(
        F.count(F.lit(1)).cast("double").alias("value")
    ).select(F.lit("total_errors").alias("name"), "value")

    # per-key error attribution (error_stats.rs:13-55 "staves with
    # errors" analogue): how many distinct docs carry a real error, and
    # how many distinct codes fired
    attrib = violations.filter(F.col("severity") != S.SEV_WARNING).agg(
        _distinct_docs().cast("double").alias("d"),
        F.countDistinct("check_code").cast("double").alias("c"),
    ).selectExpr(
        "stack(2, 'docs_with_errors', d, 'error_codes_distinct', c)"
        " AS (name, value)"
    )

    # O(codes + stats) rows: one partition, persisted, so every consumer
    # (report, write_stats, golden_diff, custom checks) reads the finished
    # table instead of re-running the five rollups
    metrics = tracked_persist(
        stats.unionByName(uniq_metrics).unionByName(code_counts)
        .unionByName(total).unionByName(attrib).coalesce(1))

    # per-doc verdict: docs with no ERROR/FATAL violation pass. The
    # universe is the persisted uniqueness groups (one row per distinct
    # doc_id, NULL included); the anti-join is null-safe so a NULL doc_id
    # that produced an E10 ERROR is not reported PASS (a plain equality
    # never matches NULL keys). All NULL-keyed docs share one row — NULL
    # keys are indistinguishable.
    failed = violations.filter(
        F.col("severity") != S.SEV_WARNING
    ).select(F.col("doc_id").alias("failed_id")).distinct()
    passed = uniq_grouped.join(
        failed, F.col("doc_id").eqNullSafe(F.col("failed_id")), "left_anti"
    ).select(
        "doc_id", F.lit("PASS").alias("verdict")
    ).unionByName(
        failed.select(F.col("failed_id").alias("doc_id"),
                      F.lit("FAIL").alias("verdict"))
    )

    if custom is not None and custom.expectations():
        # stats-expectation failures (E9001) assert on the FINISHED
        # metrics — appended after the rollup like the reference
        # validating stats at end of run (stats_validation.rs), so they
        # do not feed back into total_errors/error_count_*. The
        # max_errors display cap above applies to scan errors only.
        violations_sorted = violations_sorted.unionByName(
            custom.violations(metrics)
        ).orderBy("doc_id", "offset", "check_code")

    return CheckResult(violations=violations_sorted, metrics=metrics,
                       passed=passed,
                       _cached=(out, violations, uniq_grouped, metrics)
                       if not work_dir
                       else (violations, uniq_grouped, metrics),
                       _extra_release=(vm_bc.unpersist,) if own_bc else ())


def run_failfast(
    docs: DataFrame,
    media: DataFrame | None = None,
    max_errors: int = 100,
    n_slices: int = 16,
    trigger_period: int | None = None,
) -> tuple[DataFrame, int, int]:
    """True early-stop (`--max-tolerate-errors` scan-stop semantics,
    reference controller.rs:229-235): validate deterministic hash-slices
    of the corpus ONE AT A TIME and stop launching scan jobs once the
    cumulative error count reaches `max_errors`.

    `check_all(max_errors=...)` caps the RESULT with a LIMIT but still
    pays the full fused pass over every document; this variant stops the
    expensive part — the per-doc FSM/stats compute, which dominates at
    ~30k docs/sec/core vs GB/s parquet scans — after the first slices on
    corrupt data. Slices are `pmod(xxhash64(doc_id), n_slices)` (pure
    function of the data, cluster-size independent, same unit as
    plans/lineage.py). On an Iceberg table bucket-partitioned by doc_id
    the slice filter also prunes FILES, making the stop an IO stop too;
    on plain parquet it prunes compute, not scan bytes.

    Returns (violations of the processed slices, slices_processed,
    total_errors). A clean corpus processes all slices and pays
    n_slices scans — use this mode when you EXPECT failure (CI gates,
    quarantine checks), not for routine full validation.
    """
    from fastpasta_spark.plans.lineage import BUCKET_COL, with_bucket

    sliced = with_bucket(docs, n_slices)
    # one media-id collect+broadcast for ALL slices (a per-slice
    # check_all would otherwise re-collect the identical set n_slices
    # times, serially, before each slice's pass even starts). If the
    # size guard trips (None), every slice runs the columnar fallback —
    # referential='columnar' stops each slice re-probing the dim.
    vm_bc = media_id_broadcast(media) if media is not None else None
    ref_mode = "columnar" if (media is not None and vm_bc is None) else "auto"
    total = 0
    parts: list[DataFrame] = []
    done = 0
    for s in range(n_slices):
        res = check_all(
            sliced.filter(F.col(BUCKET_COL) == s).drop(BUCKET_COL),
            media, trigger_period=trigger_period, media_ids_bc=vm_bc,
            referential=ref_mode,
        )
        # materialize this slice's (small) violations NOW, then release
        # the slice's internal caches (CheckResult._cached) — otherwise
        # a clean corpus leaks them per slice for the session's lifetime. localCheckpoint severs the
        # lineage, so the checkpointed rows survive the unpersist; the
        # checkpoint itself registers with the session cache registry
        # (it backs the RETURNED union, so it is only freed by an
        # explicit release_tracked() after the caller consumes it).
        from fastpasta_spark.functions.cache import tracked_local_checkpoint

        v = tracked_local_checkpoint(res.violations)
        total += v.count()
        res.release()
        parts.append(v)
        done = s + 1
        if total >= max_errors:
            break
    viol = parts[0]
    for p in parts[1:]:
        viol = viol.unionByName(p)
    viol = viol.orderBy("doc_id", "offset", "check_code")
    return viol, done, total
