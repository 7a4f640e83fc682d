"""Per-bucket lineage + resumable runs (north_rule checkpoint mandate).

The reference has no resume — its closest feature is re-validating a
run against a saved stats file (`/root/reference/README.md:183-198`).
The north_rule adds it: every run appends per-unit lineage rows
(unit id, counters, verdict) to a checkpoint table; a restarted run
anti-joins completed units and processes only the rest.

Unit of resume = a deterministic HASH BUCKET of doc_id
(``pmod(xxhash64(doc_id), n_buckets)``), NOT spark_partition_id —
partition ids depend on file layout and scheduling, hash buckets are a
pure function of the data, so a resume is correct on any cluster size.
On an Iceberg table bucket-partitioned by doc_id the bucket filter also
prunes files; on plain parquet it prunes work, not IO. Results are
byte-identical because every check is per-document and the final sort
is global (tested in tests/test_lineage.py).
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_lineage_bucket"


def with_bucket(docs: DataFrame, n_buckets: int) -> DataFrame:
    return docs.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def read_lineage(spark: SparkSession, checkpoint_dir: str) -> DataFrame | None:
    """The checkpoint's lineage table, or None if it doesn't exist yet.

    Single owner of the checkpoint layout (<dir>/lineage) for both the
    resume logic and the CLI inspector. mergeSchema=true: a checkpoint
    started before the check_counts column existed and resumed by newer
    code holds mixed-schema part files — without merging, whichever
    footer Spark samples wins and the column silently vanishes (or old
    rows vanish from an explode). Only a genuinely-missing path maps to
    None; a corrupt/unreadable table raises (silently treating it as
    "nothing done" would recompute the world on a 10^12-doc run)."""
    from pyspark.errors import AnalysisException

    path = os.path.join(checkpoint_dir, "lineage")
    try:
        return spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException as e:
        if ("PATH_NOT_FOUND" in str(e)
                or "UNABLE_TO_INFER_SCHEMA" in str(e)):
            return None
        raise


def completed_buckets(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Buckets already validated in any prior attempt ((bucket) rows)."""
    lin = read_lineage(spark, checkpoint_dir)
    if lin is None:
        # from Arrow: a LocalRelation, read without a Spark job
        return spark.createDataFrame(
            pa.table({"bucket": pa.array([], pa.int32())}), "bucket int")
    return lin.filter(F.col("verdict") == "DONE").select("bucket").distinct()


def remaining_docs(docs: DataFrame, checkpoint_dir: str, n_buckets: int) -> DataFrame:
    """Anti-join completed buckets -> only unprocessed docs remain."""
    done = completed_buckets(docs.sparkSession, checkpoint_dir)
    return (
        with_bucket(docs, n_buckets)
        .join(F.broadcast(done), F.col(BUCKET_COL) == F.col("bucket"), "left_anti")
    )


def record_lineage(
    violations: DataFrame,
    docs_with_bucket: DataFrame,
    checkpoint_dir: str,
    n_buckets: int,
    run_id: str | None = None,
) -> str:
    """Append per-bucket lineage rows after a successful pass.

    One row per bucket: (run_id, bucket, docs_seen, violations,
    check_counts, verdict) — check_counts is a map<check_code, count>
    mirroring the reference's per-error-type stat totals
    (fastpasta/src/stats/stats_collector.rs:161-175) at per-unit
    granularity, the north_rule's "per-partition lineage + metrics".
    Bounded: one entry per distinct check code (~dozens), aggregated
    with a (bucket, check_code) key-only shuffle before the per-bucket
    rollup. NULL-doc_id violations (E10) are counted too: xxhash64 of a
    NULL key is the seed constant, so those docs AND their violations
    land deterministically in the same bucket.

    Append-mode parquet = the checkpoint table; a killed run simply never
    appends its rows, so its buckets re-run on resume (idempotent because
    the caller writes violations with dynamic partition-overwrite per
    bucket BEFORE this marker lands — a re-run replaces, never duplicates).
    """
    run_id = run_id or uuid.uuid4().hex
    path = os.path.join(checkpoint_dir, "lineage")
    per_bucket = (
        docs_with_bucket.groupBy(F.col(BUCKET_COL).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("docs_seen"))
    )
    viol_per_bucket = (
        violations
        .withColumn("bucket",
                    F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))
        .groupBy("bucket",
                 F.coalesce(F.col("check_code"), F.lit("UNKNOWN"))
                 .alias("check_code"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("bucket")
        .agg(
            F.sum("cnt").alias("violations"),
            # sort_array -> deterministic entry order in the stored map
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("check_code", "cnt")))
            ).alias("check_counts"),
        )
    )
    empty_map = F.expr(
        "map_from_entries(CAST(array() AS array<struct<c:string,n:bigint>>))"
    )
    lineage = (
        per_bucket.join(viol_per_bucket, "bucket", "left")
        .fillna(0, ["violations"])
        .select(
            F.lit(run_id).alias("run_id"),
            "bucket",
            "docs_seen",
            "violations",
            F.coalesce(F.col("check_counts"), empty_map).alias("check_counts"),
            F.lit("DONE").alias("verdict"),
        )
    )
    lineage.write.mode("append").parquet(path)
    return run_id


def run_resumable(
    docs: DataFrame,
    media: DataFrame | None,
    checkpoint_dir: str,
    n_buckets: int = 64,
    out_dir: str | None = None,
    trigger_period: int | None = None,
):
    """check_all with lineage: validate only not-yet-done buckets, append
    lineage, write violations per bucket. Returns (violations_df, run_id).

    Violations land under out_dir/violations partitioned by bucket so a
    resumed run only writes the missing buckets; readers see the union.
    """
    from fastpasta_spark.plans.check_all import check_all

    todo = remaining_docs(docs, checkpoint_dir, n_buckets)
    if todo.isEmpty():
        spark = docs.sparkSession
        out_path = os.path.join(out_dir or checkpoint_dir, "violations")
        return spark.read.parquet(out_path), None

    res = check_all(todo.drop(BUCKET_COL), media,
                    trigger_period=trigger_period)
    viol = res.violations.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )
    out_path = os.path.join(out_dir or checkpoint_dir, "violations")
    # dynamic overwrite, NOT append: a crash between this write and
    # record_lineage re-runs these buckets on resume; overwrite-per-bucket
    # makes the re-run idempotent (append would duplicate their rows)
    spark = docs.sparkSession
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        viol.write.mode("overwrite").partitionBy("bucket").parquet(out_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    run_id = record_lineage(res.violations, todo, checkpoint_dir, n_buckets)
    # everything is durably in parquet now and the returned frame reads
    # from there — drop the check_all caches instead of leaking them for
    # the session (a resumable LOOP calls this many times)
    res.release()
    return spark.read.parquet(out_path), run_id
