"""Bucketed tables — shuffle-free co-located joins for repeated keys.

The engine's heaviest repeated operations join or aggregate on doc_id
(uniqueness, referential backfills, signature stores, dedup ledgers).
Hash-bucketing those tables ONCE at write time lets every subsequent
equi-join/groupBy on the key run with NO Exchange: Spark's bucketing
metadata proves both sides share the partitioning, so the join is
per-bucket local (the batch analogue of the reference reusing one
in-memory layout per link, data_flow.md:13-23; here it is how a 100 TB
signature store joins new batches without reshuffling 100 TB).

On Iceberg the same property comes from `bucket(N, doc_id)` partition
transforms (sources/iceberg.py); this module provides the plain
Spark-catalog variant, which works anywhere and is plan-testable
(tests/test_plans.py asserts the Exchange-free join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str = "doc_id",
                   n_buckets: int = 64, path: str | None = None,
                   sort: bool = True) -> None:
    """Persist df as a bucketed (and per-bucket sorted) parquet table.

    sort=True additionally sorts within buckets: with one file per
    bucket, downstream sort-merge joins skip the Sort too. `path` makes
    it an external table (tests point this at a tmp dir)."""
    writer = df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def colocated_join(spark: SparkSession, left_table: str, right_table: str,
                   key: str = "doc_id", how: str = "inner") -> DataFrame:
    """Join two same-bucketed tables on their bucket key — no Exchange
    on either side (assert via .explain / tests/test_plans.py)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)
