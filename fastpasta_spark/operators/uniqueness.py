"""Uniqueness checks: exact duplicate extraction (check_all's 'k' branch
computes the HLL approx-distinct totals alongside its groups).

north_rule mandate, extending the reference's distinct-set stats
(`/root/reference/fastpasta/src/stats/rdh_stats.rs:78-103` dedups FEE
ids on insert — fine for a 2^16 domain, not for 10^12 doc keys).

Design for scale:
  * totals (in check_all) via ``hll_sketch_agg`` over a 64-bit pre-hash
    (a DataSketches HLL: mergeable partials, no shuffle of the full key
    set), and
  * exact duplicate EXTRACTION via hash-partitioned groupBy — sort-free:
    the map-side partial count + AQE-coalesced shuffle only moves
    (key, count) pairs, never the payload. Skewed hot keys are handled
    by AQE + optional salting upstream (plans/check_all.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Exact duplicate list: (key, dup_count) for every key seen >1 time."""
    return (
        docs.groupBy(key)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def salted_duplicate_keys(docs: DataFrame, key: str = "doc_id",
                          salt_buckets: int = 32) -> DataFrame:
    """Skew-hardened duplicate extraction: two-phase salted aggregation.

    A pathologically hot key (north_rule skew mandate; FIXTURES.md
    dup_keys hot key x1000) concentrates its rows in ONE reducer with a
    plain groupBy. Salting phase 1 groups on (key, salt) so the hot
    key's partial counts spread over salt_buckets reducers; phase 2
    merges the tiny (key, salt, cnt) partials. Same result as
    duplicate_keys — asserted in tests on a hot-key corpus.

    Note: Spark's hash aggregate already does map-side partial
    aggregation, which handles MOST key skew; explicit salting matters
    when per-key state is too big for the map-side hash table (e.g.
    collect_list payloads) or with sort-based fallback. Provided as the
    general pattern.
    """
    salted = docs.select(
        F.col(key),
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
        .alias("_salt"),
    )
    phase1 = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        phase1.groupBy(key)
        .agg(F.sum("cnt").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )

