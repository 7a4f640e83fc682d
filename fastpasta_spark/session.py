"""SparkSession factory tuned for the validation workload.

Local mode for tests/bench; the same confs are what we'd submit with
``spark-submit --py-files`` on a real cluster (AQE on, skew-join on,
Arrow on — the reference's hand-built batching/backpressure
(alice_protocol_reader/src/lib.rs:134-236) maps onto these).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship fastpasta_spark to executor Python workers (the local-mode
    equivalent of `spark-submit --py-files fastpasta_spark.zip`).

    Without this, mapInPandas workers fail with ModuleNotFoundError
    whenever the driver script runs from outside the repo root.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(),
                            f"fastpasta_spark_pyfiles_{os.getpid()}")
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(zip_base, "zip",
                            root_dir=os.path.dirname(pkg_dir),
                            base_dir=os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)


#: ceiling on the default driver heap (the old fixed default)
DRIVER_MEM_CAP_GB = 48


def default_driver_memory(host_bytes: int | None) -> str:
    """Default ``spark.driver.memory``: half the host's physical memory,
    capped at DRIVER_MEM_CAP_GB and floored at 1g. A fixed 48g asked a
    15 GB host for three times its memory; a local-mode driver is the
    whole engine, so the other half is left for Python workers and page
    cache. Unknown host memory keeps the cap."""
    if not host_bytes:
        return f"{DRIVER_MEM_CAP_GB}g"
    return f"{max(1, min(DRIVER_MEM_CAP_GB, host_bytes // 2 // 2**30))}g"


def _host_memory_bytes() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return None


def get_spark(
    app_name: str = "fastpasta_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None -> local[*]. shuffle_partitions defaults to the core
    count (the default 200 over-parallelizes local/small data; on a
    real cluster you'd size it to ~2-3x total cores). The driver heap is
    SPARK_DRIVER_MEM, else default_driver_memory() of this host.
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env_cores) if env_cores else os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(4, cores)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # operator-internal persists (fused-pass output, signature
        # tables, inverted indexes) are CPU-bound to build, not
        # memory-bound to hold: columnar cache compression cost 25% of
        # check_all wall at 500k docs (round-8 A/B, OPTIMIZATION_r08.md)
        # for memory we do not need — MEMORY_AND_DISK already spills.
        # Memory-tight deployments (huge occurrence caches without
        # work_dir) re-enable via FASTPASTA_CACHE_COMPRESS=true.
        .config("spark.sql.inMemoryColumnarStorage.compressed",
                os.environ.get("FASTPASTA_CACHE_COMPRESS", "false"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM")
                or default_driver_memory(_host_memory_bytes()))
        # a check_all flow generates ~70 classes; with the default
        # 100-entry cache every warm flow recompiled most of them. A
        # static conf: it only takes effect when the session is created
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
