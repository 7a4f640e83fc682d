"""The session factory's derived defaults."""

import os

from fastpasta_spark.session import (
    DRIVER_MEM_CAP_GB,
    _host_memory_bytes,
    default_driver_memory,
)

GB = 2**30


def test_default_driver_memory_is_half_the_host_capped():
    assert default_driver_memory(int(15.6 * GB)) == "7g"
    assert default_driver_memory(16 * GB) == "8g"
    assert default_driver_memory(96 * GB) == f"{DRIVER_MEM_CAP_GB}g"
    assert default_driver_memory(512 * GB) == "48g"
    assert default_driver_memory(GB) == "1g"        # floored at 1g
    assert default_driver_memory(None) == "48g"     # host memory unknown


def test_session_driver_memory_follows_env_or_host(spark):
    got = spark.sparkContext.getConf().get("spark.driver.memory")
    assert got == (os.environ.get("SPARK_DRIVER_MEM")
                   or default_driver_memory(_host_memory_bytes()))
