"""Session defaults that depend on the host."""

import os

import pytest

from ingest_spark.session import driver_memory

MEMINFO_15G = """MemTotal:       15995440 kB
MemFree:        14313108 kB
MemAvailable:   15271016 kB
"""


def test_driver_memory_is_half_of_memtotal():
    assert driver_memory(MEMINFO_15G) == f"{15995440 // 1024 // 2}m"


def test_driver_memory_capped_at_24g():
    assert driver_memory("MemTotal:       263855104 kB\n") == "24576m"


def test_driver_memory_without_memtotal_keeps_the_cap():
    assert driver_memory("MemFree:        1024 kB\n") == "24576m"


@pytest.mark.skipif("SPARK_GRAFT_LOCAL_DIR" in os.environ, reason="spill dir chosen by the caller")
def test_spill_dir_left_to_spark_by_default(spark):
    assert spark.sparkContext.getConf().get("spark.local.dir") is None
