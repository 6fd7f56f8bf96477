"""Session defaults that depend on the host."""

import os
from pathlib import Path

import pytest

from ingest_spark.session import default_parallelism, driver_memory

PKG = Path(__file__).resolve().parents[1] / "ingest_spark"

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


@pytest.mark.parametrize("master,cpus,expected", [
    ("local[*]", 4, 8),          # was 32 whatever the host
    ("local[*]", 48, 48),
    ("local", 4, 8),
    ("local[16]", 4, 16),        # an explicit thread count wins
    ("local[2]", 64, 8),
    ("local[12,3]", 4, 12),      # local[N,maxFailures]
    ("spark://head:7077", 6, 8),
    ("spark://head:7077", 24, 24),
])
def test_default_parallelism_fits_the_host(master, cpus, expected):
    assert default_parallelism(master, cpus) == expected


@pytest.mark.skipif("SPARK_GRAFT_LOCAL_DIR" in os.environ, reason="spill dir chosen by the caller")
def test_spill_dir_left_to_spark_by_default(spark):
    assert spark.sparkContext.getConf().get("spark.local.dir") is None


def test_environment_is_read_only_by_the_session():
    """The process environment holds deployment settings, and session.py
    reads them: no other engine module chooses a code path from it."""
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "os.environ" in line or "os.getenv" in line
    ]
    assert offenders == []
