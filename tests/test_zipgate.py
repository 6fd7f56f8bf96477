"""The stat-gated zipimporter.invalidate_caches (ingest_spark.zipgate)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ingest_spark import zipgate

pytestmark = pytest.mark.skipif(
    not zipgate.installed(), reason="zipimport re-reads lazily on this interpreter"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive holding module ``zg_a`` first on sys.path, and the
    list of archives ``zipimport._read_directory`` is asked to read."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_a": 1})
    monkeypatch.syspath_prepend(archive)
    reads = []
    stock = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("zg_a", "zg_b"):
        sys.modules.pop(name, None)


def test_unchanged_zip_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("zg_a").VALUE == 1
    importlib.invalidate_caches()  # records the archive's stat
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    # the stock method reads the directory on every call
    zipgate._stock_invalidate_caches(sys.path_importer_cache[archive])
    assert reads == [archive]


def test_zip_rewritten_in_place_is_reread(zip_on_path):
    archive, _ = zip_on_path
    assert importlib.import_module("zg_a").VALUE == 1
    importlib.invalidate_caches()
    ino = os.stat(archive).st_ino
    _write_zip(archive, {"zg_a": 1, "zg_b": 2})
    assert os.stat(archive).st_ino == ino
    importlib.invalidate_caches()
    assert importlib.import_module("zg_b").VALUE == 2


def test_replaced_zip_is_reread(zip_on_path, tmp_path):
    archive, _ = zip_on_path
    assert importlib.import_module("zg_a").VALUE == 1
    importlib.invalidate_caches()
    _write_zip(tmp_path / "new.zip", {"zg_a": 1, "zg_b": 3})
    os.replace(tmp_path / "new.zip", archive)
    importlib.invalidate_caches()
    assert importlib.import_module("zg_b").VALUE == 3


def test_removed_zip_takes_the_stock_path(zip_on_path):
    archive, _ = zip_on_path
    assert importlib.import_module("zg_a").VALUE == 1
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}


def test_python_worker_has_the_gate_from_its_second_task(spark):
    """A pandas UDF that references an engine module installs the gate
    in its worker. Each task reports the worker's pid, whether the gate
    is installed, and how many zip directory reads, and of how many
    archives, happened since that worker's previous task (-1 on the
    first task this test sees)."""

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import os
        import zipimport

        reads = getattr(zipimport, "_zipgate_probe_reads", None)
        if reads is None:
            reads = zipimport._zipgate_probe_reads = []
            stock = zipimport._read_directory

            def counting(path):
                reads.append(path)
                return stock(path)

            zipimport._read_directory = counting
            n = archives = -1
        else:
            n, archives = len(reads), len(set(reads))
            reads.clear()
        report = f"{os.getpid()} {int(zipgate.installed())} {n} {archives}"
        return pd.Series([report] * len(s))

    one_task = spark.range(1, numPartitions=1).select(probe("id"))
    seen: dict[str, list[tuple[int, ...]]] = {}
    # idle workers left by earlier tests take the probes in turn, so a
    # pid's third task can come after three probes per idle worker; the
    # cap is far above the workers one host holds
    for _ in range(512):
        pid, *report = one_task.first()[0].split()
        seen.setdefault(pid, []).append(tuple(int(v) for v in report))
        if len(seen[pid]) == 3:
            break
    tasks = max(seen.values(), key=len)
    assert len(tasks) == 3, seen
    assert all(installed for installed, _, _ in tasks[1:]), tasks
    # the first task after the gate went in reads each archive at most
    # once (the stock method reads pyspark.zip 16 times), later ones none
    _, n, archives = tasks[1]
    assert n == archives, tasks
    assert tasks[2][1] == 0, tasks
