"""Shared run context: the Spark session, the work directory, timing,
forcing lazy outputs, and patching a program function for tracing."""

from __future__ import annotations

import math
import os
import shutil
import signal
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import host, sparkstats
from .checks import Ledger
from .trace import Tracer

DRIVER_MEMORY = "1g"  # a small heap: the JVM's peak RSS varied less than at 3g


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    seconds: float
    traced: bool
    session_s: float
    tracer: Tracer
    ledger: Ledger
    anchors: host.Anchors
    rss: host.PeakRss
    notes: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, name: str, fn):
        """Wall seconds of ``fn()`` (steal recorded around it), and its value."""
        t0 = time.perf_counter()
        out = self.anchors.around(name, fn)
        return time.perf_counter() - t0, out


def start_session(work: str, traced: bool) -> tuple[SparkSession, float]:
    """``local[nproc]`` with every scratch path inside ``work``."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata under /tmp; JVM temp files stay in the work dir
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
    }
    if traced:
        conf.update(sparkstats.UI_CONF)
    from ingest_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{host.nproc()}]", app_name="perfbench",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid(spark: SparkSession) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark: SparkSession) -> None:
    """Stop Spark, then the JVM, and wait for every process under it."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    pids = host.descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    for p in pids:
        while os.path.exists(f"/proc/{p}") and _alive(p):
            if time.time() > deadline:
                os.kill(p, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ", 1)[1][0] != "Z"
    except (FileNotFoundError, IndexError):
        return False


def force(df: DataFrame, count: bool = False) -> int | None:
    """Run ``df`` to completion without output (noop sink); with
    ``count``, return its rows from an observation on the same action."""
    obs = None
    if count:
        obs = Observation("perfbench_rows")
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    return int(obs.get["n"]) if obs is not None else None


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile: with 100 samples, p90 is the 90th value
    and 10 samples lie beyond it."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


@contextmanager
def patched(owner, attr: str, make):
    """Replace ``owner.attr`` with ``make(original)`` for the block."""
    orig = getattr(owner, attr)
    setattr(owner, attr, make(orig))
    try:
        yield
    finally:
        setattr(owner, attr, orig)


def spanned(tracer: Tracer, name: str, attrs=None):
    """Wrapper factory for ``patched``: a span around every call."""
    def make(orig):
        def wrapper(*a, **kw):
            extra = attrs(*a, **kw) if attrs else {}
            with tracer.span(name, **extra):
                return orig(*a, **kw)
        return wrapper
    return make


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
