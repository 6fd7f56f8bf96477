"""Snapshot-checkpointed stage execution (resume).

The reference's resumable two-phase story: ``scan`` writes a scan file,
``ingest-from-scan`` loads it and skips pass 1
(/root/reference/src/bin.rs:55-142, SURVEY §3.2). Generalized: every
stage writes its output plus a manifest entry carrying a snapshot id;
re-running the pipeline skips stages whose snapshot is present and
intact and whose inputs' snapshots are unchanged.

On a cluster this maps 1:1 onto Iceberg: stage output = table commit,
snapshot id = Iceberg snapshot id, manifest = a tiny control table.
No Iceberg JVM runtime ships in this sandbox; the contract is
implemented by two SnapshotBackends with identical resume semantics
(skip-complete, invalidate on upstream change), proven for both by
TestSnapshotBackendSeam:

- ``ParquetManifestBackend`` (here, the default): parquet dirs + a
  JSON manifest, for stage checkpoints;
- ``IcebergMetadataBackend`` (``plans/iceberg.py``): the Iceberg v2
  metadata layout written in pure Python (field-id schemas, Avro
  manifests, optimistic version commits, time travel, expiry,
  file-level MERGE), for every table that is merged, time-travelled
  or replaced in place.

A stage runs one Spark action, its commit: the row count and content
digest that go into the snapshot id are observed on the committed
frame as it is written, and nothing is read back to learn them.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

from .metrics import MetricsCollector


class SnapshotBackend:
    """The storage seam of run_stage: exactly the calls a lakehouse
    catalog makes, so the resume semantics (skip-complete, upstream
    invalidation — engine-owned, tested in TestCheckpointResume) hold
    for every store:

    - ``commit``      → table commit (atomic snapshot); writes ``df``
                        itself (run_stage reads an observation off that
                        write) and returns the committed table, read
                        back with the frame's own schema (no footer
                        inference job)
    - ``read``        → catalog table load
    - ``is_complete`` → committed-snapshot existence check

    On Iceberg the snapshot id would come from the commit itself;
    run_stage derives a content-addressed id (same invalidation power,
    documented there)."""

    def commit(self, df: DataFrame, path: str, partition_by=None) -> DataFrame:
        raise NotImplementedError

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        raise NotImplementedError

    def is_complete(self, path: str) -> bool:
        raise NotImplementedError


class ParquetManifestBackend(SnapshotBackend):
    """Stage checkpoints as parquet dirs + ``_SUCCESS`` markers. A
    stage's output is only ever rewritten whole, by a re-run of that
    stage; tables that are merged, time-travelled or replaced in place
    use ``plans/iceberg.py``."""

    def commit(self, df, path, partition_by=None):
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return df.sparkSession.read.schema(df.schema).parquet(path)

    def read(self, spark, path):
        return spark.read.parquet(path)

    def is_complete(self, path):
        return os.path.exists(os.path.join(path, "_SUCCESS"))


DEFAULT_BACKEND = ParquetManifestBackend()


@dataclass
class Manifest:
    root: str
    stages: dict = field(default_factory=dict)

    @property
    def path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    @classmethod
    def load(cls, root: str) -> "Manifest":
        m = cls(root=root)
        try:
            with open(m.path) as f:
                m.stages = json.load(f)["stages"]
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            m.stages = {}
        return m

    def save(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"stages": self.stages}, f, indent=2, sort_keys=True)
        os.replace(tmp, self.path)  # atomic swap (the rename-over-dir
        # analog of the reference's optimize output swap, src/bin.rs:169-177)

    def snapshot_of(self, stage: str) -> str | None:
        s = self.stages.get(stage)
        return s["snapshot_id"] if s else None


def _snapshot_id(
    stage: str, input_snapshots: list[str], rows: int, schema: str, digest: str
) -> str:
    h = hashlib.sha256()
    h.update(stage.encode())
    for s in input_snapshots:
        h.update(s.encode())
    h.update(str(rows).encode())
    h.update(schema.encode())
    h.update(digest.encode())
    return h.hexdigest()[:16]


def _hashable(dt: T.DataType) -> bool:
    """xxhash64 rejects MapType (anywhere in the type tree)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def _digest_cols(out: DataFrame) -> list:
    """Digest expressions covering EVERY column: map columns (which
    xxhash64 rejects) are folded in as key-sorted entry arrays, so a
    tags-only change (maps drive classification) invalidates dependents
    instead of silently keeping the old snapshot id. Maps nested deeper
    than one level (absent from this engine's schemas) stay excluded."""
    cols = []
    for f in out.schema.fields:
        if isinstance(f.dataType, T.MapType) and _hashable(
            f.dataType.keyType
        ) and _hashable(f.dataType.valueType):
            cols.append(F.array_sort(F.map_entries(F.col(f.name))))
        elif _hashable(f.dataType):
            cols.append(F.col(f.name))
    return cols


def _count_and_digest_aggs(df: DataFrame) -> list:
    """Row count + an order-independent content digest (sum of per-row
    xxhash64 over every hashable column), as aggregates for
    ``DataFrame.observe``. Folding the digest into the snapshot id means
    an upstream re-run that happens to keep the same row count and
    schema still invalidates its dependents."""
    cols = _digest_cols(df)
    agg = [F.count(F.lit(1)).alias("_n")]
    if cols:
        # decimal sum: exact and ANSI-safe (a long sum of 2^63-scale
        # hashes overflows under ansi.enabled)
        agg.append(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("_d")
        )
    return agg


def run_stage(
    spark: SparkSession,
    manifest: Manifest,
    stage: str,
    fn: Callable[[], DataFrame],
    inputs: list[str] | None = None,
    source_fingerprint: str | None = None,
    partition_by: list[str] | None = None,
    backend: SnapshotBackend | None = None,
) -> DataFrame:
    """Run (or resume) one pipeline stage.

    - output path: ``{manifest.root}/{stage}``
    - skip when: manifest has the stage, the parquet output exists,
      every input stage's recorded snapshot still matches its current
      snapshot (upstream change ⇒ invalidate downstream), and the
      recorded ``source_fingerprint`` matches — root stages (inputs=[])
      reading external data MUST pass one, otherwise re-running against
      a different source on the same out_root silently returns stale
      output.
    - on run: the commit is the stage's only Spark action. Row count
      and content digest ride it as a ``DataFrame.observe``
      observation; the snapshot + lineage go to the manifest and the
      per-file row counts (parquet footers) to ``{root}/_metrics``.
    """
    inputs = inputs or []
    backend = backend or DEFAULT_BACKEND
    out_path = os.path.join(manifest.root, stage)
    entry = manifest.stages.get(stage)

    input_snaps = [manifest.snapshot_of(i) or "?" for i in inputs]
    if (
        entry is not None
        and backend.is_complete(out_path)
        and entry.get("input_snapshots") == input_snaps
        and entry.get("source_fingerprint") == source_fingerprint
    ):
        return backend.read(spark, out_path)

    t0 = time.time()
    df = fn()
    obs = Observation()
    out = backend.commit(
        df.observe(obs, *_count_and_digest_aggs(df)), out_path, partition_by
    )
    seen = obs.get
    rows, digest = int(seen["_n"]), str(seen.get("_d", "nocols"))
    wall = time.time() - t0

    snap = _snapshot_id(stage, input_snaps, rows, out.schema.simpleString(), digest)
    manifest.stages[stage] = {
        "snapshot_id": snap,
        "path": out_path,
        "rows": rows,
        "schema": out.schema.simpleString(),
        "content_digest": digest,
        "input_snapshots": input_snaps,
        "inputs": inputs,
        "source_fingerprint": source_fingerprint,
        "wall_secs": round(wall, 3),
    }
    manifest.save()
    MetricsCollector(manifest.root).record_stage(stage, out, snap, wall)
    return out
