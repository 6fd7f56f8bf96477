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
implemented by three interchangeable SnapshotBackends — parquet dirs
+ JSON manifest (here), immutable snapshot dirs + pointer swap
(here), and the real Iceberg v2 metadata layout written in pure
Python (``plans/iceberg.py``: field-id schemas, Avro manifests,
optimistic version commits) — with identical resume semantics
(skip-complete, invalidate on upstream change) proven across all
three by TestSnapshotBackendSeam.

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
    """The storage seam: exactly the calls a real lakehouse catalog
    (Iceberg) would replace, so the resume semantics (skip-complete,
    upstream invalidation, affected-only merge — engine-owned, tested
    in TestCheckpointResume) are shared by the parquet simulation and a
    future catalog adapter:

    - ``commit``          → Iceberg table commit (atomic snapshot);
                            writes ``df`` itself (run_stage reads an
                            observation off that write) and returns
                            the committed table, read back with the
                            frame's own schema (no footer inference
                            job)
    - ``read``            → catalog table load
    - ``is_complete``     → committed-snapshot existence check
    - ``merge_overwrite`` → ``MERGE INTO`` (delete matched keys, insert
                            new rows) as one commit

    On Iceberg the snapshot id would come from the commit itself;
    the simulation derives a content-addressed id in run_stage (same
    invalidation power, documented there)."""

    def commit(self, df: DataFrame, path: str, partition_by=None) -> DataFrame:
        raise NotImplementedError

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        raise NotImplementedError

    def is_complete(self, path: str) -> bool:
        raise NotImplementedError

    def merge_overwrite(
        self,
        spark: SparkSession,
        path: str,
        delete_keys: DataFrame,
        insert_rows: DataFrame,
        key: str = "id",
    ) -> DataFrame:
        raise NotImplementedError


class ParquetManifestBackend(SnapshotBackend):
    """Sandbox implementation: parquet dirs + _SUCCESS markers; MERGE is
    anti-join + union re-written through a staging dir swap (the
    overwrite is atomic at the os.replace granularity of the final
    rename — a real catalog makes the whole commit atomic)."""

    def commit(self, df, path, partition_by=None):
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return df.sparkSession.read.schema(df.schema).parquet(path)

    def _recover(self, path):
        """Heal a crash between merge_overwrite's two renames: if the
        live dir is missing/incomplete but the backup is complete,
        restore it (same recovery the streaming tile swap does)."""
        backup = path + "._merge_old"
        if not os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
            os.path.join(backup, "_SUCCESS")
        ):
            if os.path.exists(path):
                import shutil

                shutil.rmtree(path)
            os.rename(backup, path)

    def read(self, spark, path):
        self._recover(path)
        return spark.read.parquet(path)

    def is_complete(self, path):
        self._recover(path)
        return os.path.exists(os.path.join(path, "_SUCCESS"))

    def merge_overwrite(self, spark, path, delete_keys, insert_rows, key="id"):
        import shutil

        target = self.read(spark, path)
        merged = target.join(delete_keys.select(key), key, "left_anti").unionByName(
            insert_rows.select(*target.columns)
        )
        staging = path + "._merge_staging"
        merged.write.mode("overwrite").parquet(staging)
        backup = path + "._merge_old"
        if os.path.exists(backup):
            shutil.rmtree(backup)
        os.rename(path, backup)  # crash after this line is healed by
        os.rename(staging, path)  # _recover() on the next read
        shutil.rmtree(backup)
        return self.read(spark, path)


class SnapshotDirBackend(SnapshotBackend):
    """Second seam implementation — the Iceberg-shaped one: every
    commit writes an IMMUTABLE snapshot directory
    (``{path}/snap-{n}``) and then atomically swaps a pointer file
    (``{path}/_current``, os.replace) — the same commit protocol as an
    Iceberg metadata-pointer swap. Properties the parquet-rename
    backend can't offer, which is exactly why it proves the seam:

    - no destructive rename: a crash at ANY point leaves the table
      serving the previous snapshot (an orphan data dir at worst);
      there is no recovery path because there is no broken state,
    - old snapshots stay readable (``read_snapshot`` = time travel;
      ``expire_snapshots`` = GC),
    - MERGE reads snap-N while writing snap-N+1 — no
      read-while-overwrite hazard.
    """

    def _pointer(self, path: str) -> str:
        return os.path.join(path, "_current")

    def _current(self, path: str) -> "str | None":
        try:
            with open(self._pointer(path)) as f:
                name = f.read().strip()
        except FileNotFoundError:
            return None
        return os.path.join(path, name) if name else None

    def _next_snap(self, path: str) -> str:
        os.makedirs(path, exist_ok=True)
        existing = [
            int(d.split("-", 1)[1])
            for d in os.listdir(path)
            if d.startswith("snap-") and d.split("-", 1)[1].isdigit()
        ]
        return f"snap-{(max(existing) + 1) if existing else 0}"

    def _swap(self, path: str, snap_name: str) -> None:
        tmp = self._pointer(path) + ".tmp"
        with open(tmp, "w") as f:
            f.write(snap_name)
        os.replace(tmp, self._pointer(path))  # the atomic commit point

    def commit(self, df, path, partition_by=None):
        snap = self._next_snap(path)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(path, snap))
        self._swap(path, snap)
        return df.sparkSession.read.schema(df.schema).parquet(
            os.path.join(path, snap))

    def read(self, spark, path):
        cur = self._current(path)
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot at {path}")
        return spark.read.parquet(cur)

    def read_snapshot(self, spark, path, n: int):
        """Time travel: read snapshot ``n`` regardless of the pointer."""
        return spark.read.parquet(os.path.join(path, f"snap-{n}"))

    def is_complete(self, path):
        cur = self._current(path)
        return cur is not None and os.path.exists(os.path.join(cur, "_SUCCESS"))

    def merge_overwrite(self, spark, path, delete_keys, insert_rows, key="id"):
        target = self.read(spark, path)
        merged = target.join(delete_keys.select(key), key, "left_anti").unionByName(
            insert_rows.select(*target.columns)
        )
        return self.commit(merged, path)  # reads snap-N, writes snap-N+1

    def expire_snapshots(self, path: str, keep: int = 1) -> int:
        """Drop all but the newest ``keep`` snapshots (never the
        current one). Returns the number removed."""
        import shutil

        cur = self._current(path)
        snaps = sorted(
            (d for d in os.listdir(path) if d.startswith("snap-")),
            key=lambda d: int(d.split("-", 1)[1]),
        )
        victims = [
            s for s in snaps[:-keep] if os.path.join(path, s) != cur
        ] if keep > 0 else []
        for s in victims:
            shutil.rmtree(os.path.join(path, s))
        return len(victims)


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
