"""Iceberg-spec table metadata backend — a real commit path, no jars.

`IcebergMetadataBackend` is the `SnapshotBackend` for every table that
is merged, time-travelled or replaced in place (stage checkpoints use
the parquet backend in checkpoint.py), and the engine's only MERGE. It
writes the PUBLIC Apache Iceberg table spec (v2) metadata layout
byte-for-byte in pure Python:

- ``metadata/v{N}.metadata.json`` — format-version 2 table metadata:
  table-uuid, schemas (Spark schema → Iceberg JSON schema with field
  ids), partition-specs (identity transforms), snapshots with
  operation summaries, snapshot-log, metadata-log, refs (main branch).
- ``metadata/snap-{snapshot-id}-1-{commit-uuid}.avro`` — the manifest
  LIST: real Avro OCF records with the spec's field ids
  (manifest_path/500, manifest_length/501, …, added_rows_count/512).
- ``metadata/{commit-uuid}-m0.avro`` — the manifest FILE: one
  manifest_entry record per data file (status, snapshot_id,
  sequence_number, data_file struct with content/file_path/
  file_format/partition/record_count/file_size_in_bytes).
- ``metadata/version-hint.text`` — the HadoopCatalog current-version
  hint.
- ``data/…parquet`` — immutable data files (moved from a Spark
  staging write; never rewritten in place).

The COMMIT PROTOCOL is the published HadoopTableOperations one:
metadata is written to a temp file and published with an atomic
fail-if-exists link to ``v{N}.metadata.json`` — two racing writers
can both stage, but only one wins version N; the loser re-reads and
retries against N+1 (optimistic concurrency, exercised in
test_iceberg.py). Reads resolve current metadata → snapshot →
manifest list → manifests → live data files, so snapshot isolation
and time travel (``read_snapshot``) come from the metadata chain
itself, exactly as on a real cluster catalog.

Manifests carry the spec's per-column stats maps (``value_counts``,
``null_value_counts``, ``lower_bounds``/``upper_bounds`` with the
Appendix-D single-value binary serialization, keyed by field id) —
collected from the parquet footers at staging time. They drive two
scale-critical paths: `plan_scan`/`read_where` prune files whose
bounds prove a predicate empty (the reference ScanTable's per-blob
min/max intervals, src/par_scan.rs:60-85 / src/denorm.rs:122-150, at
catalog granularity), and `merge_overwrite` is FILE-LEVEL
copy-on-write — only files whose key bounds intersect the changeset
are rewritten; everything else carries over as EXISTING entries with
byte-identical paths. At 100 TB that turns an incremental MERGE from
a full-table rewrite into touching a handful of files.

The remaining deliberate deviation from a jar-backed deployment,
documented rather than hidden: manifests use the null Avro codec
(spec-legal; real writers usually deflate), and bounds are omitted
for timestamp/decimal/nested columns (spec-optional; pruning then
falls back to "cannot skip"). Reference analog: the scan-resume
story this feeds is src/bin.rs:55-142 (SURVEY §3.2).
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import os
import shutil
import struct as _struct
import time
import uuid as _uuid
from urllib.parse import unquote as _unquote

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ingest_spark.functions import avro
from ingest_spark.plans.checkpoint import SnapshotBackend

FORMAT_VERSION = 2
MAIN_BRANCH = "main"


def _remove_data_file(fp: str) -> None:
    """Delete a Spark-written data file and the ``.{name}.crc``
    checksum sidecar Hadoop's local filesystem writes next to it."""
    d, name = os.path.split(fp)
    for p in (fp, os.path.join(d, f".{name}.crc")):
        if os.path.exists(p):
            os.remove(p)


# ---------------------------------------------- schema conversion

_PRIMITIVES = {
    T.LongType: "long", T.IntegerType: "int", T.ShortType: "int",
    T.ByteType: "int", T.StringType: "string", T.DoubleType: "double",
    T.FloatType: "float", T.BooleanType: "boolean", T.BinaryType: "binary",
    T.DateType: "date", T.TimestampType: "timestamptz",
}


def _iceberg_type(dt: T.DataType, next_id: list) -> object:
    for cls, name in _PRIMITIVES.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list", "element-id": eid,
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = next_id[0], next_id[0] + 1
        next_id[0] += 2
        return {
            "type": "map", "key-id": kid,
            "key": _iceberg_type(dt.keyType, next_id),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id[0]
            next_id[0] += 1
            fields.append({
                "id": fid, "name": f.name, "required": not f.nullable,
                "type": _iceberg_type(f.dataType, next_id),
            })
        return {"type": "struct", "fields": fields}
    raise NotImplementedError(f"no Iceberg mapping for {dt}")


def spark_schema_to_iceberg(schema: T.StructType) -> dict:
    """Spark StructType → Iceberg JSON schema with assigned field ids."""
    next_id = [1]
    fields = []
    for f in schema.fields:
        fid = next_id[0]
        next_id[0] += 1
        fields.append({
            "id": fid, "name": f.name, "required": not f.nullable,
            "type": _iceberg_type(f.dataType, next_id),
        })
    return {
        "type": "struct", "schema-id": 0, "fields": fields,
        "last-column-id": next_id[0] - 1,
    }


# ------------------------------------------------- manifest schemas

def _field(name, ftype, fid, optional=False):
    f = {"name": name, "type": ["null", ftype] if optional else ftype,
         "field-id": fid}
    if optional:
        f["default"] = None
    return f


MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        _field("manifest_path", "string", 500),
        _field("manifest_length", "long", 501),
        _field("partition_spec_id", "int", 502),
        _field("content", "int", 517),
        _field("sequence_number", "long", 515),
        _field("min_sequence_number", "long", 516),
        _field("added_snapshot_id", "long", 503),
        _field("added_files_count", "int", 504),
        _field("existing_files_count", "int", 505),
        _field("deleted_files_count", "int", 506),
        _field("added_rows_count", "long", 512),
        _field("existing_rows_count", "long", 513),
        _field("deleted_rows_count", "long", 514),
    ],
}

# manifest_entry.status values (spec)
STATUS_EXISTING, STATUS_ADDED, STATUS_DELETED = 0, 1, 2
# data_file.content values (spec)
CONTENT_DATA = 0


def _kv_map(name: str, fid: int, key_id: int, value_id: int,
            value_type: str) -> dict:
    """The spec's map<int, …> stats fields as Avro key/value record
    arrays (the array-with-logicalType-map encoding real manifests
    use — Avro maps only take string keys)."""
    return {
        "name": name, "field-id": fid, "default": None,
        "type": ["null", {
            "type": "array", "logicalType": "map",
            "items": {
                "type": "record", "name": f"k{key_id}_v{value_id}",
                "fields": [
                    {"name": "key", "type": "int", "field-id": key_id},
                    {"name": "value", "type": value_type,
                     "field-id": value_id},
                ],
            },
        }],
    }


def _manifest_entry_schema(partition_fields: list) -> dict:
    part_schema = {
        "type": "record", "name": "r102",
        "fields": partition_fields or [],
    }
    data_file = {
        "type": "record", "name": "r2", "fields": [
            _field("content", "int", 134),
            _field("file_path", "string", 100),
            _field("file_format", "string", 101),
            {"name": "partition", "type": part_schema, "field-id": 102},
            _field("record_count", "long", 103),
            _field("file_size_in_bytes", "long", 104),
            # per-column stats (spec field ids) — what file-level
            # pruning and file-level MERGE granularity run on
            _kv_map("value_counts", 109, 119, 120, "long"),
            _kv_map("null_value_counts", 110, 121, 122, "long"),
            _kv_map("lower_bounds", 125, 126, 127, "bytes"),
            _kv_map("upper_bounds", 128, 129, 130, "bytes"),
        ],
    }
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            _field("status", "int", 0),
            _field("snapshot_id", "long", 1, optional=True),
            _field("sequence_number", "long", 3, optional=True),
            _field("file_sequence_number", "long", 4, optional=True),
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_PART_AVRO = {"long": "long", "int": "int", "string": "string",
              "double": "double", "boolean": "boolean"}


class CommitConflict(Exception):
    """Another writer published this metadata version first."""


class ConcurrentRewrite(Exception):
    """A replace/merge was computed against a live file set another
    commit changed before publication; the staged rewrite is stale."""


# Iceberg single-value binary serialization (spec Appendix D) for the
# lower_bounds/upper_bounds maps. Types we don't serialize bounds for
# (timestamps, decimals, nested) simply omit the entry — spec-legal,
# pruning falls back to "cannot skip".
_EPOCH_ORDINAL = _dt.date(1970, 1, 1).toordinal()

_BOUND_PACK = {"int": "<i", "date": "<i", "long": "<q",
               "float": "<f", "double": "<d"}


def bound_to_bytes(value, iceberg_type: str) -> "bytes | None":
    fmt = _BOUND_PACK.get(iceberg_type)
    if fmt:
        if iceberg_type == "date" and isinstance(value, _dt.date):
            # pyarrow parquet stats yield datetime.date; the Iceberg
            # single-value layout packs dates as int32 days since
            # 1970-01-01 (round-8 ADVICE: struct.pack raised on any
            # DateType column commit)
            value = value.toordinal() - _EPOCH_ORDINAL
        return _struct.pack(fmt, value)
    if iceberg_type == "boolean":
        return b"\x01" if value else b"\x00"
    if iceberg_type == "string":
        return str(value).encode("utf-8")
    if iceberg_type == "binary":
        return bytes(value)
    return None


def bound_from_bytes(raw: bytes, iceberg_type: str):
    fmt = _BOUND_PACK.get(iceberg_type)
    if fmt:
        v = _struct.unpack(fmt, raw)[0]
        if iceberg_type == "date":
            # mirror bound_to_bytes: int32 days → datetime.date so
            # plan_scan comparisons against date filter literals work
            return _dt.date.fromordinal(v + _EPOCH_ORDINAL)
        return v
    if iceberg_type == "boolean":
        return raw != b"\x00"
    if iceberg_type == "string":
        return raw.decode("utf-8")
    if iceberg_type == "binary":
        return bytes(raw)
    return None


class IcebergMetadataBackend(SnapshotBackend):
    """SnapshotBackend writing the Iceberg v2 metadata layout (module
    docstring has the full contract)."""

    def __init__(self, max_retries: int = 3):
        self.max_retries = max_retries

    # ------------------------------------------------ path helpers

    def _meta_dir(self, path: str) -> str:
        return os.path.join(path, "metadata")

    def _versions(self, path: str) -> list:
        pat = os.path.join(self._meta_dir(path), "v*.metadata.json")
        out = []
        for p in glob.glob(pat):
            stem = os.path.basename(p).split(".", 1)[0][1:]
            if stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def current_metadata(self, path: str) -> "dict | None":
        vs = self._versions(path)
        if not vs:
            return None
        with open(os.path.join(
                self._meta_dir(path), f"v{vs[-1]}.metadata.json")) as f:
            md = json.load(f)
        md["_version"] = vs[-1]
        return md

    # ------------------------------------------------ commit protocol

    def _publish(self, path: str, md: dict) -> int:
        """Write metadata as the version after the one ``md`` was read
        at (``_version``; 1 for a new table) with an atomic
        fail-if-exists link (the HadoopTableOperations protocol).
        Raises CommitConflict if a racer published that version first,
        so a stale base is re-read rather than published over."""
        meta = self._meta_dir(path)
        os.makedirs(meta, exist_ok=True)
        version = md.get("_version", 0) + 1
        md = {k: v for k, v in md.items() if not k.startswith("_")}
        tmp = os.path.join(meta, f".tmp-{_uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(md, f, indent=1)
        final = os.path.join(meta, f"v{version}.metadata.json")
        try:
            os.link(tmp, final)  # atomic, fails if the version exists
        except FileExistsError:
            os.unlink(tmp)
            raise CommitConflict(f"version {version} already published")
        os.unlink(tmp)
        hint_tmp = os.path.join(meta, ".version-hint.tmp")
        with open(hint_tmp, "w") as f:
            f.write(str(version))
        os.replace(hint_tmp, os.path.join(meta, "version-hint.text"))
        return version

    def _new_table_metadata(self, path: str, schema_json: dict,
                            spark_schema: T.StructType,
                            partition_by) -> dict:
        spec_fields = []
        if partition_by:
            # identity transforms on the named source columns
            by_name = {f["name"]: f["id"] for f in schema_json["fields"]}
            for i, col in enumerate(partition_by):
                spec_fields.append({
                    "name": col, "transform": "identity",
                    "source-id": by_name[col], "field-id": 1000 + i,
                })
        return {
            "format-version": FORMAT_VERSION,
            "table-uuid": str(_uuid.uuid4()),
            "location": os.path.abspath(path),
            "last-sequence-number": 0,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": schema_json["last-column-id"],
            "current-schema-id": 0,
            "schemas": [schema_json],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {
                "spark.schema": spark_schema.json(),
                "write.format.default": "parquet",
            },
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
            "refs": {},
        }

    # ------------------------------------------------ data staging

    @staticmethod
    def _column_stats(pq_meta) -> dict:
        """Per-top-level-column stats from a parquet footer:
        {name: {value_count, null_count, min, max}}. ``null_count``
        is None when any chunk omitted it; min/max are None when any
        chunk lacks usable bounds (the manifest then simply omits the
        entry and pruning can't skip on that column — spec-legal)."""
        stats: "dict[str, dict]" = {}
        for rg in range(pq_meta.num_row_groups):
            g = pq_meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested — stats cover top level only
                    continue
                s = stats.setdefault(name, {
                    "value_count": 0, "null_count": 0,
                    "min": None, "max": None, "_bounds_ok": True,
                })
                s["value_count"] += g.num_rows
                cs = col.statistics
                if cs is None or not cs.has_null_count:
                    s["null_count"] = None
                elif s["null_count"] is not None:
                    s["null_count"] += cs.null_count
                if cs is None or not cs.has_min_max:
                    # all-null chunks have no bounds but don't poison
                    # the file bounds (no non-null value to cover)
                    if not (cs is not None and cs.has_null_count
                            and cs.null_count == g.num_rows):
                        s["_bounds_ok"] = False
                    continue
                if s["min"] is None or cs.min < s["min"]:
                    s["min"] = cs.min
                if s["max"] is None or cs.max > s["max"]:
                    s["max"] = cs.max
        for s in stats.values():
            if not s.pop("_bounds_ok"):
                s["min"] = s["max"] = None
        return stats

    def _stage_data_files(self, df: DataFrame, path: str,
                          partition_by) -> "list[dict]":
        """Write df via Spark into an immutable staging dir under
        data/, then describe every parquet file (path, rows, bytes,
        partition tuple, per-column footer stats — the min/max that
        become manifest bounds)."""
        import pyarrow.parquet as pq

        token = _uuid.uuid4().hex[:12]
        data_dir = os.path.join(path, "data", token)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        files = []
        for p in sorted(
            glob.glob(os.path.join(data_dir, "**", "*.parquet"),
                      recursive=True)
        ):
            part = {}
            rel = os.path.relpath(p, data_dir)
            for seg in rel.split(os.sep)[:-1]:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    # Spark writes Hive-escaped dir names (':' →
                    # '%3A' …) and a sentinel for nulls; store the
                    # TRUE value or None, or every bounds comparison
                    # against the real value silently mis-prunes
                    part[k] = (None if v == "__HIVE_DEFAULT_PARTITION__"
                               else _unquote(v))
            meta = pq.ParquetFile(p).metadata
            if meta.num_rows == 0:
                # empty task output — real Iceberg writers never
                # commit 0-row data files (and they carry no bounds,
                # which would defeat pruning)
                _remove_data_file(p)
                continue
            files.append({
                "file_path": os.path.abspath(p),
                "record_count": meta.num_rows,
                "file_size_in_bytes": os.path.getsize(p),
                "partition": part,
                "stats": self._column_stats(meta),
            })
        return files

    @staticmethod
    def _top_level_fields(md: dict) -> "dict[str, tuple[int, str]]":
        """{column name: (iceberg field id, primitive type)} for the
        current schema's top-level primitive columns — the columns
        stats maps are keyed on."""
        cur = md["schemas"][md["current-schema-id"]]
        return {f["name"]: (f["id"], f["type"]) for f in cur["fields"]
                if isinstance(f["type"], str)}

    @staticmethod
    def _stats_maps(stats: "dict | None",
                    fields: "dict[str, tuple[int, str]]") -> dict:
        """Footer stats → the four spec stats maps (key/value record
        lists keyed by field id); absent stats yield None fields."""
        if not stats:
            return {"value_counts": None, "null_value_counts": None,
                    "lower_bounds": None, "upper_bounds": None}
        vc, nc, lb, ub = [], [], [], []
        for name in sorted(stats):
            if name not in fields:
                continue
            fid, typ = fields[name]
            st = stats[name]
            vc.append({"key": fid, "value": st["value_count"]})
            if st["null_count"] is not None:
                nc.append({"key": fid, "value": st["null_count"]})
            lo = (bound_to_bytes(st["min"], typ)
                  if st["min"] is not None else None)
            hi = (bound_to_bytes(st["max"], typ)
                  if st["max"] is not None else None)
            if lo is not None and hi is not None:
                lb.append({"key": fid, "value": lo})
                ub.append({"key": fid, "value": hi})
        return {"value_counts": vc or None,
                "null_value_counts": nc or None,
                "lower_bounds": lb or None, "upper_bounds": ub or None}

    def _partition_avro_fields(self, md: dict) -> list:
        spec = md["partition-specs"][md["default-spec-id"]]["fields"]
        if not spec:
            return []
        schema = {f["id"]: f for f in md["schemas"][0]["fields"]}
        out = []
        for pf in spec:
            src = schema[pf["source-id"]]
            avro_t = _PART_AVRO.get(src["type"], "string")
            out.append(_field(pf["name"], avro_t, pf["field-id"],
                              optional=True))
        return out

    def _write_snapshot(self, path: str, md: dict, files: "list[dict]",
                        operation: str, carry_entries: "list | None" = None,
                        extra_summary: "dict | None" = None,
                        deleted_entries: "list | None" = None) -> dict:
        """Append a snapshot (manifest file + manifest list + metadata
        entry). ``files`` become ADDED entries under the new snapshot;
        ``carry_entries`` (prior manifest_entry records, e.g. the
        previous snapshot's live set for an append) are re-emitted as
        EXISTING with their original snapshot/sequence numbers, and
        ``deleted_entries`` (files an overwrite/replace removes) as
        DELETED — scans skip them, but incremental consumers
        (``changes_between``) see exactly what each commit removed,
        per the spec's manifest-inheritance rules."""
        meta = self._meta_dir(path)
        os.makedirs(meta, exist_ok=True)
        commit_uuid = _uuid.uuid4().hex
        seq = md["last-sequence-number"] + 1
        snapshot_id = int.from_bytes(os.urandom(7), "big")

        part_fields = self._partition_avro_fields(md)
        entry_schema = _manifest_entry_schema(part_fields)
        spec_cols = [f["name"] for f in part_fields]
        top_fields = self._top_level_fields(md)
        entries = []
        for prev in carry_entries or []:
            entries.append({**prev, "status": STATUS_EXISTING})
        for prev in deleted_entries or []:
            entries.append({**prev, "status": STATUS_DELETED,
                            "snapshot_id": snapshot_id})
        for fdesc in files:
            part_rec = {}
            for c in spec_cols:
                v = fdesc["partition"].get(c)
                if v is not None:
                    ftype = [f for f in part_fields if f["name"] == c][0]
                    t = ftype["type"][1]
                    v = (int(v) if t in ("int", "long")
                         else float(v) if t == "double"
                         else v == "true" if t == "boolean" else v)
                part_rec[c] = v
            entries.append({
                "status": STATUS_ADDED,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": CONTENT_DATA,
                    "file_path": fdesc["file_path"],
                    "file_format": "PARQUET",
                    "partition": part_rec,
                    "record_count": fdesc["record_count"],
                    "file_size_in_bytes": fdesc["file_size_in_bytes"],
                    **self._stats_maps(fdesc.get("stats"), top_fields),
                },
            })
        manifest_path = os.path.join(meta, f"{commit_uuid}-m0.avro")
        avro.write_ocf(manifest_path, entry_schema, entries)

        n_rows = sum(f["record_count"] for f in files)
        carried = carry_entries or []
        carried_rows = sum(
            e["data_file"]["record_count"] for e in carried)
        dead = deleted_entries or []
        dead_rows = sum(e["data_file"]["record_count"] for e in dead)
        min_seq = min(
            [seq] + [e["sequence_number"] or seq for e in carried])
        mlist_path = os.path.join(
            meta, f"snap-{snapshot_id}-1-{commit_uuid}.avro")
        avro.write_ocf(mlist_path, MANIFEST_LIST_SCHEMA, [{
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": md["default-spec-id"],
            "content": 0,  # data manifest
            "sequence_number": seq,
            "min_sequence_number": min_seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(files),
            "existing_files_count": len(carried),
            "deleted_files_count": len(dead),
            "added_rows_count": n_rows,
            "existing_rows_count": carried_rows,
            "deleted_rows_count": dead_rows,
        }])

        now_ms = int(time.time() * 1000)
        parent = md["current-snapshot-id"]
        snap = {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist_path,
            "schema-id": md["current-schema-id"],
            "summary": {
                "operation": operation,
                "added-data-files": str(len(files)),
                "added-records": str(n_rows),
                "deleted-data-files": str(len(dead)),
                **(extra_summary or {}),
            },
        }
        if parent != -1:
            snap["parent-snapshot-id"] = parent
        md = dict(md)
        md["snapshots"] = md["snapshots"] + [snap]
        md["snapshot-log"] = md["snapshot-log"] + [
            {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
        ]
        md["current-snapshot-id"] = snapshot_id
        md["last-sequence-number"] = seq
        md["last-updated-ms"] = now_ms
        md["refs"] = {MAIN_BRANCH: {"snapshot-id": snapshot_id,
                                    "type": "branch"}}
        if "_version" in md:
            md["metadata-log"] = md["metadata-log"] + [{
                "timestamp-ms": now_ms,
                "metadata-file": os.path.join(
                    self._meta_dir(path),
                    f"v{md['_version']}.metadata.json"),
            }]
        return md

    # ------------------------------------------------ SnapshotBackend

    def commit(self, df: DataFrame, path: str, partition_by=None) -> DataFrame:
        """Replace the table contents with ``df`` as one snapshot
        (operation=overwrite after the first append) and return the
        table read back. Data files are written once; publication
        retries on version conflicts."""
        files = self._stage_data_files(df, path, partition_by)
        for _attempt in range(self.max_retries):
            md = self.current_metadata(path)
            if md is None:
                schema_json = spark_schema_to_iceberg(df.schema)
                md = self._new_table_metadata(
                    path, schema_json, df.schema, partition_by)
                op = "append"
            else:
                md = self._maybe_evolve(md, df.schema)
                op = "overwrite" if md["current-snapshot-id"] != -1 else "append"
            dead = (self._live_entries(md)
                    if op == "overwrite" else None)
            md = self._write_snapshot(path, md, files, op,
                                      deleted_entries=dead)
            try:
                self._publish(path, md)
                return self.read(df.sparkSession, path)
            except CommitConflict:
                continue
        raise CommitConflict(
            f"gave up after {self.max_retries} conflicting commits at {path}")

    def _maybe_evolve(self, md: dict, df_schema: T.StructType) -> dict:
        """Additive schema evolution (the Iceberg-safe subset): new
        nullable columns append a new schema entry with FRESH field
        ids while existing columns keep theirs; type changes or drops
        raise. Returns (possibly updated) metadata."""
        stored = T.StructType.fromJson(
            json.loads(md["properties"]["spark.schema"]))
        stored_by_name = {f.name: f for f in stored.fields}
        new_fields = []
        for f in df_schema.fields:
            if f.name in stored_by_name:
                if f.dataType != stored_by_name[f.name].dataType:
                    raise NotImplementedError(
                        f"type change on {f.name!r} "
                        "(only additive evolution is supported)")
            else:
                new_fields.append(f)
        missing = set(stored_by_name) - {f.name for f in df_schema.fields}
        if missing:
            raise NotImplementedError(
                f"dropping columns {sorted(missing)} is not supported "
                "(only additive evolution)")
        if not new_fields:
            return md
        cur = md["schemas"][md["current-schema-id"]]
        next_id = [md["last-column-id"] + 1]
        added = []
        for f in new_fields:
            fid = next_id[0]
            next_id[0] += 1
            added.append({
                "id": fid, "name": f.name, "required": False,
                "type": _iceberg_type(f.dataType, next_id),
            })
        new_schema = {
            "type": "struct", "schema-id": len(md["schemas"]),
            "fields": cur["fields"] + added,
            "last-column-id": next_id[0] - 1,
        }
        evolved_spark = T.StructType(
            stored.fields + [T.StructField(f.name, f.dataType, True)
                             for f in new_fields])
        md = dict(md)
        md["schemas"] = md["schemas"] + [new_schema]
        md["current-schema-id"] = new_schema["schema-id"]
        md["last-column-id"] = new_schema["last-column-id"]
        md["properties"] = {**md["properties"],
                            "spark.schema": evolved_spark.json()}
        return md

    def append(self, df: DataFrame, path: str, partition_by=None,
               summary: "dict | None" = None) -> int:
        """Append ``df`` as one snapshot: previous live files carry
        over as EXISTING manifest entries (original snapshot/sequence
        numbers preserved), new files are ADDED. Returns the committed
        snapshot id. ``summary`` entries land in the snapshot summary
        (e.g. a streaming batch id for exactly-once sinks)."""
        files = self._stage_data_files(df, path, partition_by)
        for _attempt in range(self.max_retries):
            md = self.current_metadata(path)
            if md is None:
                schema_json = spark_schema_to_iceberg(df.schema)
                md = self._new_table_metadata(
                    path, schema_json, df.schema, partition_by)
                carry = []
            else:
                md = self._maybe_evolve(md, df.schema)
                carry = (self._live_entries(md)
                         if md["current-snapshot-id"] != -1 else [])
            md = self._write_snapshot(
                path, md, files, "append", carry_entries=carry,
                extra_summary=summary)
            try:
                self._publish(path, md)
                return md["current-snapshot-id"]
            except CommitConflict:
                continue
        raise CommitConflict(
            f"gave up after {self.max_retries} conflicting appends at {path}")

    def snapshot_summaries(self, path: str) -> "list[dict]":
        """All snapshot summaries on the table, oldest first (the
        exactly-once dedup surface for streaming sinks)."""
        md = self.current_metadata(path)
        if md is None:
            return []
        return [s.get("summary", {}) for s in md["snapshots"]]

    def _live_entries(self, md: dict, snapshot_id: "int | None" = None):
        sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
        snap = next(
            (s for s in md["snapshots"] if s["snapshot-id"] == sid), None)
        if snap is None:
            raise FileNotFoundError(f"no snapshot {sid}")
        _, manifests = avro.read_ocf(snap["manifest-list"])
        out = []
        for m in manifests:
            _, entries = avro.read_ocf(m["manifest_path"])
            out.extend(e for e in entries if e["status"] != STATUS_DELETED)
        return out

    def _live_files(self, md: dict, snapshot_id: "int | None" = None):
        return [e["data_file"]["file_path"]
                for e in self._live_entries(md, snapshot_id)]

    def _read_files(self, spark: SparkSession, md: dict, files: list):
        """Scan ``files`` with the table's stored schema: no footer
        inference job, and files written under an older (additively
        evolved) schema read the newer columns as null."""
        schema = T.StructType.fromJson(
            json.loads(md["properties"]["spark.schema"]))
        if not files:
            return spark.createDataFrame([], schema)
        reader = spark.read.schema(schema)
        if not md["partition-specs"][md["default-spec-id"]]["fields"]:
            return reader.parquet(*files)
        # partition columns live in the dir names: basePath makes Spark
        # re-derive them, typed by the stored schema. Live files span
        # one staging dir PER COMMIT (append / file-level merge), so
        # group by staging dir — a single commonpath basePath would put
        # the token dirs themselves in the discovered layout
        # ("conflicting directory structures"). A handful of unioned
        # scans per table; AQE coalesces them.
        groups: "dict[str, list[str]]" = {}
        for f in files:
            d = os.path.dirname(f)
            while "=" in os.path.basename(d):
                d = os.path.dirname(d)
            groups.setdefault(d, []).append(f)
        parts = [
            reader.option("basePath", base).parquet(*groups[base])
            .select(*schema.names)
            for base in sorted(groups)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        md = self.current_metadata(path)
        if md is None or md["current-snapshot-id"] == -1:
            raise FileNotFoundError(f"no committed snapshot at {path}")
        return self._read_files(spark, md, self._live_files(md))

    def read_snapshot(self, spark: SparkSession, path: str,
                      snapshot_id: int) -> DataFrame:
        """Time travel: read a specific snapshot id (or ordinal index
        into the snapshot log when < 1000)."""
        md = self.current_metadata(path)
        if md is None:
            raise FileNotFoundError(path)
        if snapshot_id < 1000:  # ordinal convenience (snap ids are 56-bit)
            snapshot_id = md["snapshot-log"][snapshot_id]["snapshot-id"]
        return self._read_files(
            spark, md, self._live_files(md, snapshot_id))

    def is_complete(self, path: str) -> bool:
        md = self.current_metadata(path)
        return md is not None and md["current-snapshot-id"] != -1

    # ------------------------------------------------ pruned scans

    def _entry_bounds(self, e: dict, name: str,
                      fields: "dict[str, tuple[int, str]]"):
        """(lo, hi) for column ``name`` in a manifest entry, or
        (None, None) when unknowable. Identity-partition values are
        exact (lo == hi); otherwise the column's manifest bounds."""
        df_ = e["data_file"]
        part = df_.get("partition") or {}
        if name in part and part[name] is not None:
            return part[name], part[name]
        if name not in fields:
            return None, None
        fid, typ = fields[name]
        lbs = {kv["key"]: kv["value"]
               for kv in df_.get("lower_bounds") or []}
        ubs = {kv["key"]: kv["value"]
               for kv in df_.get("upper_bounds") or []}
        if fid in lbs and fid in ubs:
            return (bound_from_bytes(lbs[fid], typ),
                    bound_from_bytes(ubs[fid], typ))
        return None, None

    @staticmethod
    def _bounds_exclude(lo, hi, op: str, v) -> bool:
        """True iff [lo, hi] proves no row in the file satisfies
        ``col <op> v`` (nulls never satisfy a comparison, so
        bounds-only logic is sound even with nulls present)."""
        if lo is None or hi is None:
            return False
        if op == "=":
            return v < lo or v > hi
        if op == "<":
            return lo >= v
        if op == "<=":
            return lo > v
        if op == ">":
            return hi <= v
        if op == ">=":
            return hi < v
        raise ValueError(f"unsupported op {op!r}")

    def plan_scan(self, path: str, filters=None,
                  snapshot_id: "int | None" = None,
                  md: "dict | None" = None):
        """File-level pruning: split the live file set into (kept,
        skipped) manifest entries using column bounds and identity
        partition values — the ScanTable min/max-interval idea
        (reference src/par_scan.rs:60-85) at catalog granularity.
        ``filters`` is a list of (column, op, literal) with op in
        = < <= > >=; a file is skipped only when its bounds PROVE
        emptiness, so missing stats never lose rows. Pass ``md`` to
        plan against already-loaded metadata (one snapshot — a commit
        landing between two metadata reads must not mix file lists
        and schemas from different versions)."""
        if md is None:
            md = self.current_metadata(path)
        if md is None:
            raise FileNotFoundError(path)
        entries = self._live_entries(md, snapshot_id)
        fields = self._top_level_fields(md)
        kept, skipped = [], []
        for e in entries:
            skip = any(
                self._bounds_exclude(
                    *self._entry_bounds(e, col, fields), op, v)
                for col, op, v in (filters or []))
            (skipped if skip else kept).append(e)
        return kept, skipped

    def read_where(self, spark: SparkSession, path: str,
                   filters) -> DataFrame:
        """Stats-pruned read: open only files whose bounds may match,
        then apply the residual row filter. At 100 TB this is the
        difference between a full-table scan and touching the handful
        of files a key-range query needs."""
        md = self.current_metadata(path)
        kept, _ = self.plan_scan(path, filters, md=md)
        df = self._read_files(
            spark, md, [e["data_file"]["file_path"] for e in kept])
        for col, op, v in filters or []:
            c = F.col(col)
            df = df.filter({"=": c == v, "<": c < v, "<=": c <= v,
                            ">": c > v, ">=": c >= v}[op])
        return df

    # ------------------------------------------------ MERGE

    #: above this many distinct delete keys the merge intersects file
    #: bounds against the keys' [min, max] range instead of collecting
    #: the key set to the driver (changesets are metadata-sized; this
    #: is the same explicit-threshold pattern as dedup.py's
    #: driver-union-find gate)
    MERGE_EXACT_KEYS_MAX = 100_000

    def merge_overwrite(self, spark, path, delete_keys, insert_rows,
                        key: str = "id") -> DataFrame:
        """MERGE as a FILE-LEVEL copy-on-write commit: only files whose
        ``key`` bounds intersect the delete-key set are rewritten; all
        other live files carry over as EXISTING entries with their
        paths (and bytes) untouched. Readers of snapshot N are never
        disturbed; the commit revalidates against fresh metadata on
        version conflicts and re-derives the rewrite, so a racing
        append is never silently dropped (the RewriteFiles validation
        real Iceberg does)."""
        # null keys match nothing under left_anti semantics (NULL =
        # NULL is not true) — drop them before they poison the sorted
        # key set / min-max range with None comparisons
        dk = (delete_keys.select(key)
              .filter(F.col(key).isNotNull())
              .distinct().localCheckpoint())
        n_keys = dk.count()
        keyset = None
        kmin = kmax = None
        if 0 < n_keys <= self.MERGE_EXACT_KEYS_MAX:
            keyset = sorted(r[0] for r in dk.collect())
            kmin, kmax = keyset[0], keyset[-1]
        elif n_keys:
            row = dk.agg(F.min(key), F.max(key)).first()
            kmin, kmax = row[0], row[1]

        import bisect

        def intersects(lo, hi):
            if n_keys == 0:
                return False
            if lo is None or hi is None:
                return True  # no stats → must assume overlap
            if hi < kmin or lo > kmax:
                return False
            if keyset is None:
                return True  # range mode: overlap is decisive
            i = bisect.bisect_left(keyset, lo)
            return i < len(keyset) and keyset[i] <= hi

        for _attempt in range(self.max_retries):
            md = self.current_metadata(path)
            if md is None or md["current-snapshot-id"] == -1:
                raise FileNotFoundError(f"no committed snapshot at {path}")
            fields = self._top_level_fields(md)
            if key not in fields:
                raise ValueError(f"merge key {key!r} not a top-level "
                                 "primitive column")
            entries = self._live_entries(md)
            touched, untouched = [], []
            for e in entries:
                lo, hi = self._entry_bounds(e, key, fields)
                (touched if intersects(lo, hi) else untouched).append(e)
            schema = T.StructType.fromJson(
                json.loads(md["properties"]["spark.schema"]))
            cols = [f.name for f in schema.fields]
            survivors = None
            if touched:
                survivors = self._read_files(
                    spark, md,
                    [e["data_file"]["file_path"] for e in touched]
                ).join(dk, key, "left_anti")
            new_df = insert_rows.select(*cols)
            if survivors is not None:
                new_df = survivors.select(*cols).unionByName(new_df)
            spec = md["partition-specs"][md["default-spec-id"]]["fields"]
            partition_by = [f["name"] for f in spec] or None
            staged = self._stage_data_files(new_df, path, partition_by)
            md2 = self._write_snapshot(
                path, md, staged, "overwrite",
                carry_entries=untouched, deleted_entries=touched,
                extra_summary={
                    "rewritten-data-files": str(len(touched)),
                    "carried-data-files": str(len(untouched)),
                })
            try:
                self._publish(path, md2)
                return self.read(spark, path)
            except CommitConflict:
                # a racer won the version: the rewrite above was
                # computed against stale metadata — loop re-reads,
                # re-splits, and re-stages against the fresh live set
                # (staged files of the lost attempt are unreferenced
                # orphans; expire_snapshots prunes empty staging dirs)
                continue
        raise CommitConflict(
            f"merge lost {self.max_retries} races at {path}")

    # ------------------------------------------------ maintenance

    def expire_snapshots(self, path: str, keep: int = 1) -> int:
        """Drop all but the newest ``keep`` snapshots. Ordering is the
        real HadoopTableOperations one: the trimmed metadata is
        PUBLISHED FIRST (with the same conflict-retry loop as
        commit/append), and only once it is durably the current
        version are the now-unreachable data/manifest files deleted —
        a crash or lost race between the two steps leaves only
        harmless orphans, never current metadata pointing at deleted
        files. Metadata versions older than the one before the trimmed
        one are deleted with them: every snapshot is in the newest
        file, and a reader that listed just before the publish still
        finds the previous one."""
        for _attempt in range(self.max_retries):
            md = self.current_metadata(path)
            if md is None:
                return 0
            snaps = md["snapshots"]
            if len(snaps) <= keep:
                return 0
            keep_snaps = snaps[-keep:]
            if not any(s["snapshot-id"] == md["current-snapshot-id"]
                       for s in keep_snaps):
                raise ValueError("refusing to expire the current snapshot")
            victims = snaps[:-keep]
            keep_files = set()
            for s in keep_snaps:
                keep_files.update(self._live_files(md, s["snapshot-id"]))
            keep_ids = {s["snapshot-id"] for s in keep_snaps}
            md2 = dict(md)
            md2["snapshots"] = keep_snaps
            md2["snapshot-log"] = [
                e for e in md2["snapshot-log"]
                if e["snapshot-id"] in keep_ids
            ]
            md2["metadata-log"] = [{
                "timestamp-ms": int(time.time() * 1000),
                "metadata-file": os.path.join(
                    self._meta_dir(path), f"v{md['_version']}.metadata.json"),
            }]
            try:
                version = self._publish(path, md2)
            except CommitConflict:
                continue  # recompute victims against fresh metadata
            # metadata is current — GC the unreachable files
            for s in victims:
                _, manifests = avro.read_ocf(s["manifest-list"])
                for m in manifests:
                    _, entries = avro.read_ocf(m["manifest_path"])
                    for e in entries:
                        fp = e["data_file"]["file_path"]
                        if fp not in keep_files:
                            _remove_data_file(fp)
                    if os.path.exists(m["manifest_path"]):
                        os.remove(m["manifest_path"])
                if os.path.exists(s["manifest-list"]):
                    os.remove(s["manifest-list"])
            for v in self._versions(path):
                if v < version - 1:
                    os.remove(os.path.join(
                        self._meta_dir(path), f"v{v}.metadata.json"))
            # prune now-empty staging dirs
            for d in glob.glob(os.path.join(path, "data", "*")):
                if os.path.isdir(d) and not any(
                    glob.glob(os.path.join(d, "**", "*.parquet"),
                              recursive=True)
                ):
                    shutil.rmtree(d)
            return len(victims)
        raise CommitConflict(
            f"expire lost {self.max_retries} races at {path}")

    def compact_data_files(self, path: str, spark: SparkSession,
                           target_file_size_bytes: int = 128 << 20) -> dict:
        """`rewrite_data_files` analog — the small-file compaction a
        100 TB table needs continuously: coalesce the current
        snapshot's data files into ~target-sized ones and publish the
        new layout as a ``replace`` snapshot (same live rows, fewer
        files; prior snapshots keep time-traveling to the old layout).
        Returns counts; no-op when the layout is already compact."""
        md = self.current_metadata(path)
        if md is None or md["current-snapshot-id"] == -1:
            return {"rewritten_files": 0, "new_files": 0, "noop": True}
        files = self._live_files(md)
        sizes = [os.path.getsize(f) for f in files if os.path.exists(f)]
        total = sum(sizes)
        n_out = max(1, -(-total // max(target_file_size_bytes, 1)))
        if len(files) <= n_out:
            return {"rewritten_files": 0, "new_files": 0, "noop": True}
        spec = md["partition-specs"][md["default-spec-id"]]["fields"]
        partition_by = [f["name"] for f in spec] or None
        df = self._read_files(spark, md, files)
        if not partition_by:
            df = df.repartition(int(n_out))
        staged = self._stage_data_files(df, path, partition_by)
        compacted = set(files)
        for _attempt in range(self.max_retries):
            md = self.current_metadata(path)
            live_now = self._live_entries(md)
            if {e["data_file"]["file_path"] for e in live_now} != compacted:
                # RewriteFiles validation: a concurrent commit changed
                # the live set after we read it — publishing the staged
                # replacement would silently drop the racer's rows
                raise ConcurrentRewrite(
                    "live file set changed during compaction; "
                    "staged rewrite is stale — rerun compaction")
            md2 = self._write_snapshot(path, md, staged, "replace",
                                       deleted_entries=live_now)
            try:
                self._publish(path, md2)
                return {"rewritten_files": len(files),
                        "new_files": len(staged), "noop": False}
            except CommitConflict:
                continue
        raise CommitConflict(f"compaction lost {self.max_retries} races")

    def changes_between(self, spark: SparkSession, path: str,
                        from_snapshot: "int | None", to_snapshot: int):
        """Incremental changelog (CDC read): rows added and rows
        removed between two snapshots, derived purely from manifest
        entry statuses — walk the snapshots after ``from_snapshot`` up
        to ``to_snapshot`` and read each one's ADDED files as inserts
        and DELETED files as deletes. ``from_snapshot=None`` means
        from table creation. Returns (added_df, removed_df).

        This is the catalog-level face of the engine's changeset
        operator (operators/changeset.py): a downstream consumer
        tails the snapshot log instead of re-reading the table. Note
        copy-on-write granularity is the file: a MERGE rewriting a
        file reports its surviving rows in both frames (standard
        overwrite-CDC semantics without positional delete files)."""
        md = self.current_metadata(path)
        if md is None:
            raise FileNotFoundError(path)
        snaps = md["snapshots"]
        ids = [s["snapshot-id"] for s in snaps]
        hi = ids.index(to_snapshot)
        lo = -1 if from_snapshot is None else ids.index(from_snapshot)
        added_files, removed_files = [], []
        for s in snaps[lo + 1:hi + 1]:
            _, manifests = avro.read_ocf(s["manifest-list"])
            for m in manifests:
                _, entries = avro.read_ocf(m["manifest_path"])
                for e in entries:
                    fp = e["data_file"]["file_path"]
                    if (e["status"] == STATUS_ADDED
                            and e["snapshot_id"] == s["snapshot-id"]):
                        added_files.append(fp)
                    elif (e["status"] == STATUS_DELETED
                            and e["snapshot_id"] == s["snapshot-id"]):
                        removed_files.append(fp)
        # a file added then removed inside the window nets out
        net_added = [f for f in added_files if f not in set(removed_files)]
        net_removed = [f for f in removed_files if f not in set(added_files)]
        return (self._read_files(spark, md, net_added),
                self._read_files(spark, md, net_removed))
