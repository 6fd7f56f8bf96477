"""Iceberg-spec metadata backend + minimal Avro OCF codec tests.

Pins: Avro wire-format round trips, the v2 metadata layout (schemas
with field ids, manifest list / manifest file Avro records, snapshot
log), the HadoopCatalog optimistic version-commit protocol, snapshot
isolation + time travel, MERGE as copy-on-write, and expiry GC. The
generic SnapshotBackend seam contract is additionally exercised for
this backend via the parametrized TestSnapshotBackendSeam in
test_pipeline.py.
"""

import json
import os
from pathlib import Path

import pytest

from ingest_spark.functions import avro
from ingest_spark.plans.iceberg import (
    CommitConflict, IcebergMetadataBackend, spark_schema_to_iceberg,
)

PKG = Path(__file__).resolve().parents[1] / "ingest_spark"


def test_tables_are_replaced_only_by_the_iceberg_commit():
    """Replacing a table in place is the Iceberg backend's commit and
    expiry: no other engine module renames or deletes a directory tree
    to swap a table."""
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "plans" / "iceberg.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "os.rename" in line or "shutil.rmtree" in line
    ]
    assert offenders == []


class TestAvro:
    def test_zigzag_longs(self):
        for n in (0, 1, -1, 63, 64, -64, -65, 2**31, -2**31, 2**62,
                  -2**62, (1 << 63) - 1, -(1 << 63)):
            buf = avro._zigzag_encode(n)
            got, pos = avro._zigzag_decode(buf, 0)
            assert got == n and pos == len(buf), n

    def test_ocf_roundtrip_all_types(self, tmp_path):
        schema = {"type": "record", "name": "t", "fields": [
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "bo", "type": "boolean"},
            {"name": "u", "type": ["null", "long"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "string"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "fx", "type": {"type": "fixed", "name": "x",
                                    "size": 4}},
        ]}
        recs = [
            {"s": "héllo", "b": b"\x00\xff", "i": -7, "l": 2**40,
             "f": 1.5, "d": -2.25, "bo": True, "u": None,
             "arr": ["a", ""], "m": {"k": 1, "z": -9}, "fx": b"abcd"},
            {"s": "", "b": b"", "i": 0, "l": 0, "f": 0.0, "d": 0.0,
             "bo": False, "u": 123, "arr": [], "m": {}, "fx": b"\0\0\0\0"},
        ]
        p = str(tmp_path / "t.avro")
        avro.write_ocf(p, schema, recs)
        s2, r2 = avro.read_ocf(p)
        assert s2 == schema and r2 == recs

    def test_ocf_rejects_non_avro(self, tmp_path):
        p = str(tmp_path / "bad")
        with open(p, "wb") as f:
            f.write(b"PAR1junk")
        with pytest.raises(ValueError):
            avro.read_ocf(p)

    def test_negative_block_count_read(self, tmp_path):
        # spec: writers MAY emit negative item counts with a byte-size;
        # our reader must accept them
        schema = {"type": "record", "name": "t", "fields": [
            {"name": "a", "type": {"type": "array", "items": "int"}}]}
        body = bytearray()
        body += avro._zigzag_encode(-2)   # two items, size-prefixed
        inner = bytearray()
        avro.encode(1, "int", inner)
        avro.encode(2, "int", inner)
        body += avro._zigzag_encode(len(inner))
        body += inner
        body += avro._zigzag_encode(0)
        got, _ = avro.decode(bytes(body), 0,
                             {"type": "array", "items": "int"})
        assert got == [1, 2]


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


class TestIcebergBackend:
    def test_metadata_layout_is_spec_shaped(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_df(spark, [(1, "a"), (2, "b")]), path)
        md = b.current_metadata(path)
        # required v2 fields
        for k in ("format-version", "table-uuid", "location",
                  "last-sequence-number", "last-column-id", "schemas",
                  "current-schema-id", "partition-specs",
                  "default-spec-id", "snapshots", "snapshot-log",
                  "current-snapshot-id"):
            assert k in md, k
        assert md["format-version"] == 2
        # schema carries field ids
        ids = [f["id"] for f in md["schemas"][0]["fields"]]
        assert ids == [1, 2]
        # version hint + metadata file naming
        meta = os.path.join(path, "metadata")
        assert open(os.path.join(meta, "version-hint.text")).read() == "1"
        assert os.path.exists(os.path.join(meta, "v1.metadata.json"))
        # manifest list is a REAL avro file with spec field-ids
        snap = md["snapshots"][-1]
        schema, manifests = avro.read_ocf(snap["manifest-list"])
        by_name = {f["name"]: f["field-id"] for f in schema["fields"]}
        assert by_name["manifest_path"] == 500
        assert by_name["added_rows_count"] == 512
        assert manifests[0]["added_rows_count"] == 2
        # manifest entries carry per-file row counts
        _, entries = avro.read_ocf(manifests[0]["manifest_path"])
        assert sum(e["data_file"]["record_count"] for e in entries) == 2
        assert all(e["data_file"]["file_format"] == "PARQUET"
                   for e in entries)
        assert all(os.path.exists(e["data_file"]["file_path"])
                   for e in entries)

    def test_snapshot_isolation_and_time_travel(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_df(spark, [(1, "a")]), path)
        md1 = b.current_metadata(path)
        first_id = md1["current-snapshot-id"]
        b.commit(_df(spark, [(2, "b"), (3, "c")]), path)
        md2 = b.current_metadata(path)
        assert md2["_version"] == 2
        assert len(md2["snapshots"]) == 2
        assert md2["snapshots"][-1]["parent-snapshot-id"] == first_id
        assert md2["snapshots"][-1]["summary"]["operation"] == "overwrite"
        # current read sees snapshot 2; snapshot 1 still readable
        assert {r.id for r in b.read(spark, path).collect()} == {2, 3}
        assert {r.id for r in b.read_snapshot(spark, path, first_id)
                .collect()} == {1}
        # ordinal convenience
        assert {r.id for r in b.read_snapshot(spark, path, 0)
                .collect()} == {1}

    def test_optimistic_commit_conflict_retries(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_df(spark, [(1, "a")]), path)
        # a racer publishes v2 out from under us
        meta = os.path.join(path, "metadata")
        racer = json.load(open(os.path.join(meta, "v1.metadata.json")))
        with open(os.path.join(meta, "v2.metadata.json"), "w") as f:
            json.dump(racer, f)
        b.commit(_df(spark, [(9, "z")]), path)  # must retry, not clobber
        md = b.current_metadata(path)
        assert md["_version"] == 3
        assert {r.id for r in b.read(spark, path).collect()} == {9}
        # exhausting retries raises CommitConflict
        class Stuck(IcebergMetadataBackend):
            def _publish(self, path, md):
                raise CommitConflict("always")
        with pytest.raises(CommitConflict):
            Stuck(max_retries=2).commit(_df(spark, [(0, "x")]), path)
        # data written but never published: the previous snapshot
        # still serves, and the next commit supersedes it
        assert {r.id for r in b.read(spark, path).collect()} == {9}
        b.commit(_df(spark, [(2, "b")]), path)
        assert {r.id for r in b.read(spark, path).collect()} == {2}

    def test_publish_over_a_stale_base_conflicts(self, tmp_path):
        """A committer whose metadata went stale while it wrote its
        snapshot must lose the version race, not publish on top of the
        racer and drop the racer's snapshot."""
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b._publish(path, {"snapshots": []})
        md = b.current_metadata(path)
        b._publish(path, {**md, "snapshots": [111]})
        with pytest.raises(CommitConflict):
            b._publish(path, {**md, "snapshots": [222]})
        assert b.current_metadata(path)["snapshots"] == [111]

    def test_partitioned_commit_and_read(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "ptbl")
        rows = [(i, f"v{i % 3}") for i in range(12)]
        b.commit(_df(spark, rows), path, partition_by=["v"])
        md = b.current_metadata(path)
        spec = md["partition-specs"][0]["fields"]
        assert spec and spec[0]["transform"] == "identity"
        assert spec[0]["name"] == "v" and spec[0]["field-id"] == 1000
        # manifest partition records carry the value
        snap = md["snapshots"][-1]
        _, manifests = avro.read_ocf(snap["manifest-list"])
        _, entries = avro.read_ocf(manifests[0]["manifest_path"])
        assert {e["data_file"]["partition"]["v"] for e in entries} == {
            "v0", "v1", "v2"}
        got = {(r.id, r.v) for r in b.read(spark, path).collect()}
        assert got == set(rows)

    def test_merge_overwrite_copy_on_write(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
        pre = b.current_metadata(path)["current-snapshot-id"]
        out = b.merge_overwrite(
            spark, path,
            spark.createDataFrame([(2,), (3,)], "id long"),
            _df(spark, [(3, "c2"), (4, "d")]),
        )
        assert {(r.id, r.v) for r in out.collect()} == {
            (1, "a"), (3, "c2"), (4, "d")}
        # the pre-merge snapshot still reads intact (copy-on-write)
        assert {(r.id, r.v)
                for r in b.read_snapshot(spark, path, pre).collect()} == {
            (1, "a"), (2, "b"), (3, "c")}

    def test_expire_snapshots_gc(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_df(spark, [(1, "a")]), path)
        old_files = set(b._live_files(b.current_metadata(path)))
        b.commit(_df(spark, [(2, "b")]), path)
        removed = b.expire_snapshots(path, keep=1)
        assert removed == 1
        md = b.current_metadata(path)
        assert len(md["snapshots"]) == 1
        assert {r.id for r in b.read(spark, path).collect()} == {2}
        # expired data files are gone from disk
        assert not any(os.path.exists(f) for f in old_files)
        # expiring below the current snapshot refuses
        assert b.expire_snapshots(path, keep=1) == 0

    def test_expire_bounds_metadata_and_leaves_no_checksum_orphans(
            self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        for i in range(5):
            b.commit(_df(spark, [(i, "a"), (i + 10, "b")]), path)
        assert b.expire_snapshots(path, keep=1) == 4
        meta = os.path.join(path, "metadata")
        versions = sorted(p.name for p in Path(meta).glob("v*.metadata.json"))
        assert len(versions) <= 2, versions
        md = b.current_metadata(path)
        assert all(os.path.exists(e["metadata-file"])
                   for e in md["metadata-log"])
        kept = md["current-snapshot-id"]
        assert {r.id for r in b.read(spark, path).collect()} == {4, 14}
        assert {r.id for r in b.read_snapshot(spark, path, kept)
                .collect()} == {4, 14}
        # every Hadoop checksum sidecar still has its data file
        orphans = [
            str(c) for c in Path(path).rglob(".*.crc")
            if not (c.parent / c.name[1:-len(".crc")]).exists()
        ]
        assert orphans == []
        # the next commit and expiry keep the bound
        b.commit(_df(spark, [(7, "c")]), path)
        assert b.expire_snapshots(path, keep=1) == 1
        assert len(list(Path(meta).glob("v*.metadata.json"))) <= 2
        assert {r.id for r in b.read(spark, path).collect()} == {7}

    def test_empty_table_roundtrip(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_df(spark, []).limit(0), path)
        assert b.is_complete(path)
        got = b.read(spark, path)
        assert got.count() == 0
        assert [f.name for f in got.schema.fields] == ["id", "v"]


class TestSchemaConversion:
    def test_nested_field_ids_are_unique_and_dense(self, spark):
        from pyspark.sql import types as T
        schema = T.StructType([
            T.StructField("a", T.LongType(), False),
            T.StructField("arr", T.ArrayType(T.StringType()), True),
            T.StructField("m", T.MapType(T.StringType(), T.DoubleType()),
                          True),
            T.StructField("s", T.StructType([
                T.StructField("x", T.IntegerType(), True),
                T.StructField("y", T.BinaryType(), True),
            ]), True),
        ])
        ice = spark_schema_to_iceberg(schema)
        ids = []

        def walk(node):
            if isinstance(node, dict):
                for k in ("id", "element-id", "key-id", "value-id"):
                    if k in node:
                        ids.append(node[k])
                for v in node.values():
                    walk(v)
            elif isinstance(node, list):
                for v in node:
                    walk(v)
        walk(ice)
        assert sorted(ids) == list(range(1, len(ids) + 1))
        assert ice["last-column-id"] == max(ids)
        top = {f["name"]: f for f in ice["fields"]}
        assert top["a"]["required"] is True
        assert top["m"]["type"]["type"] == "map"


class TestCompaction:
    def test_compact_small_files(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        df = spark.range(0, 1000).withColumnRenamed("id", "x")
        b.commit(df.repartition(16), path)
        md = b.current_metadata(path)
        pre_files = b._live_files(md)
        assert len(pre_files) >= 8
        pre_snap = md["current-snapshot-id"]
        stats = b.compact_data_files(path, spark,
                                     target_file_size_bytes=1 << 30)
        assert not stats["noop"]
        assert stats["rewritten_files"] == len(pre_files)
        assert stats["new_files"] < len(pre_files)
        md2 = b.current_metadata(path)
        assert md2["snapshots"][-1]["summary"]["operation"] == "replace"
        # identical rows, new layout; old snapshot still time-travels
        assert {r.x for r in b.read(spark, path).collect()} == set(range(1000))
        assert {r.x for r in b.read_snapshot(spark, path, pre_snap)
                .collect()} == set(range(1000))
        # second pass is a no-op
        assert b.compact_data_files(path, spark,
                                    target_file_size_bytes=1 << 30)["noop"]


class TestAppendAndEvolution:
    def test_append_carries_existing_files(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.append(_df(spark, [(1, "a")]), path)
        b.append(_df(spark, [(2, "b")]), path)
        md = b.current_metadata(path)
        assert md["snapshots"][-1]["summary"]["operation"] == "append"
        # both rows live; previous files re-listed as EXISTING with
        # their ORIGINAL sequence number
        assert {(r.id, r.v) for r in b.read(spark, path).collect()} == {
            (1, "a"), (2, "b")}
        entries = b._live_entries(md)
        statuses = sorted(e["status"] for e in entries)
        from ingest_spark.plans.iceberg import (
            STATUS_ADDED, STATUS_EXISTING)
        assert STATUS_EXISTING in statuses and STATUS_ADDED in statuses
        seqs = {e["sequence_number"] for e in entries}
        assert seqs == {1, 2}
        # manifest list counts split added vs existing
        snap = md["snapshots"][-1]
        _, manifests = avro.read_ocf(snap["manifest-list"])
        assert manifests[0]["existing_rows_count"] == 1
        assert manifests[0]["added_rows_count"] == 1
        assert manifests[0]["min_sequence_number"] == 1

    def test_additive_schema_evolution(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.append(_df(spark, [(1, "a")]), path)
        wide = spark.createDataFrame(
            [(2, "b", 3.5)], "id long, v string, score double")
        b.append(wide, path)
        md = b.current_metadata(path)
        assert len(md["schemas"]) == 2
        assert md["current-schema-id"] == 1
        # old columns keep their field ids; the new one gets a fresh id
        s0 = {f["name"]: f["id"] for f in md["schemas"][0]["fields"]}
        s1 = {f["name"]: f["id"] for f in md["schemas"][1]["fields"]}
        assert s1["id"] == s0["id"] and s1["v"] == s0["v"]
        assert s1["score"] == md["last-column-id"] == 3
        rows = {(r.id, r.v, r.score) for r in b.read(spark, path).collect()}
        assert rows == {(1, "a", None), (2, "b", 3.5)}

    def test_non_additive_evolution_rejected(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.append(_df(spark, [(1, "a")]), path)
        with pytest.raises(NotImplementedError, match="type change"):
            b.append(spark.createDataFrame([(2, 5)], "id long, v long"),
                     path)
        with pytest.raises(NotImplementedError, match="dropping"):
            b.append(spark.createDataFrame([(2,)], "id long"), path)


class TestStreamingIcebergSink:
    def test_stream_appends_one_snapshot_per_batch(self, spark, tmp_path):
        from ingest_spark.streaming.stream import stream_iceberg_append

        src = str(tmp_path / "src")
        for i in range(3):
            spark.createDataFrame(
                [(i * 10 + j, f"r{i}") for j in range(5)],
                "id long, v string",
            ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("id long, v string")
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        table = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        q = stream_iceberg_append(stream, table, ckpt)
        q.awaitTermination(120)
        b = IcebergMetadataBackend()
        md = b.current_metadata(table)
        # one append snapshot per non-empty micro-batch, batch ids in
        # the summaries, all 15 rows live
        summaries = b.snapshot_summaries(table)
        batch_ids = [s.get("streaming-batch-id") for s in summaries]
        assert len(batch_ids) == len(set(batch_ids)) >= 1
        assert all(s["operation"] == "append" for s in summaries)
        assert {r.id for r in b.read(spark, table).collect()} == {
            i * 10 + j for i in range(3) for j in range(5)}
        assert md["last-sequence-number"] == len(summaries)

    def test_retried_batch_commits_once(self, spark, tmp_path):
        from ingest_spark.plans.iceberg import IcebergMetadataBackend

        b = IcebergMetadataBackend()
        table = str(tmp_path / "tbl")
        df = _df(spark, [(1, "a")])
        # simulate foreachBatch retry: same batch id applied twice
        from ingest_spark.streaming import stream as strm
        calls = []
        orig_append = b.append

        def counting_append(*a, **k):
            calls.append(1)
            return orig_append(*a, **k)
        b.append = counting_append
        for _ in range(2):
            done = {s.get("streaming-batch-id")
                    for s in b.snapshot_summaries(table)}
            if "7" not in done:
                b.append(df, table,
                         summary={"streaming-batch-id": "7"})
        assert len(calls) == 1
        assert b.read(spark, table).count() == 1


class TestChangelog:
    def test_overwrite_emits_deleted_entries(self, spark, tmp_path):
        from ingest_spark.plans.iceberg import STATUS_DELETED
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_df(spark, [(1, "a"), (2, "b")]), path)
        b.commit(_df(spark, [(3, "c")]), path)
        md = b.current_metadata(path)
        snap = md["snapshots"][-1]
        assert snap["summary"]["operation"] == "overwrite"
        assert int(snap["summary"]["deleted-data-files"]) >= 1
        _, manifests = avro.read_ocf(snap["manifest-list"])
        assert manifests[0]["deleted_files_count"] >= 1
        assert manifests[0]["deleted_rows_count"] == 2
        _, entries = avro.read_ocf(manifests[0]["manifest_path"])
        dead = [e for e in entries if e["status"] == STATUS_DELETED]
        assert dead and all(
            e["snapshot_id"] == snap["snapshot-id"] for e in dead)
        # scans still skip DELETED entries
        assert {r.id for r in b.read(spark, path).collect()} == {3}

    def test_changes_between(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.append(_df(spark, [(1, "a"), (2, "b")]), path)
        s1 = b.current_metadata(path)["current-snapshot-id"]
        b.append(_df(spark, [(3, "c")]), path)
        s2 = b.current_metadata(path)["current-snapshot-id"]
        b.merge_overwrite(
            spark, path,
            spark.createDataFrame([(1,)], "id long"),
            _df(spark, [(4, "d")]),
        )
        s3 = b.current_metadata(path)["current-snapshot-id"]
        # window s1 -> s2: one appended file, nothing removed
        add, rem = b.changes_between(spark, path, s1, s2)
        assert {r.id for r in add.collect()} == {3}
        assert rem.count() == 0
        # window s2 -> s3 (the merge): FILE-level copy-on-write — only
        # files whose key bounds intersect the delete key {1} are
        # rewritten. The id-3 file (bounds [3,3]) must be untouched;
        # id 2 appears only if it shared a file with id 1.
        add, rem = b.changes_between(spark, path, s2, s3)
        rem_ids = {r.id for r in rem.collect()}
        add_ids = {r.id for r in add.collect()}
        assert 1 in rem_ids and 3 not in rem_ids
        assert add_ids == (rem_ids - {1}) | {4}
        # full history nets to the live table
        add, rem = b.changes_between(spark, path, None, s3)
        assert {r.id for r in add.collect()} == {2, 3, 4}


try:
    from hypothesis import given, settings, strategies as st
    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:
    _REC_SCHEMA = {"type": "record", "name": "p", "fields": [
        {"name": "l", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "bytes"},
        {"name": "u", "type": ["null", "long"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
    ]}

    class TestAvroProperties:
        @settings(max_examples=200, deadline=None)
        @given(st.lists(st.fixed_dictionaries({
            "l": st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
            "s": st.text(max_size=40),
            "b": st.binary(max_size=40),
            "u": st.one_of(st.none(), st.integers(
                min_value=-(1 << 62), max_value=1 << 62)),
            "arr": st.lists(st.integers(
                min_value=-(1 << 40), max_value=1 << 40), max_size=8),
            "m": st.dictionaries(st.text(max_size=8),
                                 st.text(max_size=8), max_size=5),
        }), max_size=12))
        def test_ocf_roundtrip_property(self, tmp_path_factory, recs):
            p = str(tmp_path_factory.mktemp("avro") / "t.avro")
            avro.write_ocf(p, _REC_SCHEMA, recs)
            schema, got = avro.read_ocf(p)
            assert schema == _REC_SCHEMA and got == recs


def _ranged(spark, n=1000, buckets=8):
    """n rows in ``buckets`` files with DISJOINT key ranges — the
    layout stats pruning and file-level MERGE are designed for."""
    from pyspark.sql import functions as F
    return (spark.range(0, n).withColumnRenamed("id", "k")
            .withColumn("s", F.format_string("s%04d", F.col("k")))
            .repartitionByRange(buckets, "k"))


class TestColumnStats:
    """Round 7: manifest column stats (spec ids 109/110/125/128) and
    the reads/merges they make file-level."""

    def test_manifest_entries_carry_stats(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_ranged(spark, 100, 4), path)
        md = b.current_metadata(path)
        fields = b._top_level_fields(md)
        kid, _ = fields["k"]
        entries = b._live_entries(md)
        assert entries
        los, his = [], []
        for e in entries:
            d = e["data_file"]
            vc = {kv["key"]: kv["value"] for kv in d["value_counts"]}
            nc = {kv["key"]: kv["value"] for kv in d["null_value_counts"]}
            assert vc[kid] == d["record_count"]
            assert nc[kid] == 0
            lo, hi = b._entry_bounds(e, "k", fields)
            assert lo is not None and lo <= hi
            los.append(lo)
            his.append(hi)
        assert min(los) == 0 and max(his) == 99
        # string bounds round-trip through the binary serialization
        slo, shi = b._entry_bounds(entries[0], "s", fields)
        assert isinstance(slo, str) and slo.startswith("s") and slo <= shi

    def test_null_counts_recorded(self, spark, tmp_path):
        from pyspark.sql import functions as F
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        df = spark.range(0, 10).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, F.col("id")).alias("maybe"),
        ).coalesce(1)
        b.commit(df, path)
        md = b.current_metadata(path)
        fields = b._top_level_fields(md)
        mid, _ = fields["maybe"]
        (entry,) = b._live_entries(md)
        nc = {kv["key"]: kv["value"]
              for kv in entry["data_file"]["null_value_counts"]}
        assert nc[mid] == 5
        lo, hi = b._entry_bounds(entry, "maybe", fields)
        assert (lo, hi) == (0, 8)  # bounds ignore nulls

    def test_read_where_prunes_files(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_ranged(spark, 1000, 8), path)
        n_files = len(b._live_entries(b.current_metadata(path)))
        assert n_files >= 4
        kept, skipped = b.plan_scan(path, [("k", ">=", 900)])
        assert skipped and len(kept) < n_files
        got = b.read_where(spark, path, [("k", ">=", 900)])
        assert got.count() == 100
        assert got.agg({"k": "min"}).first()[0] == 900
        # point lookup keeps a single file
        kept, skipped = b.plan_scan(path, [("k", "=", 5)])
        assert len(kept) == 1 and len(skipped) == n_files - 1
        assert b.read_where(spark, path, [("k", "=", 5)]).count() == 1
        # contradiction prunes everything but still returns a frame
        kept, _ = b.plan_scan(path, [("k", "<", 0)])
        assert not kept
        assert b.read_where(spark, path, [("k", "<", 0)]).count() == 0

    def test_string_bounds_prune(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_ranged(spark, 400, 4), path)
        kept, skipped = b.plan_scan(path, [("s", ">=", "s0350")])
        assert skipped
        assert b.read_where(
            spark, path, [("s", ">=", "s0350")]).count() == 50


class TestFileLevelMerge:
    def test_nonintersecting_files_byte_identical(self, spark, tmp_path):
        import hashlib

        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_ranged(spark, 1000, 8), path)
        before = {
            e["data_file"]["file_path"]
            for e in b._live_entries(b.current_metadata(path))
        }
        digest = {p: hashlib.md5(open(p, "rb").read()).hexdigest()
                  for p in before}
        dk = spark.createDataFrame([(10,), (20,)], "k long")
        ins = spark.createDataFrame([(5000, "s5000")], "k long, s string")
        out = b.merge_overwrite(spark, path, dk, ins, key="k")
        assert out.count() == 999  # 1000 - 2 + 1
        md = b.current_metadata(path)
        after = {e["data_file"]["file_path"]: e
                 for e in b._live_entries(md)}
        carried = before & set(after)
        rewritten = before - set(after)
        # 10 and 20 share one range file → exactly one file rewritten
        assert len(rewritten) == 1
        assert md["snapshots"][-1]["summary"]["rewritten-data-files"] == "1"
        for p in carried:  # untouched files: same path, same bytes
            assert hashlib.md5(
                open(p, "rb").read()).hexdigest() == digest[p]

    def test_range_mode_above_key_gate(self, spark, tmp_path):
        class TinyGate(IcebergMetadataBackend):
            MERGE_EXACT_KEYS_MAX = 1
        b = TinyGate()
        path = str(tmp_path / "tbl")
        b.commit(_ranged(spark, 1000, 8), path)
        dk = spark.createDataFrame([(10,), (990,)], "k long")
        ins = spark.createDataFrame([], "k long, s string")
        out = b.merge_overwrite(spark, path, dk, ins, key="k")
        # range mode rewrites every file overlapping [10, 990] —
        # conservative but never loses rows
        assert out.count() == 998
        assert {r.k for r in out.filter("k in (10, 990)").collect()} == set()

    def test_merge_revalidates_after_lost_race(self, spark, tmp_path):
        outer_spark = spark

        class RaceOnce(IcebergMetadataBackend):
            raced = False

            def _publish(self, path, md):
                if not RaceOnce.raced:
                    RaceOnce.raced = True
                    IcebergMetadataBackend().append(
                        _df(outer_spark, [(777, "racer")])
                        .withColumnRenamed("id", "k")
                        .withColumnRenamed("v", "s"), path)
                    raise CommitConflict("lost the version race")
                return super()._publish(path, md)

        b = RaceOnce()
        path = str(tmp_path / "tbl")
        IcebergMetadataBackend().commit(_ranged(spark, 100, 4), path)
        dk = spark.createDataFrame([(10,)], "k long")
        ins = spark.createDataFrame([(5000, "s5000")], "k long, s string")
        out = b.merge_overwrite(spark, path, dk, ins, key="k")
        got = {r.k for r in out.collect()}
        # the racer's append happened between our read and publish —
        # the retry must re-derive and keep its row
        assert 777 in got and 5000 in got and 10 not in got
        assert len(got) == 100 - 1 + 1 + 1


class TestMaintenanceOrdering:
    def test_expire_publishes_before_gc(self, spark, tmp_path):
        class StuckPublish(IcebergMetadataBackend):
            def _publish(self, path, md):
                raise CommitConflict("always")

        base = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        base.commit(_df(spark, [(1, "a")]), path)
        base.commit(_df(spark, [(2, "b")]), path)
        md = base.current_metadata(path)
        all_files = []
        for s in md["snapshots"]:
            _, manifests = avro.read_ocf(s["manifest-list"])
            all_files.append(s["manifest-list"])
            for m in manifests:
                all_files.append(m["manifest_path"])
                _, entries = avro.read_ocf(m["manifest_path"])
                all_files += [e["data_file"]["file_path"] for e in entries]
        with pytest.raises(CommitConflict):
            StuckPublish(max_retries=2).expire_snapshots(path, keep=1)
        # publication never succeeded → NOTHING may have been deleted
        for p in all_files:
            assert os.path.exists(p), p
        assert {r.id for r in base.read(spark, path).collect()} == {2}

    def test_compact_aborts_when_live_set_changes(self, spark, tmp_path):
        from ingest_spark.plans.iceberg import ConcurrentRewrite
        outer_spark = spark

        class RacedCompact(IcebergMetadataBackend):
            def _publish(self, path, md):
                # a concurrent append lands JUST before our publish
                IcebergMetadataBackend().append(
                    _df(outer_spark, [(777, "racer")]), path)
                raise CommitConflict("lost")

        base = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        base.commit(
            spark.createDataFrame(
                [(i, "x") for i in range(8)], "id long, v string"
            ).repartition(8), path)
        with pytest.raises(ConcurrentRewrite):
            RacedCompact().compact_data_files(
                path, spark, target_file_size_bytes=1 << 30)
        # the racer's row survived; nothing was replaced
        got = {r.id for r in base.read(spark, path).collect()}
        assert got == set(range(8)) | {777}


class TestPartitionValueFidelity:
    """Round 7 review fixes: Hive-escaped partition dir values, null
    partitions, null MERGE keys, and single-snapshot read planning."""

    def test_escaped_string_partition_value_not_mispruned(
            self, spark, tmp_path):
        from pyspark.sql import functions as F
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "a:b"), (2, "plain"), (3, "x y=z")],
            "id long, s string")
        b.commit(df, path, partition_by=["s"])
        # the staged partition values must be the TRUE strings
        md = b.current_metadata(path)
        vals = {e["data_file"]["partition"]["s"]
                for e in b._live_entries(md)}
        assert vals == {"a:b", "plain", "x y=z"}
        # stats/partition pruning must keep the escaped-value file
        out = b.read_where(spark, path, [("s", "=", "a:b")]).collect()
        assert [r.id for r in out] == [1]
        kept, skipped = b.plan_scan(path, [("s", "=", "a:b")])
        assert len(kept) == 1 and len(skipped) == 2
        # and file-level MERGE must rewrite it, not skip it
        b.merge_overwrite(
            spark,
            path,
            delete_keys=spark.createDataFrame([("a:b",)], "s string"),
            insert_rows=spark.createDataFrame([(9, "a:b")],
                                              "id long, s string"),
            key="s",
        )
        rows = {(r.id, r.s) for r in b.read(spark, path).collect()}
        assert rows == {(9, "a:b"), (2, "plain"), (3, "x y=z")}

    def test_null_partition_value_survives(self, spark, tmp_path):
        from pyspark.sql import functions as F
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "x"), (2, None)], "id long, s string")
        b.commit(df, path, partition_by=["s"])
        md = b.current_metadata(path)
        parts = sorted(
            (e["data_file"]["partition"]["s"] is None)
            for e in b._live_entries(md))
        assert parts == [False, True]  # one real, one null partition
        # a filter on s must not prune the null file incorrectly, and
        # the row filter drops the null row (SQL comparison semantics)
        out = b.read_where(spark, path, [("s", "=", "x")]).collect()
        assert [r.id for r in out] == [1]
        # the null row is still readable in a full scan
        assert {r.id for r in b.read(spark, path).collect()} == {1, 2}

    def test_null_int_partition_value_commit(self, spark, tmp_path):
        from pyspark.sql import functions as F
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        df = spark.range(0, 4).select(
            F.col("id"),
            F.when(F.col("id") < 2, F.col("id") % 2).alias("p"))
        b.commit(df, path, partition_by=["p"])  # must not raise
        assert b.read(spark, path).count() == 4

    def test_merge_with_null_delete_keys(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(spark.createDataFrame([(1, "a"), (2, "b")],
                                       "id long, v string"), path)
        dk = spark.createDataFrame([(1,), (None,)], "id long")
        ins = spark.createDataFrame([(1, "a2")], "id long, v string")
        b.merge_overwrite(spark, path, dk, ins, key="id")
        rows = {(r.id, r.v) for r in b.read(spark, path).collect()}
        assert rows == {(1, "a2"), (2, "b")}  # null key matched nothing

    def test_plan_scan_accepts_preloaded_metadata(self, spark, tmp_path):
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl")
        b.commit(_ranged(spark, 100, 4), path)
        md = b.current_metadata(path)
        kept_a, _ = b.plan_scan(path, [("k", "<", 10)])
        kept_b, _ = b.plan_scan(path, [("k", "<", 10)], md=md)
        assert [e["data_file"]["file_path"] for e in kept_a] == \
            [e["data_file"]["file_path"] for e in kept_b]


class TestDateColumnBounds:
    def test_commit_and_prune_with_date_column(self, spark, tmp_path):
        """Round-8 ADVICE (medium): a DateType column crashed
        _stats_maps (struct.pack got datetime.date). Commit must
        succeed, bounds must round-trip as int32 days, and stats-based
        pruning must compare against date literals."""
        import datetime

        from ingest_spark.functions import avro
        from ingest_spark.plans.iceberg import (
            IcebergMetadataBackend, bound_from_bytes, bound_to_bytes,
        )

        d1, d2 = datetime.date(2021, 3, 1), datetime.date(2023, 12, 31)
        b = IcebergMetadataBackend()
        path = str(tmp_path / "tbl_date")
        df = spark.createDataFrame(
            [(1, d1), (2, d2)], "id long, day date"
        )
        b.commit(df, path)  # crashed before the fix
        md = b.current_metadata(path)
        snap = md["snapshots"][-1]
        _, manifests = avro.read_ocf(snap["manifest-list"])
        _, entries = avro.read_ocf(manifests[0]["manifest_path"])
        # field id 2 = the date column; bounds present and correct
        lows = [
            dict((kv["key"], kv["value"]) for kv in e["data_file"]["lower_bounds"])
            for e in entries if e["data_file"].get("lower_bounds")
        ]
        assert lows, "date column bounds missing from manifest"
        decoded = [bound_from_bytes(bytes(m[2]), "date") for m in lows if 2 in m]
        assert min(decoded) == d1
        # scalar codec roundtrip
        assert bound_from_bytes(bound_to_bytes(d2, "date"), "date") == d2
        # read back unchanged
        got = sorted(
            (r["id"], r["day"]) for r in b.read(spark, path).collect()
        )
        assert got == [(1, d1), (2, d2)]


class TestWebpDimensionGuard:
    def test_encode_rejects_oversize(self):
        """Round-8 ADVICE (low): >16384-wide input silently truncated
        the 14-bit VP8L size fields; must raise instead."""
        import numpy as np
        import pytest as _pytest

        from ingest_spark.functions import webp

        ok = np.zeros((2, 2, 3), dtype=np.uint8)
        assert isinstance(webp.encode(ok), bytes)
        bad = np.zeros((1, 16385, 3), dtype=np.uint8)
        with _pytest.raises(ValueError, match="16384"):
            webp.encode(bad)
