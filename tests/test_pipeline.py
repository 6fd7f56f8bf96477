"""Checkpointed pipeline: stages, resume, metrics, scan stats, streaming."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from ingest_spark.config import EngineConfig
from ingest_spark.operators import extract
from ingest_spark.plans.checkpoint import Manifest, run_stage
from ingest_spark.plans.metrics import MetricsCollector
from ingest_spark.plans.pipeline import run_ingest
from ingest_spark.sources import pages as pages_src
from ingest_spark.sources import scan as scan_src


@pytest.fixture(scope="module")
def pages(spark):
    return pages_src.pages(spark, n_filler=800).cache()


class TestScanStats:
    def test_stats_shape_and_counts(self, spark, pages):
        nodes, ways, rels = extract.parse_elements(pages)
        stats = scan_src.element_stats(nodes, ways, rels)
        agg = {r.etype: r.total for r in stats.groupBy("etype").agg(F.sum("n").alias("total")).collect()}
        assert agg["node"] == nodes.count()
        assert agg["way"] == ways.count()
        assert agg["relation"] == rels.count()

    def test_prune_partitions(self, spark, pages):
        nodes, ways, rels = extract.parse_elements(pages)
        stats = scan_src.element_stats(nodes, ways, rels).cache()
        needed = spark.createDataFrame([(1312,), (2000,)], "id long")
        pruned = scan_src.prune_partitions(stats, needed, "node")
        total = stats.where(F.col("etype") == "node").count()
        assert 1 <= pruned.count() <= total


class TestSinglePassExtract:
    def test_parse_all_matches_per_type_parses(self, spark, pages):
        """The single-scan unified parse must reproduce the three
        per-type parses exactly (same rows, same schemas)."""
        from ingest_spark.operators.extract import element_views, parse_all

        uni = parse_all(pages)
        n1, w1, r1 = element_views(uni)
        n2 = extract.parse_nodes(pages)
        w2 = extract.parse_ways(pages)
        r2 = extract.parse_relations(pages)
        assert n1.schema == n2.schema
        assert w1.schema == w2.schema
        # map/struct columns aren't exceptAll-comparable — compare
        # sorted collected rows
        for a, b in ((n1, n2), (w1, w2), (r1, r2)):
            ra = sorted(a.collect(), key=lambda r: r.id)
            rb = sorted(b.collect(), key=lambda r: r.id)
            assert ra == rb

    def test_partition_pruning_on_etype(self, spark, pages, tmp_path):
        """element_views over the partitioned table must prune to one
        etype directory (PartitionFilters in the scan)."""
        from ingest_spark.operators.extract import element_views, parse_all

        out = str(tmp_path / "elements")
        parse_all(pages).write.partitionBy("etype").parquet(out)
        nodes, _, _ = element_views(spark.read.parquet(out))
        plan = nodes._jdf.queryExecution().executedPlan().toString()
        assert "etype" in plan  # partition filter present
        assert nodes.count() == extract.parse_nodes(pages).count()


class TestCheckpointResume:
    def test_stage_runs_then_skips(self, spark, tmp_path):
        root = str(tmp_path / "ckpt")
        m = Manifest.load(root)
        calls = []

        def build():
            calls.append(1)
            return spark.range(0, 10).withColumnRenamed("id", "x")

        df1 = run_stage(spark, m, "s1", build)
        assert df1.count() == 10 and len(calls) == 1

        # resume: same manifest root → stage skipped
        m2 = Manifest.load(root)
        df2 = run_stage(spark, m2, "s1", build)
        assert df2.count() == 10 and len(calls) == 1
        assert m2.snapshot_of("s1") == m.snapshot_of("s1")

    def test_upstream_change_invalidates_downstream(self, spark, tmp_path):
        root = str(tmp_path / "ckpt2")
        m = Manifest.load(root)
        run_stage(spark, m, "a", lambda: spark.range(5))
        calls = []
        run_stage(spark, m, "b", lambda: (calls.append(1), spark.range(3))[1], inputs=["a"])
        assert len(calls) == 1
        # simulate upstream re-run with different content → new snapshot
        m.stages["a"]["snapshot_id"] = "changed!"
        m.save()
        m2 = Manifest.load(root)
        run_stage(spark, m2, "b", lambda: (calls.append(1), spark.range(3))[1], inputs=["a"])
        assert len(calls) == 2

    def test_full_pipeline_and_resume(self, spark, pages, tmp_path):
        root = str(tmp_path / "pipe")
        res1 = run_ingest(spark, pages, root, EngineConfig(), optimize_grid=(2, 2))
        n1 = res1.features.count()
        assert n1 > 0
        assert res1.optimized is not None
        assert {"grid_cell", "bucket", "salt", "tile_x"} <= set(res1.optimized.columns)
        stages1 = dict(res1.manifest.stages)

        # resume: nothing recomputes, snapshots identical
        res2 = run_ingest(spark, pages, root, EngineConfig(), optimize_grid=(2, 2))
        assert res2.features.count() == n1
        assert {k: v["snapshot_id"] for k, v in res2.manifest.stages.items()} == {
            k: v["snapshot_id"] for k, v in stages1.items()
        }

    def test_source_change_invalidates_root_stages(self, spark, pages, tmp_path):
        """Re-running against a DIFFERENT pages table on the same
        out_root must re-extract (and cascade), not return stale
        parquet — the extract stages track a source fingerprint."""
        root = str(tmp_path / "pipe_src")
        res1 = run_ingest(spark, pages, root, EngineConfig(), optimize_grid=None)
        n1 = res1.features.count()

        smaller = pages.limit(60)
        res2 = run_ingest(spark, smaller, root, EngineConfig(), optimize_grid=None)
        n2 = res2.features.count()
        assert res2.manifest.stages["extract"]["source_fingerprint"] != \
            res1.manifest.stages["extract"]["source_fingerprint"]
        assert n2 != n1  # stale features would have kept n1

    def test_content_change_same_shape_invalidates_downstream(self, spark, tmp_path):
        """Upstream re-run with identical row count and schema but
        different VALUES gets a new snapshot id (content digest) and
        invalidates dependents."""
        root = str(tmp_path / "ckpt3")
        m = Manifest.load(root)
        run_stage(spark, m, "a", lambda: spark.range(5), source_fingerprint="v1")
        snap1 = m.snapshot_of("a")
        calls = []
        run_stage(spark, m, "b", lambda: (calls.append(1), spark.range(3))[1], inputs=["a"])
        assert len(calls) == 1

        # same rows (5), same schema, different values; new fingerprint
        # forces the re-run, the content digest must change the snapshot
        m2 = Manifest.load(root)
        run_stage(
            spark, m2, "a",
            lambda: spark.range(100, 105), source_fingerprint="v2",
        )
        assert m2.snapshot_of("a") != snap1
        run_stage(spark, m2, "b", lambda: (calls.append(1), spark.range(3))[1], inputs=["a"])
        assert len(calls) == 2

    def test_metrics_recorded(self, spark, pages, tmp_path):
        root = str(tmp_path / "pipe_m")
        res = run_ingest(spark, pages, root, EngineConfig(), optimize_grid=None)
        mc = MetricsCollector(root)
        summary = mc.stage_summary(spark)
        stages = {r.stage for r in summary.collect()}
        assert {"scan", "ingest"} <= stages
        row = summary.where(F.col("stage") == "ingest").first()
        assert row.rows > 0 and row.partitions >= 1 and row.rows_per_sec > 0
        # per stage, the per-file rows add up to the manifest's count
        assert {r.stage: r.rows for r in summary.collect()} == {
            s: e["rows"] for s, e in res.manifest.stages.items()
        }

    @pytest.mark.parametrize("bname", ["parquet", "iceberg"])
    def test_stage_summary_per_written_file(self, spark, tmp_path, bname):
        """One metrics row per committed file, partitioned stages
        included, and the stage's rows equal the manifest's."""
        backend = _make_backend(bname)
        root = str(tmp_path / "ck")
        m = Manifest.load(root)
        out = run_stage(
            spark, m, "a",
            lambda: spark.range(0, 30, numPartitions=3).withColumn(
                "k", (F.col("id") % 2).cast("string")),
            partition_by=["k"], backend=backend,
        )
        run_stage(spark, m, "b", lambda: spark.range(7), inputs=["a"], backend=backend)
        summary = {r.stage: r for r in MetricsCollector(root).stage_summary(spark).collect()}
        assert {s: r.rows for s, r in summary.items()} == {"a": 30, "b": 7}
        assert {s: e["rows"] for s, e in m.stages.items()} == {"a": 30, "b": 7}
        assert summary["a"].partitions == len(out.inputFiles())
        assert summary["a"].snapshot_id == m.snapshot_of("a")

    def test_stage_summary_reads_old_spark_written_layout(self, spark, tmp_path):
        """A _metrics directory that also holds a file in the layout the
        metrics table had when Spark wrote it (per spark_partition_id
        aggregate) still reads as one table."""
        import time

        root = str(tmp_path / "ck")
        (
            spark.range(0, 12, numPartitions=3)
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .withColumn("stage", F.lit("old"))
            .withColumn("snapshot_id", F.lit("0123456789abcdef"))
            .withColumn("wall_secs", F.lit(2.0))
            .withColumn("recorded_at", F.lit(int(time.time())))
            .write.mode("append").parquet(os.path.join(root, "_metrics"))
        )
        m = Manifest.load(root)
        run_stage(spark, m, "new", lambda: spark.range(0, 5, numPartitions=1))
        mc = MetricsCollector(root)
        assert mc.load(spark).schema.simpleString() == (
            "struct<partition_id:int,rows:bigint,stage:string,"
            "snapshot_id:string,wall_secs:double,recorded_at:int>"
        )
        summary = {r.stage: r for r in mc.stage_summary(spark).collect()}
        assert summary["old"].rows == 12 and summary["old"].partitions == 3
        assert summary["new"].rows == 5 and summary["new"].partitions == 1
        assert summary["new"].snapshot_id == m.snapshot_of("new")


class TestStreaming:
    def test_stream_node_features(self, spark, tmp_path):
        from ingest_spark.streaming import stream as strm

        src = str(tmp_path / "in")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ck")
        pages_src.pages(spark, n_filler=300).write.parquet(src)

        stream = strm.stream_pages(spark, src)
        assert stream.isStreaming
        feats = strm.stream_node_features(stream, spark)
        q = strm.write_stream(feats, out, ckpt)
        q.awaitTermination(120)

        got = spark.read.parquet(out)
        # batch pipeline over the same input must agree exactly
        from ingest_spark.operators.features import node_features
        from ingest_spark.operators.spatial import with_cells
        batch = with_cells(
            node_features(extract.parse_nodes(spark.read.parquet(src)), spark)
        )
        assert got.count() == batch.count()
        assert (
            got.select("id", "hex_cell").exceptAll(batch.select("id", "hex_cell")).count() == 0
        )

    def test_windowed_event_counts_batch_semantics(self, spark):
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        from ingest_spark.streaming.stream import windowed_event_counts
        agg = windowed_event_counts(events, window="1 hour", watermark="2 hours")
        rows = agg.agg(F.sum("n")).first()[0]
        assert rows == events.count()


class TestStreamTileMaintenance:
    def test_incremental_tiles_match_full_rebuild(self, spark, tmp_path):
        """Two stream drains of feature files: after each drain the
        maintained tiles must equal a full vector_tiles rebuild over
        everything ingested so far."""
        from ingest_spark.operators.tiling import vector_tiles
        from ingest_spark.plans.iceberg import IcebergMetadataBackend
        from ingest_spark.streaming import stream as strm

        tiles = IcebergMetadataBackend()
        src = str(tmp_path / "in")
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ck")
        z = 5
        schema = "id long, minx double, miny double, encoded binary"

        def feats(rows):
            return spark.createDataFrame(
                [(i, float(x), float(y), f"pt:{i}".encode()) for i, x, y in rows],
                schema,
            )

        def tile_map(df):
            return {
                (r.tile_x, r.tile_y): (r.n_features, bytes(r.payload))
                for r in df.collect()
            }

        # drain 1
        feats([(1, 2.35, 48.86), (2, 151.2, -33.9)]).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(src)
        )
        strm.stream_tile_maintenance(stream, store, ckpt, z).awaitTermination(120)
        got = tile_map(tiles.read(spark, f"{store}/tiles"))
        want = tile_map(vector_tiles(spark.read.parquet(f"{store}/features"), z))
        assert got == want and len(got) == 2

        # drain 2: one new tile (Moscow) + one into an existing tile (Paris)
        feats([(3, 37.6, 55.75), (4, 2.36, 48.87)]).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(src)
        )
        strm.stream_tile_maintenance(stream, store, ckpt, z).awaitTermination(120)
        got = tile_map(tiles.read(spark, f"{store}/tiles"))
        all_feats = spark.read.parquet(f"{store}/features")
        assert all_feats.count() == 4
        want = tile_map(vector_tiles(all_feats, z))
        assert got == want and len(got) == 3

        # each batch's commit expires the one before: one snapshot, and
        # no data file under tiles/ outside its live set
        md = tiles.current_metadata(f"{store}/tiles")
        assert len(md["snapshots"]) == 1
        on_disk = glob.glob(f"{store}/tiles/data/**/*.parquet", recursive=True)
        assert sorted(on_disk) == sorted(tiles._live_files(md))


class TestStreamRetryIdempotency:
    def test_replayed_batch_does_not_duplicate_features(self, spark, tmp_path):
        """foreachBatch is at-least-once: replaying batch 0 (fresh
        checkpoint over the same input = the delivery-retry shape) must
        NOT duplicate features or corrupt tiles — the per-batch
        partition dir is overwritten, not appended."""
        from ingest_spark.operators.tiling import vector_tiles
        from ingest_spark.plans.iceberg import IcebergMetadataBackend
        from ingest_spark.streaming import stream as strm

        src = str(tmp_path / "in")
        store = str(tmp_path / "store")
        schema = "id long, minx double, miny double, encoded binary"
        spark.createDataFrame(
            [(1, 2.35, 48.86, b"pt:1"), (2, 151.2, -33.9, b"pt:2")], schema
        ).write.mode("append").parquet(src)

        for attempt in range(2):  # second run replays batch_id 0
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 8).parquet(src)
            )
            strm.stream_tile_maintenance(
                stream, store, str(tmp_path / f"ck{attempt}"), 5
            ).awaitTermination(120)

        feats = spark.read.option("basePath", f"{store}/features").parquet(
            f"{store}/features"
        )
        assert feats.count() == 2  # not 4
        tiles = IcebergMetadataBackend().read(spark, f"{store}/tiles")
        want = {
            (r.tile_x, r.tile_y): (r.n_features, bytes(r.payload))
            for r in vector_tiles(feats.drop("batch_id"), 5).collect()
        }
        got = {
            (r.tile_x, r.tile_y): (r.n_features, bytes(r.payload))
            for r in tiles.collect()
        }
        assert got == want


def _make_backend(name):
    from ingest_spark.plans.checkpoint import ParquetManifestBackend
    from ingest_spark.plans.iceberg import IcebergMetadataBackend

    return {
        "parquet": ParquetManifestBackend,
        "iceberg": IcebergMetadataBackend,
    }[name]()


class TestSnapshotBackendSeam:
    """The storage seam a real catalog (Iceberg) replaces: run_stage's
    resume semantics must hold for ANY SnapshotBackend — proven by
    parametrizing over both implementations (parquet dirs + manifest
    vs the Iceberg v2 metadata layout)."""

    @pytest.mark.parametrize("bname", ["parquet", "iceberg"])
    def test_run_stage_with_explicit_backend(self, spark, tmp_path, bname):
        from ingest_spark.plans.checkpoint import Manifest, run_stage

        backend = _make_backend(bname)
        root = str(tmp_path / "ck_backend")
        m = Manifest.load(root)
        calls = []

        def build():
            calls.append(1)
            return spark.range(0, 7).withColumnRenamed("id", "x")

        df1 = run_stage(spark, m, "s", build, backend=backend)
        assert df1.count() == 7 and len(calls) == 1
        m2 = Manifest.load(root)
        df2 = run_stage(spark, m2, "s", build, backend=backend)
        assert df2.count() == 7 and len(calls) == 1  # skip-complete held

    @pytest.mark.parametrize("bname", ["parquet", "iceberg"])
    def test_upstream_change_invalidates_downstream(self, spark, tmp_path, bname):
        from ingest_spark.plans.checkpoint import Manifest, run_stage

        backend = _make_backend(bname)
        root = str(tmp_path / "ck_up")
        m = Manifest.load(root)
        run_stage(spark, m, "a", lambda: spark.range(5), backend=backend)
        calls = []
        run_stage(
            spark, m, "b", lambda: (calls.append(1), spark.range(3))[1],
            inputs=["a"], backend=backend,
        )
        assert len(calls) == 1
        m.stages["a"]["snapshot_id"] = "changed!"
        m.save()
        m2 = Manifest.load(root)
        run_stage(
            spark, m2, "b", lambda: (calls.append(1), spark.range(3))[1],
            inputs=["a"], backend=backend,
        )
        assert len(calls) == 2

    def test_map_column_change_changes_digest(self, spark, tmp_path):
        """A tags-only (MapType) value change must change the content
        digest — maps drive classification, so skipping them would fail
        to invalidate dependents."""
        snaps = []
        for i, v in enumerate(("v1", "v2")):
            m = Manifest.load(str(tmp_path / f"ck{i}"))
            run_stage(spark, m, "s", lambda v=v: spark.createDataFrame(
                [(1, {"k": v})], "id long, tags map<string,string>"
            ))
            snaps.append(m.snapshot_of("s"))
        assert snaps[0] != snaps[1]

    @pytest.mark.parametrize("bname", ["parquet", "iceberg"])
    def test_run_stage_runs_no_job_beyond_the_commit(
        self, spark, tmp_path, bname, count_jobs
    ):
        """Count, digest, manifest and metrics ride the commit: under
        its own job group, run_stage runs no more Spark jobs than the
        backend's commit of the same frame alone."""
        backend = _make_backend(bname)

        def frame():
            return spark.range(0, 40, numPartitions=4).withColumn(
                "tags", F.create_map(F.lit("k"), F.col("id").cast("string"))
            )

        commit_jobs = count_jobs(f"{tmp_path.name}-commit", lambda: backend.commit(
            frame(), str(tmp_path / "plain")))
        m = Manifest.load(str(tmp_path / "ck"))
        stage_jobs = count_jobs(f"{tmp_path.name}-stage", lambda: run_stage(
            spark, m, "s", frame, backend=backend))
        assert commit_jobs >= 1
        assert stage_jobs <= commit_jobs
        assert m.stages["s"]["rows"] == 40

    def test_pages_fingerprint_sees_content(self, spark):
        """Editing page text in place (keys unchanged) must change the
        source fingerprint, forcing re-extract on resume."""
        from pyspark.sql import functions as F

        from ingest_spark.plans.pipeline import pages_fingerprint
        from ingest_spark.sources import pages as pages_src

        p1 = pages_src.pages(spark, n_filler=50)
        p2 = p1.withColumn(
            "text",
            F.when(F.col("url").endswith("/7"), F.lit("edited")).otherwise(
                F.col("text")
            ),
        )
        assert pages_fingerprint(p1) != pages_fingerprint(p2)


class TestStreamDedup:
    def test_stream_dedup_exact_drops_repeats(self, spark, tmp_path):
        from ingest_spark.streaming.stream import PAGES_SCHEMA, stream_dedup_exact

        src = str(tmp_path / "in")
        out = str(tmp_path / "out")
        ck = str(tmp_path / "ck")
        rows = [
            ("u1", 1_580_000_000, b"<x>", "same text", "en"),
            ("u2", 1_580_000_100, b"<x>", "same text", "en"),  # dup
            ("u3", 1_580_000_200, b"<x>", "other text", "en"),
            ("u4", 1_580_000_300, b"<x>", "same text", "en"),  # dup
        ]
        from pyspark.sql import functions as F
        spark.createDataFrame(
            [(u, t, h, x, l) for u, t, h, x, l in rows],
            "url string, warc_ts long, html binary, text string, lang string",
        ).withColumn("warc_ts", F.timestamp_seconds("warc_ts")) \
            .write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", 8).parquet(src)
        )
        (
            stream_dedup_exact(stream)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ck)
            .outputMode("append").trigger(availableNow=True)
            .start().awaitTermination(120)
        )
        got = sorted(r.text for r in spark.read.parquet(out).collect())
        assert got == ["other text", "same text"]
