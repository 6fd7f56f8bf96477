"""Structured Streaming surface.

The reference is batch-only — its `changeset` incremental command is
declared but unimplemented (/root/reference/src/bin.rs:229-231), with a
dormant test suite (tests/ingest.rs:90-400). This module supplies the
streaming capability the reference never finished, Spark-first:

- ``stream_pages`` → ``stream_node_features``: continuous ingest of new
  page files into encoded point features (stream-static broadcast joins
  for tag classification are supported by Structured Streaming; way/
  relation assembly needs multi-stream stateful joins and stays batch —
  the incremental path handles the dominant element type, like the
  reference's changeset fixtures which are node edits,
  tests/ingest.rs:141-146).
- ``windowed_event_counts``: event-time tumbling windows + watermark
  (late data policy) over an events stream.
- ``hot_cell_monitor``: custom stateful operator via
  ``applyInPandasWithState`` — running per-cell feature counts that
  emit a row whenever a cell crosses the hot threshold (the streaming
  analog of the salting trigger).

All sinks default to parquet + checkpointLocation; `availableNow`
triggers make the streams testable in batch-ish runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType, LongType, StructField, StructType, TimestampType,
)

from ..config import DEFAULT, EngineConfig
from ..operators import extract
from ..operators.features import node_features
from ..operators.spatial import with_cells

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def stream_node_features(
    pages: DataFrame, spark: SparkSession, cfg: EngineConfig = DEFAULT
) -> DataFrame:
    nodes = extract.parse_nodes(pages)
    return with_cells(node_features(nodes, spark), cfg)


def write_stream(
    df: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
):
    """Parquet sink with exactly-once checkpointing; availableNow drains
    the backlog then stops (testable), continuous otherwise."""
    w = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling window counts with late-data watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "total_value",
        )
    )


def stream_tile_maintenance(
    feature_stream: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    z: int,
    available_now: bool = True,
):
    """Continuous vector-tile maintenance: each micro-batch of newly
    ingested features appends to a feature store and re-packs ONLY the
    tiles the batch touches (the streaming face of
    tiling.retile_incremental, create-only ingest like
    stream_node_features).

    Layout under ``store_root``: ``features/batch_id=N/`` (one
    hive-partition dir per micro-batch, written with OVERWRITE — a
    foreachBatch retry of batch N rewrites the SAME dir, so the
    at-least-once delivery never duplicates features) and ``tiles/``,
    an Iceberg table (plans/iceberg.py) replaced per batch by one
    commit: a crash at any point leaves the previous snapshot serving.
    Older snapshots are expired right after each commit, so the table
    holds one snapshot and its live files.

    Scale shape per batch: one append write, tile-id semi/anti-joins,
    and re-pack restricted to affected tiles' features — unaffected
    tiles stream through the anti-join by key only.
    """
    import os

    from ..operators.tiling import vector_tiles, with_tile_xyz
    from ..plans.iceberg import IcebergMetadataBackend

    feats_path = os.path.join(store_root, "features")
    tiles_path = os.path.join(store_root, "tiles")
    tiles = IcebergMetadataBackend()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            # idempotent per-batch append: a retried batch overwrites
            # its own partition dir instead of appending twice
            batch_df.write.mode("overwrite").parquet(
                os.path.join(feats_path, f"batch_id={batch_id}")
            )
            all_feats = (
                spark.read.option("basePath", feats_path)
                .parquet(feats_path)
                .drop("batch_id")
            )
            affected = (
                with_tile_xyz(batch_df, z)
                .select("tile_z", "tile_x", "tile_y").distinct()
            )
            affected_feats = (
                with_tile_xyz(all_feats, z)
                .join(affected, ["tile_z", "tile_x", "tile_y"], "left_semi")
                .drop("tile_z", "tile_x", "tile_y")
            )
            new_tiles = vector_tiles(affected_feats, z)
            if tiles.is_complete(tiles_path):
                new_tiles = tiles.read(spark, tiles_path).join(
                    affected, ["tile_z", "tile_x", "tile_y"], "left_anti"
                ).unionByName(new_tiles)
            tiles.commit(new_tiles, tiles_path)
            tiles.expire_snapshots(tiles_path, keep=1)
        finally:
            batch_df.unpersist()

    w = (
        feature_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_dedup_exact(
    pages: DataFrame,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup over a page stream: drop every page whose
    text fingerprint was already seen within the watermark horizon.
    ``dropDuplicatesWithinWatermark`` bounds the dedup state (old
    fingerprints are evicted once the watermark passes them) — the
    streaming face of operators.dedup.dedup_exact, for continuous
    training-data ingestion where an unbounded seen-set would OOM the
    state store."""
    fp = pages.withColumn(
        "_fp", F.md5(F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8"))
    ).withWatermark(ts_col, watermark)
    return fp.dropDuplicatesWithinWatermark(["_fp"]).drop("_fp")


_HOT_STATE_SCHEMA = StructType([StructField("count", LongType(), False)])
_HOT_OUT_SCHEMA = StructType([
    StructField("hex_cell", LongType(), False),
    StructField("count", LongType(), False),
    StructField("crossed_at_count", LongType(), False),
])


def hot_cell_monitor(
    feature_stream: DataFrame, threshold: int = 1000
) -> DataFrame:
    """Custom stateful streaming operator: per-hex-cell running count;
    emits a row each batch in which the cell's cumulative count crosses
    ``threshold`` (applyInPandasWithState)."""

    def _update(key, pdfs, state: GroupState):
        import pandas as pd

        add = 0
        for pdf in pdfs:
            add += len(pdf)
        (prev,) = state.get if state.exists else (0,)
        total = prev + add
        state.update((total,))
        if prev < threshold <= total:
            yield pd.DataFrame(
                {"hex_cell": [key[0]], "count": [total], "crossed_at_count": [threshold]}
            )

    return (
        feature_stream.groupBy("hex_cell")
        .applyInPandasWithState(
            _update,
            outputStructType=_HOT_OUT_SCHEMA,
            stateStructType=_HOT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_iceberg_append(
    df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    backend=None,
    partition_by=None,
    available_now: bool = True,
):
    """Streaming sink committing each micro-batch as ONE Iceberg
    append snapshot (plans/iceberg.py) — the lakehouse face of
    `write_stream`, giving readers snapshot isolation while the
    stream runs and time travel over the batch history.

    Exactly-once under foreachBatch's at-least-once delivery comes
    from the COMMIT, not the checkpoint: the micro-batch id is
    recorded in the snapshot summary (``streaming-batch-id``) and a
    retried batch that finds its id already in the table's snapshot
    history skips — the same idempotence contract Iceberg's real
    streaming writers use. Empty batches commit nothing.

    Scale shape per batch: one staged parquet write + one metadata
    publish (a few KB of JSON/Avro); previous live files carry over
    as EXISTING manifest entries, so commit cost is independent of
    table size until manifest compaction is due.
    """
    from ..plans.iceberg import IcebergMetadataBackend

    backend = backend or IcebergMetadataBackend()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        done = {
            s.get("streaming-batch-id")
            for s in backend.snapshot_summaries(table_path)
        }
        if str(batch_id) in done:
            return  # retried batch: already committed
        backend.append(
            batch_df, table_path, partition_by,
            summary={"streaming-batch-id": str(batch_id)},
        )

    writer = (
        df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
