"""End-to-end ingest pipeline — the `peermaps-ingest ingest` analog
(SURVEY §3.1) with checkpointed stages and metrics:

  stage scan     → element stats table (ScanTable analog, S1-S3)
  stage ingest   → features (assemble + classify + encode + cells),
                   written as AQE rebalanced them, unsorted
  stage optimize → quadtree buckets + hot-cell salting + tile ids
                   (the --optimize re-partition pass, O1-O4)

Each stage is resumable via the snapshot manifest (plans/checkpoint.py)
and runs one Spark action, its commit; the commit carries the stage's
row count and digest, and the per-file row counts in the lineage
metrics (plans/metrics.py) come from the written files' footers.
Run it via ``spark-submit --py-files pipeline.zip jobs/ingest_job.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT, EngineConfig
from ..operators import extract
from ..operators.features import build_features
from ..operators.spatial import with_cells
from ..operators.tiling import quadtree_partition, salt_hot_cells, with_tile_xyz
from ..sources import scan as scan_src
from .checkpoint import Manifest, run_stage


@dataclass
class PipelineResult:
    manifest: Manifest
    features: DataFrame
    optimized: DataFrame | None


def pages_fingerprint(pages: DataFrame) -> str:
    """Source identity for the resume gate: row count + an
    order-independent hash over (url, warc_ts, text). ``text`` is what
    every parse stage consumes (extract.parse_* read text only), so an
    in-place content edit under unchanged keys re-extracts instead of
    silently resuming; ``html`` is skipped — it deterministically wraps
    text (sources/pages.py invariant) and tripling the scanned bytes
    buys no extra invalidation power. On a real Iceberg table, pass the
    snapshot id to run_ingest instead (no scan at all)."""
    row = pages.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.xxhash64("url", "warc_ts", "text").cast("decimal(38,0)")).alias("_h"),
    ).first()
    return f"{row['_n']}:{row['_h']}"


def run_ingest(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    cfg: EngineConfig = DEFAULT,
    optimize_grid: tuple[int, int] | None = (4, 4),
    ingest_nodes: bool = True,
    ingest_ways: bool = True,
    ingest_relations: bool = True,
    source_fingerprint: str | None = None,
    backend=None,
) -> PipelineResult:
    manifest = Manifest.load(out_root)
    # root stages must know their source: a re-run against a different
    # pages table on the same out_root re-extracts instead of silently
    # returning stale parquet
    src_fp = source_fingerprint or pages_fingerprint(pages)

    # -------- stage: extract (pass 1a) — ONE corpus scan parses every
    # element kind into one etype-partitioned table (extract.parse_all).
    # At 10^12 pages the corpus scan dominates total cost, so pass 1
    # must read it exactly once; downstream joins then consume the
    # parsed store (nodes 3×, ways 2×) via partition-pruned views.
    # This is the reference's two-pass shape: parse once, then join
    # against the parsed store (src/denorm.rs re-scans blobs by offset
    # — our "offsets" are the etype partitions).
    elements = run_stage(
        spark, manifest, "extract",
        lambda: extract.parse_all(pages), inputs=[],
        source_fingerprint=src_fp, partition_by=["etype"],
        backend=backend,
    )
    nodes, ways, relations = extract.element_views(elements)

    # -------- stage: scan (pass 1b — stats/ScanTable analog)
    run_stage(
        spark, manifest, "scan",
        lambda: scan_src.element_stats(nodes, ways, relations),
        inputs=["extract"],
        backend=backend,
    )

    # -------- stage: ingest (pass 2)
    def _ingest() -> DataFrame:
        feats = build_features(
            nodes, ways, relations, spark,
            ingest_nodes=ingest_nodes,
            ingest_ways=ingest_ways,
            ingest_relations=ingest_relations,
        )
        return with_cells(feats, cfg)

    features = run_stage(
        spark, manifest, "ingest", _ingest,
        inputs=["extract", "scan"],
        backend=backend,
    )

    optimized = None
    if optimize_grid is not None:
        gx, gy = optimize_grid

        # -------- stage: optimize (re-partition pass)
        def _optimize() -> DataFrame:
            qt = quadtree_partition(features, cfg, gx=gx, gy=gy)
            salted = salt_hot_cells(qt, "hex_cell", cfg)
            return with_tile_xyz(salted, cfg.tile_zoom)

        optimized = run_stage(
            spark, manifest, "optimize", _optimize, inputs=["ingest"],
            backend=backend,
        )

    return PipelineResult(manifest=manifest, features=features, optimized=optimized)
