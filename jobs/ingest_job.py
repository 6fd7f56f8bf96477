#!/usr/bin/env python3
"""spark-submit entrypoint for the ingest pipeline.

    cd /root/repo && zip -qr /tmp/pipeline.zip ingest_spark
    spark-submit --py-files /tmp/pipeline.zip jobs/ingest_job.py \
        --pages 100000 --out /tmp/ingest_out --grid 4,4

Mirrors the reference CLI surface (/root/reference/src/bin.rs):
  ingest            → full scan+ingest+optimize (default)
  --no-ingest-node / --no-ingest-way / --no-ingest-relation (F8)
  --grid X,Y        → optimize grid (the --optimize=X,Y analog)
  resume: re-running with the same --out skips completed stages
  (the ingest-from-scan analog).
"""

from __future__ import annotations

import argparse
import sys


def main() -> None:
    ap = argparse.ArgumentParser(description="ingest_spark pipeline")
    ap.add_argument("--pages", type=int, default=100_000, help="n synthetic filler pages")
    ap.add_argument("--pages-path", default=None, help="read pages parquet instead of synthesizing")
    ap.add_argument("--out", required=True, help="output root (manifest + stage dirs)")
    ap.add_argument("--grid", default="4,4", help="optimize grid X,Y ('' disables optimize)")
    ap.add_argument("--no-ingest-node", action="store_true")
    ap.add_argument("--no-ingest-way", action="store_true")
    ap.add_argument("--no-ingest-relation", action="store_true")
    ap.add_argument(
        "--backend", choices=("parquet", "iceberg"),
        default="parquet",
        help="stage snapshot store: parquet dirs + manifest, or the "
             "Iceberg v2 metadata layout (plans/iceberg.py — Avro "
             "manifests, optimistic version commits, time travel)",
    )
    args = ap.parse_args()

    from ingest_spark.plans.metrics import MetricsCollector
    from ingest_spark.plans.pipeline import run_ingest
    from ingest_spark.session import get_spark
    from ingest_spark.sources import pages as pages_src

    spark = get_spark(app_name="ingest_spark_job")
    if args.pages_path:
        pages = spark.read.parquet(args.pages_path)
    else:
        pages = pages_src.pages(spark, n_filler=args.pages)

    grid = None
    if args.grid:
        gx, gy = (int(v) for v in args.grid.split(","))
        grid = (gx, gy)

    backend = None
    if args.backend == "iceberg":
        from ingest_spark.plans.iceberg import IcebergMetadataBackend
        backend = IcebergMetadataBackend()

    result = run_ingest(
        spark, pages, args.out,
        optimize_grid=grid,
        ingest_nodes=not args.no_ingest_node,
        ingest_ways=not args.no_ingest_way,
        ingest_relations=not args.no_ingest_relation,
        backend=backend,
    )
    print("stages:")
    for stage, meta in result.manifest.stages.items():
        print(f"  {stage}: rows={meta['rows']} snapshot={meta['snapshot_id']} wall={meta['wall_secs']}s")
    MetricsCollector(args.out).stage_summary(spark).show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    import os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
