"""Metric names, units and directions; ``BENCHMARK.json`` lists the same.

The end-to-end metrics are printed by every workload. Three of them
take the workload's own meaning (see README.md):

==============  ==================  ================
metric          ingest_skewed       query_mix
==============  ==================  ================
op_p50_s        ingest_s            query_p50_s
op_aux_s        resume_optimize_s   query_p90_s
ops_per_s       features_per_s      queries_per_s
==============  ==================  ================

ingest_skewed's first ``run_ingest`` of the process (``ingest_cold_s``)
is printed with the other figures and tracked as the per-layer
``pipeline.run_ingest_cold_s``, not gated: one cold sample per process
varied by up to half its median between runs on the host the benchmark
was built on, more than the largest bound allows.
"""

from __future__ import annotations

END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_aux_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
]

# per workload: the workload's own name for each generic metric
WORKLOAD_NAMES = {
    "ingest_skewed": {"op_p50_s": "ingest_s", "op_aux_s": "resume_optimize_s",
                      "ops_per_s": "features_per_s"},
    "query_mix": {"op_p50_s": "query_p50_s", "op_aux_s": "query_p90_s",
                  "ops_per_s": "queries_per_s"},
}
NAMED_UNITS = {"features_per_s": "features/s", "queries_per_s": "req/s"}

SPARK = [
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_failures", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.scheduler_delay_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
]

PER_LAYER = [
    ("extract.parse_all_s", "s", "lower"),
    ("extract.rows_out", "count", "higher"),
    ("extract.py_crossings", "count", "lower"),
    ("assemble.ways_s", "s", "lower"),
    ("assemble.relations_s", "s", "lower"),
    ("assemble.refs_resolved_frac", "ratio", "higher"),
    ("features.node_s", "s", "lower"),
    ("features.way_s", "s", "lower"),
    ("features.relation_s", "s", "lower"),
    ("features.rows_out", "count", "higher"),
    ("features.kept_frac", "ratio", "higher"),
    ("features.py_crossings", "count", "lower"),
    ("spatial.with_cells_s", "s", "lower"),
    ("spatial.bbox_query_s", "s", "lower"),
    ("spatial.bbox_query_indexed_s", "s", "lower"),
    ("spatial.pip_join_s", "s", "lower"),
    ("spatial.knn_join_h3_s", "s", "lower"),
    ("spatial.pip_hits_per_candidate", "ratio", "higher"),
    ("spatial.knn_brute_frac", "ratio", "lower"),
    ("tiling.quadtree_partition_s", "s", "lower"),
    ("tiling.salt_hot_cells_s", "s", "lower"),
    ("tiling.task_rows_max_over_median", "ratio", "lower"),
    ("tiling.with_tile_xyz_s", "s", "lower"),
    ("tiling.vector_tiles_s", "s", "lower"),
    ("tiling.retile_incremental_s", "s", "lower"),
    ("tiling.tiles_repacked_frac", "ratio", "lower"),
    ("changeset.apply_s", "s", "lower"),
    ("changeset.rows_recomputed", "count", "lower"),
    ("changeset.cycle_s", "s", "lower"),
    ("changeset.read_after_write_s", "s", "lower"),
    ("checkpoint.run_stage.extract_s", "s", "lower"),
    ("checkpoint.run_stage.scan_s", "s", "lower"),
    ("checkpoint.run_stage.ingest_s", "s", "lower"),
    ("checkpoint.run_stage.optimize_s", "s", "lower"),
    ("checkpoint.commit_s", "s", "lower"),
    ("checkpoint.digest_s", "s", "lower"),
    ("checkpoint.stages_reused", "count", "higher"),
    ("pipeline.fingerprint_s", "s", "lower"),
    ("pipeline.run_ingest_cold_s", "s", "lower"),
    ("metrics.record_stage_s", "s", "lower"),
    ("metrics.jobs", "count", "lower"),
    ("iceberg.merge_overwrite_s", "s", "lower"),
    ("iceberg.files_rewritten_frac", "ratio", "lower"),
    ("iceberg.commit_s", "s", "lower"),
    ("iceberg.commit_retries", "count", "lower"),
    ("iceberg.read_where_s", "s", "lower"),
    ("iceberg.files_scanned_frac", "ratio", "lower"),
    ("iceberg.metadata_versions", "count", "lower"),
    *SPARK,
    ("trace.overhead_frac", "ratio", "lower"),
    ("host.steal_cores", "cores", "lower"),
]
