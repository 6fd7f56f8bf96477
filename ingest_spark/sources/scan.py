"""Scan-stats table — the ScanTable analog (S1-S3).

The reference's pass 1 builds per-blob (min_id, max_id, count)
intervals per element type (/root/reference/src/par_scan.rs:60-85),
persists them (src/bin.rs:89-91), and later prunes blob rescans by
consulting the intervals (J3/J8, src/denorm.rs:122-150,216-232).

In Spark, parquet row-group min/max stats + partition pruning do this
natively once the table is written clustered by id. This module makes
the stats explicit anyway — as a small queryable DataFrame — because
(a) it is the resume artifact (S3), (b) pruning decisions become
testable, and (c) it doubles as the lineage row-count source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def element_stats(nodes: DataFrame, ways: DataFrame, relations: DataFrame) -> DataFrame:
    """Per-partition id intervals + counts per element type
    (the ScanTable rows: (etype, partition, min_id, max_id, count))."""
    def one(df: DataFrame, etype: str) -> DataFrame:
        return (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.min("id").alias("min_id"),
                F.max("id").alias("max_id"),
                F.count("*").alias("n"),
            )
            .withColumn("etype", F.lit(etype))
        )

    return (
        one(nodes, "node")
        .unionByName(one(ways, "way"))
        .unionByName(one(relations, "relation"))
        .select("etype", "partition_id", "min_id", "max_id", "n")
    )


def prune_partitions(stats: DataFrame, needed_ids: DataFrame, etype: str) -> DataFrame:
    """J3/J8 interval pruning, declaratively: which partitions can hold
    any of ``needed_ids(id)``? A range join the optimizer can reorder;
    ``.distinct()`` is the reference's offset HashSet dedup (A7,
    src/denorm.rs:123-131)."""
    s = stats.where(F.col("etype") == etype)
    return (
        s.join(
            needed_ids,
            (needed_ids["id"] >= s["min_id"]) & (needed_ids["id"] <= s["max_id"]),
            "inner",
        )
        .select("partition_id")
        .distinct()
    )
