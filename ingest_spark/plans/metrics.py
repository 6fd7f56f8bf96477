"""Per-stage lineage + per-file row-count metrics (north_rule).

The reference's progress subsystem (/root/reference/src/progress.rs)
counts rows per stage inline, as the elements flow past, and never
makes a second pass to learn what it wrote. Re-expressed for Spark:

- per-file row counts read from the parquet footers of a stage's
  committed files (A5: the element_counter / scan-count analog,
  src/lib.rs:130,143, progress.rs:31-35). One row of the table is one
  written file, i.e. the output of one write task; recording it runs
  no Spark job;
- per-stage wall time + derived throughput (A6 end-state rate);
- lineage: stage name + snapshot id recorded per row.

Metrics are appended as parquet files under ``{root}/_metrics`` —
queryable like any other table (the observability analog of eyros'
monitor output). Its columns and types are the ones the earlier
Spark-written layout had, so old and new files read together.
"""

from __future__ import annotations

import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


class MetricsCollector:
    def __init__(self, root: str):
        self.path = os.path.join(root, "_metrics")

    def record_stage(
        self, stage: str, df: DataFrame, snapshot_id: str, wall_secs: float
    ) -> None:
        """Append one row per file behind the committed ``df``: its
        write task's partition id (from the ``part-NNNNN`` file name)
        and its row count (from the footer)."""
        import pyarrow as pa
        import pyarrow.fs as pafs
        import pyarrow.parquet as pq

        parts, rows = [], []
        for i, uri in enumerate(sorted(df.inputFiles())):
            fs, path = pafs.FileSystem.from_uri(uri)
            m = re.match(r"part-(\d+)", os.path.basename(path))
            parts.append(int(m.group(1)) if m else i)
            rows.append(pq.read_metadata(path, filesystem=fs).num_rows)
        n = len(rows)
        table = pa.table({
            "partition_id": pa.array(parts, pa.int32()),
            "rows": pa.array(rows, pa.int64()),
            "stage": pa.array([stage] * n, pa.string()),
            "snapshot_id": pa.array([snapshot_id] * n, pa.string()),
            "wall_secs": pa.array([float(wall_secs)] * n, pa.float64()),
            "recorded_at": pa.array([int(time.time())] * n, pa.int32()),
        })
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "_" + name)  # readers skip "_" files
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.path, name))

    def load(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def stage_summary(self, spark: SparkSession) -> DataFrame:
        """stage → rows, files (``partitions``), wall, rows/sec (A6
        end-state rate: count/duration, progress.rs:104-116)."""
        m = self.load(spark)
        return (
            m.groupBy("stage", "snapshot_id")
            .agg(
                F.sum("rows").alias("rows"),
                F.count("*").alias("partitions"),
                F.max("rows").alias("max_partition_rows"),
                F.first("wall_secs").alias("wall_secs"),
            )
            .withColumn("rows_per_sec", F.col("rows") / F.col("wall_secs"))
        )
