"""Partition shape for Python-kernel (pandas/Arrow UDF) stages.

Spark sizes scan splits and AQE coalesces shuffle partitions by bytes:
right for IO, wrong for a CPU-bound Python kernel, which a small input
then runs on one core while the rest idle. ``kernel_partitions`` is the
one place that sizes such a stage, from the plan alone, never running
a job:

- with keys (a grouped kernel): hash-partition by the keys to the
  default parallelism. The exchange is user-specified, so AQE does not
  coalesce it, and the ``groupBy`` on the same keys reuses it;
- a streaming input is left alone;
- a plan without an exchange has a width the planner already knows
  (file splits from the listing, an RDD's partitions); it is spread
  round-robin only when under half the default parallelism, as the
  spread is a full exchange that pays only for a large gain;
- a plan with an exchange is adaptive, its width after coalescing known
  only once it has run, so it is always spread.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

# other leaves whose partition count is fixed when the plan is built
_PLANNED_LEAVES = {"RDDScanExec", "LocalTableScanExec", "RangeExec"}


def _planned_splits(plan) -> int | None:
    """Partitions the physical ``plan`` reads, summed over its leaves,
    or None when only running part of it would tell."""
    total = 0
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "FileSourceScanExec":
            n = leaf.inputRDD().getNumPartitions()
        elif kind in _PLANNED_LEAVES:
            n = leaf.execute().getNumPartitions()
        elif kind == "InMemoryTableScanExec":  # as wide as the plan it caches
            n = _planned_splits(leaf.relation().cachedPlan())
        else:  # AdaptiveSparkPlanExec: its width is known once it has run
            n = None
        if n is None:
            return None
        total += n
    return total


def kernel_partitions(df: DataFrame, *keys: str | Column) -> DataFrame:
    """``df`` partitioned for a Python-kernel stage (module docstring)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if keys:
        return df.repartition(par, *keys)
    if df.isStreaming:
        return df
    splits = _planned_splits(df._jdf.queryExecution().executedPlan())
    if splits is None or splits < max(2, par // 2):
        return df.repartition(par)
    return df
