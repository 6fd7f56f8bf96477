"""ingest_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of peermaps/ingest
(reference at /root/reference, Rust) as an idiomatic Spark engine:

- element assembly via DataFrame joins   (reference: src/denorm.rs)
- georender-pack feature encoding        (reference: src/lib.rs:140-380)
- spatial partitioning / quadtree tiling (reference: src/divide.rs, src/lib.rs:408-602)
- bbox / point-in-polygon / kNN queries  (reference: src/lib.rs:463-467 generalized)
- skew-bounded repartition (hot-cell salting), per-partition lineage +
  row-count metrics, snapshot-checkpoint resume
- web-scale text pipeline ops (dedup, similarity, text analysis) over
  Common-Crawl-style page tables

Architecture is Spark-first: declarative DataFrame plans optimized by
Catalyst; Python only in vectorized pandas/Arrow UDF kernels.
"""

from . import zipgate  # noqa: F401  (stat-gates Python workers' zip re-reads)

__version__ = "0.1.0"
