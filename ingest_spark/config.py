"""Engine configuration.

The analog of the reference's ``IngestOptions`` + eyros ``Setup``
tuning surface (/root/reference/src/lib.rs:36-55, src/bin.rs:240-285),
re-expressed for the Spark engine. Batch/channel sizes disappear
(partitions bound memory); what remains is spatial/layout tuning.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # spatial indexing (north_rule: H3 res-8 + S2 level-12)
    hex_res: int = 8
    s2_level: int = 12

    # tiling / skew bounds — analog of the reference's quadtree bucket
    # bound `divide(50_000, …)` src/lib.rs:526 and depth guard
    # src/divide.rs:10
    bucket_max_records: int = 50_000
    divide_depth_limit: int = 30
    # max rows a single Python worker may materialize as one pandas
    # group during the quadtree optimize pass; grid cells over this are
    # pre-split DISTRIBUTEDLY (grid-assign rounds = the first quadtree
    # levels) before any per-group divide runs, so worker memory is
    # bounded regardless of data volume or grid skew
    divide_pandas_budget: int = 2_000_000

    # tile pyramid
    tile_zoom: int = 12

    # kNN: no longer read (knn_join routes each query from per-cell
    # point counts and has no ring cap); kept because the contract's
    # knn_ring_expansion row passes it
    knn_max_ring: int = 4

    # dedup
    minhash_perms: int = 64
    minhash_bands: int = 16
    shingle_size: int = 5


DEFAULT = EngineConfig()
