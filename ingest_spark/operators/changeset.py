"""Incremental updates (changesets) — the capability the reference
declares but never implemented (`unimplemented!` at
/root/reference/src/bin.rs:229-231; dormant golden suite at
tests/ingest.rs:90-400).

Semantics follow that dormant suite: a changeset is a set of element
creates / modifies / deletes; applying it must update exactly the
affected features (e.g. moving node 2000 and retagging it
amenity.bus_station → highway.bus_stop yields one updated point
feature, tests/ingest.rs:141-146), leaving everything else untouched.

Spark-first shape — an Iceberg ``MERGE INTO`` keyed on feature id:

1. merge element deltas into the element tables (anti-join + union);
2. compute the *affected closure*: changed elements, ways referencing
   changed nodes, relations referencing changed ways — **entirely as
   DataFrame semi-joins**: no id set ever materializes in the driver,
   so a mega-way closure or a bulk changeset with millions of touched
   elements streams through the shuffle layer like any other join;
3. recompute features for the affected subset only (the full element
   tables feed the joins, but the build is semi-join-pruned to the
   closure — at 10^12 scale this touches a sliver of the data);
4. merge: old features ∖ affected ∪ recomputed. On a table that
   carries cell columns (the ingest table ``run_ingest`` writes), the
   recomputed slice gets them from ``with_cells`` with the same
   ``EngineConfig``, behind the rebalance ``build_features`` ends in
   (``features.rebalance_encoded``).

Join sizing: the closure id frames are usually tiny next to the element
tables, so AQE picks broadcast sides at runtime; no broadcast() hints
are forced because a bulk changeset can make any of them large.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT, EngineConfig


@dataclass
class Changeset:
    """Element deltas. Modify = delete + create (same id)."""
    nodes_upsert: DataFrame | None = None       # nodes schema
    ways_upsert: DataFrame | None = None        # ways schema
    relations_upsert: DataFrame | None = None   # relations schema
    node_deletes: list[int] = field(default_factory=list)
    way_deletes: list[int] = field(default_factory=list)
    relation_deletes: list[int] = field(default_factory=list)


def _ids_df(spark: SparkSession, ids: list[int]) -> DataFrame:
    # Arrow-path createDataFrame (see pages.fixture_pages): a tuple list
    # ships pickled rows through one Python-worker task per partition.
    # An empty pandas frame falls back to that path; range(0) has none.
    if not ids:
        return spark.range(0)
    return spark.createDataFrame(
        pd.DataFrame({"id": sorted({int(i) for i in ids})}), "id long"
    )


def _changed_ids(
    spark: SparkSession, upsert: DataFrame | None, deletes: list[int]
) -> DataFrame:
    """Deletes ∪ upsert ids, as a (id long) DataFrame — never collected."""
    out = _ids_df(spark, deletes)
    if upsert is not None:
        out = out.unionByName(upsert.select("id")).distinct()
    return out


def _merge_elements(
    base: DataFrame, upsert: DataFrame | None, gone: DataFrame
) -> DataFrame:
    out = base.join(gone, "id", "left_anti")
    if upsert is not None:
        out = out.unionByName(upsert)
    return out


def apply_changeset(
    spark: SparkSession,
    features: DataFrame,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    cs: Changeset,
    cfg: EngineConfig = DEFAULT,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Returns (features', nodes', ways', relations')."""
    changed_nodes = _changed_ids(spark, cs.nodes_upsert, cs.node_deletes)
    changed_ways_direct = _changed_ids(spark, cs.ways_upsert, cs.way_deletes)
    changed_rels_direct = _changed_ids(spark, cs.relations_upsert, cs.relation_deletes)

    nodes2 = _merge_elements(nodes, cs.nodes_upsert, changed_nodes)
    ways2 = _merge_elements(ways, cs.ways_upsert, changed_ways_direct)
    rels2 = _merge_elements(relations, cs.relations_upsert, changed_rels_direct)

    # ---- affected closure, all DataFrame semi-joins
    # ways (old ∪ new definitions) referencing a changed node
    both_ways = ways.unionByName(ways2)
    ways_via_nodes = (
        both_ways.select("id", F.explode("refs").alias("node_id"))
        .join(changed_nodes.select(F.col("id").alias("node_id")), "node_id", "left_semi")
        .select("id")
    )
    changed_ways = changed_ways_direct.unionByName(ways_via_nodes).distinct()

    # relations (old ∪ new) with a changed way member
    both_rels = relations.unionByName(rels2)
    members = (
        both_rels.select("id", F.explode("members").alias("m"))
        .where(F.col("m.mtype") == "way")
        .select("id", F.col("m.ref").alias("way_id"))
    )
    rels_via_ways = members.join(
        changed_ways.select(F.col("id").alias("way_id")), "way_id", "left_semi"
    ).select("id")
    changed_rels = changed_rels_direct.unionByName(rels_via_ways).distinct()

    # ---- recompute the affected slice only (semi-join pruning)
    from .features import node_features, rebalance_encoded, relation_features, way_features
    from .spatial import with_cells

    recomputed = node_features(nodes2.join(changed_nodes, "id", "left_semi"), spark)
    # pruned ways join against the FULL node table (unchanged member
    # nodes must resolve) — the join prunes the node scan for us
    recomputed = recomputed.unionByName(
        way_features(ways2.join(changed_ways, "id", "left_semi"), nodes2, spark)
    )
    recomputed = recomputed.unionByName(
        relation_features(rels2.join(changed_rels, "id", "left_semi"), ways2, nodes2, spark)
    )
    if "hex_cell" in features.columns:
        recomputed = with_cells(rebalance_encoded(recomputed), cfg)

    # MERGE: drop every affected feature id (deleted ones stay dropped),
    # append the recomputed slice
    affected_fids = (
        changed_nodes.select((F.col("id") * 3 + 0).alias("id"))
        .unionByName(changed_ways.select((F.col("id") * 3 + 1).alias("id")))
        .unionByName(changed_rels.select((F.col("id") * 3 + 2).alias("id")))
    )
    merged = features.join(affected_fids, "id", "left_anti").unionByName(
        recomputed.select(*features.columns)
    )
    return merged, nodes2, ways2, rels2
