"""Incremental changeset application — re-expression of the reference's
dormant changeset suite (tests/ingest.rs:90-400, declared but
`unimplemented!` in the reference, src/bin.rs:229-231).

Case studied by the dormant suite: node 2000 moves and is retagged
amenity.bus_station → highway.bus_stop (tests/ingest.rs:141-146);
only that feature changes.
"""

import pytest
from pyspark.sql import functions as F

from ingest_spark.functions import georender as gr
from ingest_spark.functions import tags as tg
from ingest_spark.operators import extract
from ingest_spark.operators.changeset import Changeset, apply_changeset
from ingest_spark.operators.features import build_features
from ingest_spark.operators.spatial import with_cells
from ingest_spark.plans.pipeline import run_ingest
from ingest_spark.sources import pages as pages_src


@pytest.fixture(scope="module")
def base(spark):
    pages = pages_src.fixture_pages(spark)
    nodes, ways, rels = extract.parse_elements(pages)
    nodes = nodes.cache()
    ways = ways.cache()
    rels = rels.cache()
    feats = build_features(nodes, ways, rels, spark).cache()
    return feats, nodes, ways, rels


def _by_id(df):
    return {r.id: r for r in df.collect()}


class TestChangeset:
    def test_modify_node_updates_one_feature(self, spark, base):
        feats, nodes, ways, rels = base
        upsert = spark.createDataFrame(
            [(2000, 13.04, 37.04, {"highway": "bus_stop"})],
            "id long, lon double, lat double, tags map<string,string>",
        )
        new_feats, n2, w2, r2 = apply_changeset(
            spark, feats, nodes, ways, rels, Changeset(nodes_upsert=upsert)
        )
        before = _by_id(feats)
        after = _by_id(new_feats)
        assert set(after) == set(before)  # same feature ids
        moved = after[2000 * 3 + 0]
        d = gr.decode(bytes(moved.encoded))
        assert d["feature_type"] == tg.get_type("highway.bus_stop")
        assert d["point"] == pytest.approx((13.04, 37.04), abs=1e-5)
        for fid in before:
            if fid != 6000:
                assert bytes(after[fid].encoded) == bytes(before[fid].encoded)

    def test_moving_member_node_recomputes_way_and_relation(self, spark, base):
        feats, nodes, ways, rels = base
        # node 1314 is a vertex of way 555 (triangle park)
        upsert = spark.createDataFrame(
            [(1314, 13.015, 37.02, {})],
            "id long, lon double, lat double, tags map<string,string>",
        )
        new_feats, *_ = apply_changeset(
            spark, feats, nodes, ways, rels, Changeset(nodes_upsert=upsert)
        )
        before = _by_id(feats)
        after = _by_id(new_feats)
        park = gr.decode(bytes(after[1666].encoded))
        assert park["positions"][2:4] == pytest.approx([13.015, 37.02], abs=1e-4)
        # untouched features byte-identical
        assert bytes(after[2102].encoded) == bytes(before[2102].encoded)
        assert bytes(after[3936].encoded) == bytes(before[3936].encoded)

    def test_moving_ring_node_recomputes_relation(self, spark, base):
        feats, nodes, ways, rels = base
        # node 9004 is in inner ring 601 of relation 700
        upsert = spark.createDataFrame(
            [(9004, 5.004, -10.002, {})],
            "id long, lon double, lat double, tags map<string,string>",
        )
        new_feats, *_ = apply_changeset(
            spark, feats, nodes, ways, rels, Changeset(nodes_upsert=upsert)
        )
        after = _by_id(new_feats)
        lake = gr.decode(bytes(after[2102].encoded))
        assert lake["positions"][8:10] == pytest.approx([5.004, -10.002], abs=1e-4)

    def test_delete_node_removes_feature(self, spark, base):
        feats, nodes, ways, rels = base
        new_feats, n2, *_ = apply_changeset(
            spark, feats, nodes, ways, rels, Changeset(node_deletes=[1312])
        )
        after = _by_id(new_feats)
        assert 1312 * 3 not in after
        assert len(after) == 3
        assert n2.where(F.col("id") == 1312).count() == 0

    def test_create_new_tagged_node(self, spark, base):
        feats, nodes, ways, rels = base
        upsert = spark.createDataFrame(
            [(3000, 14.0, 38.0, {"amenity": "pub", "name": "new pub"})],
            "id long, lon double, lat double, tags map<string,string>",
        )
        new_feats, *_ = apply_changeset(
            spark, feats, nodes, ways, rels, Changeset(nodes_upsert=upsert)
        )
        after = _by_id(new_feats)
        assert 3000 * 3 in after
        d = gr.decode(bytes(after[9000].encoded))
        assert d["feature_type"] == tg.get_type("amenity.pub")
        assert d["labels"] == gr.pack_labels("new pub")


def _digest(df):
    return sorted(
        (r.id, bytes(r.encoded), r.hex_cell, r.s2_cell)
        for r in df.select("id", "encoded", "hex_cell", "s2_cell").collect()
    )


class TestIngestTable:
    def test_changeset_on_cell_indexed_table_equals_rebuild(self, spark, tmp_path):
        """The table ``run_ingest`` writes carries hex_cell/s2_cell: the
        recomputed slice gets the same cells a full rebuild would."""
        pages = pages_src.fixture_pages(spark)
        feats = run_ingest(spark, pages, str(tmp_path), optimize_grid=None).features
        assert {"hex_cell", "s2_cell"} <= set(feats.columns)
        nodes, ways, rels = extract.parse_elements(pages)
        cs = Changeset(
            # node 2000 moves and is retagged (tests/ingest.rs:141-146)
            nodes_upsert=spark.createDataFrame(
                [(2000, 13.04, 37.04, {"highway": "bus_stop"})],
                "id long, lon double, lat double, tags map<string,string>",
            ),
            way_deletes=[555],
            # relation 700 loses its inner ring 601
            relations_upsert=spark.createDataFrame(
                [(700, [(600, "outer", "way")],
                  {"type": "multipolygon", "natural": "water", "name": "cool lake"})],
                "id long, members array<struct<ref:long,role:string,mtype:string>>, "
                "tags map<string,string>",
            ),
        )
        merged, n2, w2, r2 = apply_changeset(spark, feats, nodes, ways, rels, cs)
        assert merged.columns == feats.columns
        rebuilt = with_cells(build_features(n2, w2, r2, spark))
        got = _digest(merged)
        assert got == _digest(rebuilt)
        ids = {row[0] for row in got}
        assert 555 * 3 + 1 not in ids and 2000 * 3 in ids and 700 * 3 + 2 in ids
        assert got != _digest(feats)


class TestMegaClosure:
    def test_100k_way_closure_never_touches_driver(self, spark):
        """One moved node referenced by 10^5 ways: the affected closure
        must flow through semi-joins only — any DataFrame.collect /
        toPandas during plan construction fails the test. The merged
        output then recomputes all 10^5 line features."""
        n_ways = 100_000
        nodes = spark.range(1, 3).select(
            F.col("id"),
            (F.col("id") * 1.0).alias("lon"),
            (F.col("id") * 2.0).alias("lat"),
            F.map_from_arrays(F.array(), F.array()).cast("map<string,string>").alias("tags"),
        )
        ways = spark.range(1_000_000, 1_000_000 + n_ways).select(
            F.col("id"),
            F.array(F.lit(1).cast("long"), F.lit(2).cast("long")).alias("refs"),
            F.create_map(F.lit("highway"), F.lit("primary")).alias("tags"),
        )
        rels = spark.createDataFrame(
            [],
            "id long, tags map<string,string>, "
            "members array<struct<mtype:string,ref:long,role:string>>",
        )
        from ingest_spark.operators.features import way_features
        feats = way_features(ways.limit(0), nodes, spark)  # empty, right schema

        moved = spark.createDataFrame(
            [(1, 5.0, 5.0, {})], "id long, lon double, lat double, tags map<string,string>"
        )

        import pyspark.sql.dataframe as _dfmod
        banned = {}
        for name in ("collect", "toPandas", "toLocalIterator"):
            banned[name] = getattr(_dfmod.DataFrame, name)

            def _boom(self, *a, _n=name, **kw):
                raise AssertionError(f"driver materialization via {_n} during apply_changeset")

            setattr(_dfmod.DataFrame, name, _boom)
        try:
            merged, n2, w2, r2 = apply_changeset(
                spark, feats, nodes, ways, rels, Changeset(nodes_upsert=moved)
            )
        finally:
            for name, fn in banned.items():
                setattr(_dfmod.DataFrame, name, fn)

        assert merged.count() == n_ways  # every way recomputed (closure hit)
        assert n2.where(F.col("id") == 1).first().lon == 5.0
        # recomputed geometry reflects the moved node
        one = merged.limit(1).collect()[0]
        d = gr.decode(bytes(one.encoded))
        assert d["positions"][:2] == [5.0, 5.0]


@pytest.mark.parametrize("deletes", [[7, 3, 7], []])
def test_changed_ids_start_no_python_worker(spark, deletes):
    """The id frames are built JVM-side (Arrow, or range(0) when empty):
    a pickled tuple list would run one Python-worker task per partition
    for a handful of ids, three times per apply_changeset."""
    from ingest_spark.operators.changeset import _changed_ids

    upsert = spark.range(5, 6)
    ids = _changed_ids(spark, upsert, deletes)
    lineage = ids._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage
    assert sorted(r.id for r in ids.collect()) == sorted({*deletes, 5})
