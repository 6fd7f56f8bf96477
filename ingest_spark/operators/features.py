"""Feature pipeline: elements → classified, encoded spatial features.

Re-expresses the reference's three producer pipelines
(/root/reference/src/lib.rs:121-178 nodes, 180-271 ways, 273-397
relations) as one declarative plan per element kind, unioned
(the reference's three producers feed one sink channel — here,
``unionByName``).

Stage map (SURVEY §2):
  F1 classify  → two broadcast dictionary joins (kv name, key.other)
  F2 drop place.other / F3 drop empty encodings / F4 degenerate drop
  F5/F6 area rules → pure column predicates (whole-stage codegen)
  E1/E2/E3 encode → Arrow-batched pandas UDFs (varint+earcut kernels)
  A1/A2 bbox → float32 min/max aggregation (done in assemble.py)

Output schema (the eyros (P,V) analog, SURVEY §1.1 row 5):
  (id long, osm_id long, kind tinyint, feature_type int,
   minx float, miny float, maxx float, maxy float, encoded binary)
scalar coordinates ⇒ minx==maxx (Coord::Scalar), intervals otherwise.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

from ..functions import areas as _areas
from ..functions import georender as gr
from ..functions import tags as tg
from ..functions import varint
from ..functions.earcut import earcut as _earcut
from .assemble import assemble_relations, assemble_ways
from .partitioning import kernel_partitions


# ---------------------------------------------------------------- F1/F2

def type_table(spark: SparkSession) -> DataFrame:
    """Broadcast dictionary: feature-type name → numeric id (the
    georender osm_types analog, reference src/lib.rs:61)."""
    ids = tg.type_ids()
    return spark.createDataFrame(
        [(name, fid) for name, fid in ids.items()], "tname string, ftype int"
    )


def _first_priority_key(tags_col: Column) -> Column:
    # built as ONE SQL string, not 27 chained when()/getItem() Column
    # objects: each Column op is a py4j round-trip, and this expression
    # is constructed for every etype — the Column version alone cost
    # ~0.45 s of driver time per pipeline build (round-6 profile)
    name = tags_col._jc.toString()
    cases = " ".join(
        f"WHEN {name}['{k}'] IS NOT NULL THEN '{k}'"
        for k in tg.PRIORITY_KEYS
    )
    return F.expr(f"CASE {cases} END")


def with_feature_type(df: DataFrame, spark: SparkSession) -> DataFrame:
    """F1 via broadcast joins; falls back key.other then place.other.
    Semantics match functions.tags.classify exactly (property-tested)."""
    types = type_table(spark)
    key = _first_priority_key(F.col("tags"))
    df = df.withColumn("_k", key).withColumn(
        "_kv",
        F.when(key.isNotNull(), F.concat(key, F.lit("."), F.element_at("tags", key))),
    )
    t1 = F.broadcast(types.select(F.col("tname").alias("_kv"), F.col("ftype").alias("_ft_kv")))
    t2 = F.broadcast(
        types.select(F.col("tname").alias("_ko"), F.col("ftype").alias("_ft_other"))
    )
    df = (
        df.join(t1, "_kv", "left")
        .withColumn("_ko", F.when(F.col("_k").isNotNull(), F.concat("_k", F.lit(".other"))))
        .join(t2, "_ko", "left")
        .withColumn(
            "feature_type",
            F.coalesce("_ft_kv", "_ft_other", F.lit(tg.place_other_id())),
        )
        .drop("_k", "_kv", "_ko", "_ft_kv", "_ft_other")
    )
    return df


# ---------------------------------------------------------------- F5/F6

def way_is_area_col(tags_col: Column, refs_col: Column) -> Column:
    """F6 as a pure column predicate — same rule table as
    functions.areas.way_is_area (osm-is-area public semantics)."""
    closed = (F.size(refs_col) >= 4) & (
        F.element_at(refs_col, 1) == F.element_at(refs_col, -1)
    )
    area_tag = tags_col.getItem("area")

    def _entry_matches(e):
        cond = e.key.isin(*sorted(_areas.AREA_KEYS))
        for k, vals in _areas._NON_AREA_VALUES.items():
            cond = cond & ~((e.key == k) & e.value.isin(*sorted(vals)))
        return cond

    key_match = F.exists(F.map_entries(tags_col), _entry_matches)
    return closed & F.when(area_tag == "no", F.lit(False)).when(
        area_tag == "yes", F.lit(True)
    ).otherwise(key_match)


def relation_is_area_col(tags_col: Column, n_members_col: Column) -> Column:
    """F5 (reference src/lib.rs:325-326)."""
    return (n_members_col > 0) & tags_col.getItem("type").isin("multipolygon", "boundary")


# fixed-column variants of the predicates above, memoized: Columns are
# immutable unresolved trees, reusable across plans, and the F6 rule
# chain alone costs ~0.1 s of py4j chatter per build (round-7 profile
# — the pipeline re-plans per run and way_is_area_col dominated the
# way branch's planning wall)

@lru_cache(maxsize=None)
def _way_area_col_cached() -> Column:
    return way_is_area_col(F.col("tags"), F.col("refs"))


@lru_cache(maxsize=None)
def _rel_area_col_cached() -> Column:
    return relation_is_area_col(F.col("tags"), F.size("members"))


@lru_cache(maxsize=None)
def _kv_exprs() -> "dict[str, Column]":
    key = _first_priority_key(F.col("tags"))
    return {
        "_k": key,
        "_v": F.element_at("tags", F.coalesce(key, F.lit("\u0000"))),
        "_nm": F.element_at("tags", F.lit("name")),
    }


# ------------------------------------------------- E1-E3 (fused F1/F2)
#
# Classification is fused into the Arrow-batched encode UDFs: the rows
# already cross into Python for varint/earcut encoding, and a dict
# lookup there costs ~1µs/row, while the declarative alternative costs
# two broadcast joins per element branch (6 broadcast builds + extra
# stages per pipeline run — measured multi-second fixed overhead).
# `with_feature_type` above remains the standalone declarative operator
# (same semantics, property-tested equal); the fused path is the
# pipeline default. place.other / encode errors yield null structs
# (F2/F9) dropped by the post-UDF filter (F3).

_FE_STRUCT = StructType([
    StructField("feature_type", IntegerType(), True),
    StructField("encoded", BinaryType(), True),
])


@F.pandas_udf(_FE_STRUCT)
def _encode_point_udf(
    osm_id: pd.Series, lon: pd.Series, lat: pd.Series,
    k: pd.Series, v: pd.Series, name: pd.Series,
) -> pd.DataFrame:
    """Fully vectorized node path (the hot branch — nodes dominate row
    count at scale): classification via Series.map over the type dict,
    payload assembly as one flat numpy byte buffer per Arrow batch
    (vectorized varints via varint.encode_matrix, f32 coords via a
    single view cast), split into per-row bytes at the end. Byte
    parity with gr.encode_point is covered by the golden-ingest tests
    and a property test in test_functions.py."""
    import numpy as np

    po = tg.place_other_id()
    n = len(osm_id)

    # F1 classify: key.value → id, else key.other → id, else place.other
    ft = _classify_series(k, v)
    # F2 (place.other) + F9 (nulls that the scalar path dropped via
    # exceptions: missing id/coords)
    valid = (
        (ft.to_numpy() != po)
        & osm_id.notna().to_numpy()
        & lon.notna().to_numpy()
        & lat.notna().to_numpy()
    )
    idx = np.nonzero(valid)[0]
    outs: list = [None] * n
    if len(idx):
        ft_v = ft.to_numpy()[idx]
        # nullable longs arrive as float64+NaN from Arrow; cast only the
        # valid slice (all non-null there)
        fid_v = osm_id.to_numpy()[idx].astype(np.int64) * 3 + gr.KIND_NODE
        names = name.to_numpy(dtype=object)[idx]
        labels = [gr.pack_labels(nm) for nm in names]
        lab_len = np.fromiter((len(b) for b in labels), dtype=np.int64, count=len(idx))

        ft_mat, ft_len = varint.encode_matrix(ft_v)
        fid_mat, fid_len = varint.encode_matrix(fid_v)
        body_len = 1 + ft_len + fid_len + 8 + lab_len
        bl_mat, bl_len = varint.encode_matrix(body_len)

        total = bl_len + body_len
        starts = np.zeros(len(idx) + 1, dtype=np.int64)
        np.cumsum(total, out=starts[1:])
        buf = np.zeros(starts[-1], dtype=np.uint8)

        def _fill_varint(pos, mat, lens):
            for j in range(int(lens.max())):
                m = lens > j
                buf[pos[m] + j] = mat[m, j]

        pos = starts[:-1].copy()
        _fill_varint(pos, bl_mat, bl_len)
        pos += bl_len
        buf[pos] = gr.GEOM_POINT
        pos += 1
        _fill_varint(pos, ft_mat, ft_len)
        pos += ft_len
        _fill_varint(pos, fid_mat, fid_len)
        pos += fid_len
        coords = np.empty((len(idx), 2), dtype="<f4")
        coords[:, 0] = lon.to_numpy(dtype=np.float64)[idx]
        coords[:, 1] = lat.to_numpy(dtype=np.float64)[idx]
        cb = coords.view(np.uint8).reshape(len(idx), 8)
        for j in range(8):
            buf[pos + j] = cb[:, j]
        pos += 8
        for i, lb in enumerate(labels):  # variable-width tail
            buf[pos[i]:pos[i] + lab_len[i]] = np.frombuffer(lb, dtype=np.uint8)

        for r, i in enumerate(idx):
            outs[i] = buf[starts[r]:starts[r + 1]].tobytes()

    ft_out = ft.astype("Int32").mask(~pd.Series(valid, index=ft.index))
    return pd.DataFrame({"feature_type": ft_out, "encoded": outs})


def _classify_series(k: pd.Series, v: pd.Series) -> "pd.Series":
    """Vectorized F1 over pre-extracted (key, value) pairs — the same
    Series.map path as the node branch; semantics identical to
    tg.classify_kv for every reachable input (a present priority key
    always has a non-null value, so the null cases coincide)."""
    ids = tg.type_ids()
    ft = (k + "." + v.fillna("\x00")).map(ids)
    return ft.fillna((k + ".other").map(ids)).fillna(tg.place_other_id()).astype("int64")


@F.pandas_udf(_FE_STRUCT)
def _encode_way_udf(
    way_id: pd.Series, is_area_s: pd.Series, closed_s: pd.Series,
    xs: pd.Series, ys: pd.Series,
    k: pd.Series, v: pd.Series, name: pd.Series,
) -> pd.DataFrame:
    import numpy as np

    po = tg.place_other_id()
    n_rows = len(way_id)
    # F1/F2 hoisted out of the per-feature loop: classification is one
    # vectorized dict map, and dropped rows (place.other) never reach
    # the earcut/varint encode path at all.
    ft = _classify_series(k, v)
    ft_np = ft.to_numpy()
    keep = ft_np != po
    outs: list = [None] * n_rows
    ok = np.zeros(n_rows, dtype=bool)
    wid = way_id.to_numpy()
    area_np = is_area_s.to_numpy()
    closed_np = closed_s.to_numpy()
    names = name.to_numpy(dtype=object)
    for i in np.nonzero(keep)[0]:
        try:
            fid = gr.feature_id(int(wid[i]), gr.KIND_WAY)
            labels = gr.pack_labels(names[i])
            x_arr = xs.iloc[i]
            y_arr = ys.iloc[i]
            n = len(x_arr)
            pos = [0.0] * (2 * n)
            pos[0::2] = [float(c) for c in x_arr]
            pos[1::2] = [float(c) for c in y_arr]
            if area_np[i]:
                if closed_np[i] and n >= 2:
                    pos = pos[:-2]  # drop closing duplicate ref's point
                cells = _earcut(pos, [], 2)
                outs[i] = gr.encode_area(fid, int(ft_np[i]), pos, cells, labels)
            else:
                outs[i] = gr.encode_line(fid, int(ft_np[i]), pos, labels)
            ok[i] = True
        except Exception:  # F9
            pass
    ft_out = ft.astype("Int32").mask(~pd.Series(ok, index=ft.index))
    return pd.DataFrame({"feature_type": ft_out, "encoded": outs})


@F.pandas_udf(_FE_STRUCT)
def _encode_relation_udf(
    rel_id: pd.Series,
    xs: pd.Series,
    ys: pd.Series,
    ring_lens: pd.Series,
    ring_roles: pd.Series,
    ring_closed: pd.Series,
    k: pd.Series, v: pd.Series, name: pd.Series,
) -> pd.DataFrame:
    import numpy as np

    po = tg.place_other_id()
    n_rows = len(rel_id)
    ft_s = _classify_series(k, v)
    ft_np = ft_s.to_numpy()
    keep = ft_np != po
    outs: list = [None] * n_rows
    ok = np.zeros(n_rows, dtype=bool)
    rid = rel_id.to_numpy()
    names = name.to_numpy(dtype=object)
    for i in np.nonzero(keep)[0]:
        try:
            x_arr = xs.iloc[i]
            y_arr = ys.iloc[i]
            lens = ring_lens.iloc[i]
            roles = ring_roles.iloc[i]
            closed = ring_closed.iloc[i]
            fid = gr.feature_id(int(rid[i]), gr.KIND_RELATION)
            labels = gr.pack_labels(names[i])
            pos: list[float] = []
            holes: list[int] = []
            off = 0
            for ln, role, cl in zip(lens, roles, closed):
                ring_x = x_arr[off : off + ln]
                ring_y = y_arr[off : off + ln]
                off += ln
                if cl and ln >= 2:
                    ring_x = ring_x[:-1]
                    ring_y = ring_y[:-1]
                if len(ring_x) == 0:
                    continue
                start = len(pos) // 2
                if role == "inner" and start > 0:
                    holes.append(start)
                for vx, vy in zip(ring_x, ring_y):
                    pos.append(float(vx))
                    pos.append(float(vy))
            cells = _earcut(pos, holes, 2)
            outs[i] = gr.encode_area(fid, int(ft_np[i]), pos, cells, labels)
            ok[i] = True
        except Exception:  # F9
            pass
    ft_out = ft_s.astype("Int32").mask(~pd.Series(ok, index=ft_s.index))
    return pd.DataFrame({"feature_type": ft_out, "encoded": outs})


# Each branch filters on the UDF's own output (isnotnull(_fe.encoded),
# the F2/F3/F9 drop). The optimizer pushes that filter below the
# projection by duplicating the UDF call, so every row paid the whole
# encode kernel twice (plan: two ArrowEvalPython per branch). Marking
# the UDFs non-deterministic forbids the duplication and yields a
# single evaluation below the filter (guide §4.4); the kernels are
# value-deterministic, so results are unchanged.
_encode_point_udf = _encode_point_udf.asNondeterministic()
_encode_way_udf = _encode_way_udf.asNondeterministic()
_encode_relation_udf = _encode_relation_udf.asNondeterministic()


# ------------------------------------------------------------- pipelines

FEATURE_COLS = [
    "id", "osm_id", "kind", "feature_type",
    "minx", "miny", "maxx", "maxy", "encoded",
]


def _kv_cols(df: DataFrame) -> DataFrame:
    """JVM-side half of F1: first priority key + its value + name, so
    the Arrow boundary carries 3 small strings instead of the tags map
    (map→dict materialization measured as the dominant UDF cost)."""
    # ONE projection (withColumns), not a withColumn chain: every
    # chained withColumn re-analyzes the whole plan, and at small SF
    # the pipeline is driver-planning-bound (round-5 profile: ~2 s of
    # the 4 s wall was inter-job Catalyst time). The expression dict
    # is memoized (unaliased Columns — no exprId concerns) and shared
    # by all three branches.
    return df.withColumns(_kv_exprs())


def node_features(nodes: DataFrame, spark: SparkSession) -> DataFrame:
    """Node path (reference src/lib.rs:121-178): fused classify/encode →
    drop place.other + errors → Scalar geometry (minx==maxx)."""
    x = F.col("lon").cast("float")
    y = F.col("lat").cast("float")
    # the node branch feeds the encode kernel straight off the store
    # scan, which at small SF has fewer byte-sized splits than cores
    df = _kv_cols(kernel_partitions(nodes)).withColumn(
        "_fe", _encode_point_udf("id", "lon", "lat", "_k", "_v", "_nm")
    )
    return (
        df.where(F.col("_fe.encoded").isNotNull())  # F2/F3/F9
        .select(
            (F.col("id") * 3 + gr.KIND_NODE).alias("id"),
            F.col("id").alias("osm_id"),
            F.lit(gr.KIND_NODE).cast("tinyint").alias("kind"),
            F.col("_fe.feature_type").alias("feature_type"),
            x.alias("minx"), y.alias("miny"), x.alias("maxx"), y.alias("maxy"),
            F.col("_fe.encoded").alias("encoded"),
        )
    )


def way_features(ways: DataFrame, nodes: DataFrame, spark: SparkSession) -> DataFrame:
    """Way path (reference src/lib.rs:180-271): assemble → F4 → fused
    classify/area-rule/encode → Interval geometry."""
    asm = assemble_ways(ways, nodes)
    df = asm.where(F.col("n_nodes") >= 2)  # F4 (src/lib.rs:229)
    df = _kv_cols(df).withColumn(
        "_fe",
        _encode_way_udf(
            # closure from the resolved sequence (assemble_ways), NOT
            # raw refs: an unresolved closing ref must not strip a
            # genuine last vertex before earcut
            "way_id", _way_area_col_cached(),
            "resolved_closed",
            "xs", "ys", "_k", "_v", "_nm",
        ),
    )
    return (
        df.where(F.col("_fe.encoded").isNotNull())
        .select(
            (F.col("way_id") * 3 + gr.KIND_WAY).alias("id"),
            F.col("way_id").alias("osm_id"),
            F.lit(gr.KIND_WAY).cast("tinyint").alias("kind"),
            F.col("_fe.feature_type").alias("feature_type"),
            "minx", "miny", "maxx", "maxy",
            F.col("_fe.encoded").alias("encoded"),
        )
    )


def relation_features(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame, spark: SparkSession
) -> DataFrame:
    """Relation path (reference src/lib.rs:273-397): F5 area gate + F7
    member filter → two-hop assembly → F4 → fused classify/encode."""
    rels = relations.where(_rel_area_col_cached())
    asm = assemble_relations(rels, ways, nodes)
    df = asm.where(F.col("n_nodes") >= 2)  # F4 (src/lib.rs:356)
    df = _kv_cols(df).withColumn(
        "_fe",
        _encode_relation_udf(
            "rel_id", "xs", "ys", "ring_lens", "ring_roles", "ring_closed",
            "_k", "_v", "_nm",
        ),
    )
    return (
        df.where(F.col("_fe.encoded").isNotNull())
        .select(
            (F.col("rel_id") * 3 + gr.KIND_RELATION).alias("id"),
            F.col("rel_id").alias("osm_id"),
            F.lit(gr.KIND_RELATION).cast("tinyint").alias("kind"),
            F.col("_fe.feature_type").alias("feature_type"),
            "minx", "miny", "maxx", "maxy",
            F.col("_fe.encoded").alias("encoded"),
        )
    )


def build_features(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    spark: SparkSession,
    ingest_nodes: bool = True,
    ingest_ways: bool = True,
    ingest_relations: bool = True,
) -> DataFrame:
    """Union of the three producer pipelines (the single-sink analog,
    reference src/lib.rs:92-119); F8 skip switches mirror
    --no-ingest-node/way/relation (src/lib.rs:38-40).

    The three branches are PLANNED on concurrent threads: PySpark
    analyzes eagerly per transformation, so each branch pays a chain
    of JVM analysis round-trips — independent branches overlap them
    (SparkSession plan construction is thread-safe; round-6 profile:
    branch planning was ~1 s of driver wall per pipeline build, the
    dominant cost of small-SF ingest after round 5's withColumns
    consolidation)."""
    from concurrent.futures import ThreadPoolExecutor

    builders = []
    if ingest_nodes:
        builders.append(lambda: node_features(nodes, spark))
    if ingest_ways:
        builders.append(lambda: way_features(ways, nodes, spark))
    if ingest_relations:
        builders.append(lambda: relation_features(relations, ways, nodes, spark))
    if not builders:
        raise ValueError("all element kinds disabled")
    if len(builders) == 1:
        parts = [builders[0]()]
    else:
        with ThreadPoolExecutor(max_workers=len(builders)) as pool:
            parts = list(pool.map(lambda b: b(), builders))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return rebalance_encoded(out)


def rebalance_encoded(features: DataFrame) -> DataFrame:
    """Encoded features behind an AQE rebalance exchange.

    Without the exchange, Catalyst pushes a downstream projection
    (``with_cells``) through the feature union into every branch, and
    each branch task then chains two Python evaluation nodes, encode
    then cells: two Python workers per task slot. The rebalance ends
    the encode stages, so the cells kernel runs once over the union in
    a stage of its own. AQE sizes its partitions from the encoded bytes
    (``RebalancePartitions``: coalesces small ones, splits skewed
    ones), which also sizes the files of a table written from it. The
    rows are not sorted."""
    return features.hint("rebalance")
