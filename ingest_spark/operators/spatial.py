"""Spatial operators: cell assignment, bbox query, point-in-polygon
broadcast join, cell-local kNN with sorted ring expansion.

These generalize the reference's only spatial read path — the eyros
bbox-intersection query (S11, /root/reference/src/lib.rs:463-467,
tests/ingest.rs:29-34) — to the north_rule's operator set. Design:

- cell assignment: batched pandas UDFs over the numpy kernels in
  functions/cells.py (hex res-8 + S2 level-12), assigned on the
  feature centroid; one cell per feature (no multi-assign → no dedup
  problem; cf. the reference's J9 skip-map workaround for duplicates,
  src/lib.rs:469-515).
- bbox query: pure column predicate (maxx>=x0 AND minx<=x1 AND …),
  pushed into the parquet scan. Its min-max stats prune row groups
  only on a table clustered by position; the ingest table is
  rebalanced, not sorted (features.rebalance_encoded), so a query on it
  reads most row groups.
- PIP: broadcast the (small) polygon table, bbox-prefilter with a
  cheap non-equi condition (BroadcastNestedLoopJoin), then exact
  even-odd ray casting in a vectorized numpy kernel. At 100 TB the
  fact side streams; the dim side is a broadcast hash table — no
  shuffle of the big side.
- kNN: one plan, ``knn_join`` (``knn_join_h3`` is the same function),
  a provably-terminal TWO-PASS plan with no driver loop. Its ring join
  keys on the planar hex grid it computes from (lon, lat), never on a
  stored cell column, so it is exact at any latitude. Pass 1 seeds a
  per-query ring radius from the query cell's local point density,
  gathers k_ring(cell, R0) candidates (dimension-side explode — the
  big point table shuffles once on cell id), and takes each query's
  kth-candidate distance.
  Pass 2 re-gathers with the ring radius R2 implied by that kth
  distance via the geometric guarantee (any point outside rings 0..R
  is at distance > edge·(1.5·(R+1) − 2)); because pass 1's kth over a
  candidate SUBSET is ≥ the true kth, rings 0..R2 provably contain the
  true top-k — no recheck round, no stragglers. Queries with < k
  pass-1 candidates, or whose pass-2 ring would pass
  ``cfg.knn_max_ring``, take an exact broadcast brute-force pass.
  EXACT kNN, verified against the cross-join oracle knn_brute_force.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

from ..config import DEFAULT, EngineConfig
from ..functions import cells as cell_fn


# ------------------------------------------------------------ indexing

def hex_cell_col(lon, lat, res: int):
    """JVM-side twin of functions.cells.hex_cell_id — the hex assignment
    as pure Catalyst expressions (whole-stage codegen, no Python worker
    in the hot path). Bit-exact vs the numpy kernel: identical IEEE op
    order, and Math.rint == np.rint (both round-half-even); no
    transcendentals involved (property-tested equal in test_cells.py).
    The planar grid is an internal join key only: knn_join's ring math
    and point_in_polygon_grid_join's cover key on it; no public cell id
    (``hex_cell``) comes from it."""
    import math as _m

    size = F.lit(cell_fn.hex_edge_deg(res))
    qf = (F.lit(_m.sqrt(3.0) / 3.0) * lon - lat / F.lit(3.0)) / size
    rf = (F.lit(2.0 / 3.0) * lat) / size
    sf = (-qf) - rf
    rint = lambda c: F.call_function("rint", c)  # noqa: E731 (half-even)
    q0, r0, s0 = rint(qf), rint(rf), rint(sf)
    dq, dr, ds = F.abs(q0 - qf), F.abs(r0 - rf), F.abs(s0 - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q = F.when(fix_q, (-r0) - s0).otherwise(q0).cast("long")
    r = F.when(fix_r, (-q0) - s0).otherwise(r0).cast("long")
    off = F.lit(int(cell_fn._AXIAL_OFFSET)).cast("long")
    return (
        F.shiftleft(F.lit(int(res)).cast("long"), 56)
        .bitwiseOR(F.shiftleft(q + off, 28))
        .bitwiseOR(r + off)
    )


def _hex_s2_udf(res: int, level: int):
    """Both cell kernels in ONE Arrow crossing (guide §4): the H3 and
    S2 assignments read the same (lon, lat) batch, so splitting them
    into two pandas UDFs paid a second Python stage + a second
    serialization of the coordinates per pipeline run. Values are
    identical to the separate kernels (same numpy functions)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("hex_cell", LongType()),
        StructField("s2_cell", LongType()),
    ])

    @F.pandas_udf(schema)
    def _u(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        ln = lon.to_numpy()
        lt = lat.to_numpy()
        return pd.DataFrame({
            "hex_cell": cell_fn.hex_cell(ln, lt, res),
            "s2_cell": cell_fn.s2_cell_id(ln, lt, level),
        })
    return _u


def with_cells(
    features: DataFrame,
    cfg: EngineConfig = DEFAULT,
    lon_col: str = None,
    lat_col: str = None,
) -> DataFrame:
    """Add hex_cell (res cfg.hex_res) + s2_cell (level cfg.s2_level).

    Default anchor point is the feature centroid ((minx+maxx)/2, …);
    scalar features (points) anchor at themselves.
    """
    if lon_col and lat_col:
        lon = F.col(lon_col).cast("double")
        lat = F.col(lat_col).cast("double")
    else:
        lon = ((F.col("minx") + F.col("maxx")) / 2).cast("double")
        lat = ((F.col("miny") + F.col("maxy")) / 2).cast("double")
    # single projection: inline the anchor expressions into both cell
    # kernels instead of a 4-deep withColumn chain (each link costs a
    # full Catalyst re-analysis — measurable at small SF where the
    # pipeline is planning-bound); ONE fused pandas UDF for both kernels
    st = _hex_s2_udf(cfg.hex_res, cfg.s2_level)(lon, lat)
    cols = features.columns
    return features.withColumn("_hs", st).select(
        *cols,
        F.col("_hs.hex_cell").alias("hex_cell"),
        F.col("_hs.s2_cell").alias("s2_cell"),
    )


# ----------------------------------------------------------- S11 query

def bbox_query(features: DataFrame, x0: float, y0: float, x1: float, y1: float) -> DataFrame:
    """Interval-intersection bbox query (eyros db.query analog, S11)."""
    return features.where(
        (F.col("maxx") >= x0) & (F.col("minx") <= x1)
        & (F.col("maxy") >= y0) & (F.col("miny") <= y1)
    )


# ------------------------------------------------------------------ PIP

_RAY_CAST_CHUNK = 4096


def _ray_cast(px: np.ndarray, py: np.ndarray, xs, ys) -> np.ndarray:
    """Fully vectorized even-odd ray casting: for each row i, is point
    (px[i], py[i]) inside ring (xs[i], ys[i])? Half-open edge rule
    ((yi > p) != (yj > p)) — deterministic on shared boundaries.

    Rings are padded to the chunk's max length by repeating the last
    vertex; every padded edge is degenerate (equal endpoints → the
    crossing condition is False), so padding never changes parity.
    One numpy broadcast per chunk — no per-row Python loop.
    """
    n = len(px)
    out = np.zeros(n, dtype=bool)
    for lo in range(0, n, _RAY_CAST_CHUNK):
        hi = min(lo + _RAY_CAST_CHUNK, n)
        rings_x = [np.asarray(xs[i], dtype=np.float64) for i in range(lo, hi)]
        rings_y = [np.asarray(ys[i], dtype=np.float64) for i in range(lo, hi)]
        m = max((len(r) for r in rings_x), default=0)
        if m == 0:
            continue
        cn = hi - lo
        rx = np.empty((cn, m), dtype=np.float64)
        ry = np.empty((cn, m), dtype=np.float64)
        for i, (ax, ay) in enumerate(zip(rings_x, rings_y)):
            li = len(ax)
            rx[i, :li] = ax
            ry[i, :li] = ay
            if li < m:  # pad: degenerate edges contribute no crossings
                rx[i, li:] = ax[-1] if li else 0.0
                ry[i, li:] = ay[-1] if li else 0.0
        rxj = np.roll(rx, 1, axis=1)
        ryj = np.roll(ry, 1, axis=1)
        x = px[lo:hi, None]
        y = py[lo:hi, None]
        cond = (ry > y) != (ryj > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (rxj - rx) * (y - ry) / (ryj - ry) + rx
        out[lo:hi] = (cond & (x < xint)).sum(axis=1) % 2 == 1
    return out


def _pip_col(px, py, xs, ys):
    """Even-odd ray cast as a PURE Catalyst expression — the JVM twin
    of ``_ray_cast`` (guide §4.1: the exact test is ~8 float ops per
    edge, far below the cost of shipping point+ring batches to a
    Python worker). Bit-parity: identical IEEE double op order
    ((xj−xi)·(y−yi)/(yj−yi)+xi, strict > crossings), and the crossing
    condition is False whenever the intercept degenerates to NaN/±inf
    (yi==yj), so Spark's NaN comparison semantics never differ from
    numpy's on a counted edge. Property-tested equal to ``_ray_cast``
    in test_spatial.py."""
    n = F.size(xs)

    def term(acc, i):
        prev_i = F.when(i == 1, n).otherwise(i - 1)
        cx = F.element_at(xs, i)
        cy = F.element_at(ys, i)
        pxv = F.element_at(xs, prev_i)
        pyv = F.element_at(ys, prev_i)
        cond = (cy > py) != (pyv > py)
        xint = (pxv - cx) * (py - cy) / (pyv - cy) + cx
        return acc + F.when(cond & (px < xint), 1).otherwise(0)

    crossings = F.aggregate(F.sequence(F.lit(1), n), F.lit(0), term)
    return crossings % 2 == 1


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_x: str = "lon",
    point_y: str = "lat",
    how: str = "inner",
) -> DataFrame:
    """Broadcast PIP join: points ⨝ polygons where point inside ring.

    ``polygons`` schema: (polygon_id, ring_x array<double>,
    ring_y array<double>, pminx, pminy, pmaxx, pmaxy). The bbox
    prefilter is the cheap JVM-side predicate of the
    BroadcastNestedLoopJoin; the exact ray-cast runs only on bbox
    survivors (generalizes overlap_area containment,
    reference src/divide.rs:74-92).
    """
    px = F.col(point_x)
    py = F.col(point_y)
    cond = (
        (px >= F.col("pminx")) & (px <= F.col("pmaxx"))
        & (py >= F.col("pminy")) & (py <= F.col("pmaxy"))
    )
    joined = points.join(F.broadcast(polygons), cond, "inner")
    joined = joined.where(_pip_col(px, py, F.col("ring_x"), F.col("ring_y")))
    if how == "inner":
        return joined
    raise ValueError(f"unsupported join type: {how}")


# largest cover (cells) one polygon bbox may explode to in the grid join
_PIP_MAX_COVER = 50_000


def point_in_polygon_grid_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 4,
    point_x: str = "lon",
    point_y: str = "lat",
) -> DataFrame:
    """Big-big PIP join — the NON-broadcast scale path for when the
    polygon table itself is too large for a broadcast hash table:
    polygons explode to the hex covering set of their bbox at ``res``
    (cells whose center could own a contained point — hex_cover_bbox's
    one-cell pad guarantees no point escapes the cover), points take
    their single cell as a pure Catalyst expression, and an equi-join
    on cell id bounds candidates to co-located pairs (shuffle-partition
    friendly; hot cells behave like any skewed equi-join key and AQE's
    skew splitting applies). The exact even-odd ray cast then gates the
    result — identical rows to point_in_polygon_join (points are
    single-assigned to one cell, so no dedup is needed; equality is
    pytest-asserted).

    Both sides key on the internal PLANAR grid (hex_cell_col points,
    hex_cover_bbox covers): the cell here is a join key, not the public
    H3 index, and the two sides must share one id space.
    ``res`` auto-coarsens until the LARGEST polygon bbox covers at most
    ``_PIP_MAX_COVER`` cells (one tiny driver agg): a continent-sized
    polygon must not explode to millions of cover rows; the result is
    resolution-independent, only candidate density changes."""
    ext = polygons.agg(
        F.max(F.col("pmaxx") - F.col("pminx")).alias("dx"),
        F.max(F.col("pmaxy") - F.col("pminy")).alias("dy"),
    ).first()
    dx = float(ext["dx"] or 0.0)
    dy = float(ext["dy"] or 0.0)
    while res > 0 and cell_fn.hex_cover_size(0.0, 0.0, dx, dy, res) > _PIP_MAX_COVER:
        res -= 1

    @F.pandas_udf(ArrayType(LongType()))
    def _cover(pminx: pd.Series, pminy: pd.Series, pmaxx: pd.Series, pmaxy: pd.Series) -> pd.Series:
        return pd.Series(
            [
                cell_fn.hex_cover_bbox(float(a), float(b), float(c), float(d), res)
                for a, b, c, d in zip(pminx, pminy, pmaxx, pmaxy)
            ]
        )

    polys = polygons.withColumn(
        "_cell", F.explode(_cover("pminx", "pminy", "pmaxx", "pmaxy"))
    )
    px = F.col(point_x)
    py = F.col(point_y)
    pts = points.withColumn(
        "_cell", hex_cell_col(px.cast("double"), py.cast("double"), res)
    )
    cand = pts.join(polys, "_cell").where(
        (px >= F.col("pminx")) & (px <= F.col("pmaxx"))
        & (py >= F.col("pminy")) & (py <= F.col("pmaxy"))
    )
    return cand.where(_pip_col(px, py, F.col("ring_x"), F.col("ring_y"))).drop("_cell")


def make_polygons_df(spark, polys: list[dict]) -> DataFrame:
    """Helper: [{'polygon_id', 'name', 'ring': [(lon,lat), …]}] →
    broadcast-ready polygon DataFrame with bbox prefilter columns."""
    rows = []
    for p in polys:
        xs = [float(a) for a, _ in p["ring"]]
        ys = [float(b) for _, b in p["ring"]]
        rows.append(
            (int(p["polygon_id"]), p.get("name", ""), xs, ys,
             min(xs), min(ys), max(xs), max(ys))
        )
    # Arrow-path createDataFrame (see pages.fixture_pages): a pickled
    # tuple list would add a Python-worker scan stage per query
    pdf = pd.DataFrame(
        rows,
        columns=[
            "polygon_id", "name", "ring_x", "ring_y",
            "pminx", "pminy", "pmaxx", "pmaxy",
        ],
    )
    return spark.createDataFrame(
        pdf,
        "polygon_id long, name string, ring_x array<double>, ring_y array<double>, "
        "pminx double, pminy double, pmaxx double, pmaxy double",
    )


# ------------------------------------------------------------------ kNN

def _knn_points(points: DataFrame, point_id: str) -> DataFrame:
    """The point side every kNN plan reads: (_pid, _px, _py)."""
    return points.select(
        F.col(point_id).alias("_pid"),
        F.col("lon").cast("double").alias("_px"),
        F.col("lat").cast("double").alias("_py"),
    )


def _knn_queries(queries: DataFrame, query_id: str) -> DataFrame:
    """The query side every kNN plan reads: (_qid, _qx, _qy)."""
    return queries.select(
        F.col(query_id).alias("_qid"),
        F.col("lon").cast("double").alias("_qx"),
        F.col("lat").cast("double").alias("_qy"),
    )


def _topk(cand: DataFrame, k: int) -> DataFrame:
    """Each query's k nearest candidates, ranked 1..k by (dist, _pid)."""
    d2 = (F.col("_px") - F.col("_qx")) ** 2 + (F.col("_py") - F.col("_qy")) ** 2
    w = Window.partitionBy("_qid").orderBy(F.sqrt(d2).asc(), F.col("_pid").asc())
    return (
        cand.withColumn("dist", F.sqrt(d2))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _knn_result(result: DataFrame, query_id: str, point_id: str) -> DataFrame:
    """The public kNN schema: (qid, id, dist, rank)."""
    return result.select(
        F.col("_qid").alias(query_id), F.col("_pid").alias(point_id), "dist", "rank"
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res: int = 6,
    cfg: EngineConfig = DEFAULT,
    point_id: str = "id",
    query_id: str = "qid",
    stats_out: dict | None = None,
) -> DataFrame:
    """Exact kNN of each query against ``points`` via hex-cell ring
    expansion. Both inputs need (lon, lat) columns. Returns
    (qid, id, dist, rank) with rank 1..k ordered by (dist, id) —
    deterministic tiebreak.

    Scale shape: two passes, no driver round loop. Pass 1 probes each
    query's seeded rings; pass 2 re-probes only the queries pass 1
    could not prove exact, at the ring their pass-1 kth distance
    demands. In each pass the big point table joins on cell id and a
    query touches only 1+3R(R+1) cells. Stragglers (sparse regions)
    fall back to a broadcast brute-force pass over those queries only.

    Ring seeding is PER QUERY from the query cell's own point count
    (one narrow two-column shuffle of the point table): a clustered
    query starts at ring 1, a sparse one jumps ahead — no global
    density estimate to overshoot on skewed data, and the first
    explode stays bounded by the seed cap. The point and pass-1 caches
    are released before returning (the result is materialized once via
    an eager localCheckpoint, so the union over the passes never
    recomputes unpersisted data).
    """
    edge = cell_fn.hex_edge_deg(res)

    # The projected 4-column point table is consumed once per pass
    # (candidate join) plus once by the cell-count seed — persist it
    # until the result is materialized (MEMORY_AND_DISK default: spills,
    # never OOMs) so the upstream scan runs exactly once.
    pts = _knn_points(points, point_id).withColumn(
        # BUILTIN planar grid unconditionally: the ring-expansion
        # geometry (hex_k_ring + the edge-distance guarantee) is a
        # property of this grid; the cell is an internal join key,
        # never a user-facing index (same rule as the PIP grid join)
        "_pcell", hex_cell_col(F.col("_px"), F.col("_py"), res)
    ).persist()

    qs = _knn_queries(queries, query_id).withColumn(
        "_qcell", hex_cell_col(F.col("_qx"), F.col("_qy"), res)
    )

    # Per-query ring seed from the query cell's own point count: the
    # goal is resolving in pass 1 (pass 2 is a second probe join), so
    # invert the guarantee itself. At local density d = local_cn /
    # cell_area the expected kth-NN radius is r_k = sqrt(k/(pi*d)) =
    # edge*sqrt(1.5*sqrt(3)*k/(pi*local_cn)); pass 1 resolves when
    # edge*(1.5(R+1)-2) >= r_k, i.e. R >= (r_k/edge + 2)/1.5 - 1. A
    # 1.5x safety factor absorbs local fluctuation; the cap bounds the
    # first explode; empty query cells (local=0) hit the cap. The
    # guarantee gate keeps every answer exact regardless of the seed.
    cnts = pts.groupBy("_pcell").agg(F.count("*").alias("_cn"))
    local = F.greatest(F.coalesce(F.col("_cn"), F.lit(0)), F.lit(1)).cast("double")
    rk = F.lit(1.5) * F.sqrt(F.lit(1.5 * math.sqrt(3.0) * k / math.pi) / local)
    seed = F.ceil((rk + F.lit(2.0)) / F.lit(1.5) - F.lit(1.0)).cast("int")
    seed_cap = int(min(max(cfg.knn_max_ring // 2, 1), 8))
    remaining = (
        qs.join(cnts.withColumnRenamed("_pcell", "_qcell"), "_qcell", "left")
        .withColumn("_ring", F.least(F.greatest(seed, F.lit(1)), F.lit(seed_cap)))
        .drop("_cn")
    )

    max_ring = cfg.knn_max_ring

    # Two passes, ONE job — no driver round loop (every round trip is a
    # full Spark job; the loop was the measured cost, not the data):
    #
    # Pass 1 probes the seeded rings. The distance guarantee: any point
    # outside rings 0..R sits in a cell at hex distance >= R+1; on this
    # pointy-top grid the minimum center spacing at hex distance m is
    # 1.5*m*edge (the diagonal direction — NOT sqrt(3)*m, which only
    # holds along the straight axes); subtract one circumradius (=edge)
    # each for the query's and the point's offset from their cell
    # centers. Verified against adversarial layouts in test_spatial.py.
    #
    # Pass 2 is PROVABLY terminal for every query that found >= k
    # candidates: its pass-1 kth distance upper-bounds the true kth
    # (subset top-k >= global top-k), so the ring R2 with
    # guarantee(R2) >= kth_1 satisfies kth_2 <= kth_1 <= guarantee(R2)
    # — no re-check needed. Queries with < k pass-1 candidates (near-
    # empty regions) or R2 > knn_max_ring fall back to an exact
    # brute-force pass over just those queries.
    def _guar(ring_col):
        return F.lit(edge) * (F.lit(1.5) * (ring_col + 1) - F.lit(2.0))

    def _probe(qdf: DataFrame) -> DataFrame:
        # k_ring as PURE Catalyst (guide §4.1 — no Python stage): the
        # hex-distance-≤R disk on axial coords is exactly
        # {(dq, dr): dq ∈ [-R, R], dr ∈ [max(-R, -dq-R), min(R, -dq+R)]}
        # (same cell set hex_k_ring enumerates ring-by-ring; the join
        # key is a set, so enumeration order is irrelevant), and the
        # packed cell id is additive in the q/r fields — neighbor id =
        # cell + (dq << 28) + dr (no unpack/repack; field overflow is
        # impossible for on-earth coords with the 2^27 bias).
        ring = F.col("_ring")
        dq = F.col("_dq")
        exp = (
            qdf.withColumn("_dq", F.explode(F.sequence(-ring, ring)))
            .withColumn(
                "_dr",
                F.explode(
                    F.sequence(
                        F.greatest(-ring, -dq - ring),
                        F.least(ring, -dq + ring),
                    )
                ),
            )
            .select(
                "_qid", "_qx", "_qy", "_ring",
                (
                    F.col("_qcell")
                    + F.shiftleft(dq.cast("long"), 28)
                    + F.col("_dr").cast("long")
                ).alias("_pcell"),
            )
        )
        return _topk(exp.join(pts, "_pcell", "inner"), k)

    topk1 = _probe(remaining).cache()
    stat1 = topk1.groupBy("_qid").agg(
        F.count("*").alias("_n1"), F.max("dist").alias("_kth1")
    )
    st = remaining.join(stat1, "_qid", "left").withColumn(
        "_n1", F.coalesce("_n1", F.lit(0))
    ).cache()
    resolved = (F.col("_n1") == k) & (F.col("_kth1") <= _guar(F.col("_ring")))
    need_ring = F.greatest(
        F.ceil(
            (F.col("_kth1") / F.lit(edge) + F.lit(2.0)) / F.lit(1.5) - F.lit(1.0)
        ).cast("int"),
        F.col("_ring") + 1,
    )
    is_pass2 = (~resolved) & (F.col("_n1") == k) & (need_ring <= max_ring)
    is_brute = (~resolved) & ((F.col("_n1") < k) | (need_ring > max_ring))
    # one tiny driver aggregate decides which branches exist, so the
    # common all-resolved-in-pass-1 case pays exactly two jobs total
    # (this stat + the final materialization) and no pass-2/brute plans
    tri = st.agg(
        F.sum(F.when(resolved, 1).otherwise(0)).alias("nres"),
        F.sum(F.when(is_pass2, 1).otherwise(0)).alias("np2"),
        F.sum(F.when(is_brute, 1).otherwise(0)).alias("nbr"),
    ).first()
    n_res, n_p2, n_br = (tri[c] or 0 for c in ("nres", "np2", "nbr"))
    if stats_out is not None:
        stats_out.update(
            {"n_queries": int(n_res) + int(n_p2) + int(n_br),
             "n_pass2": int(n_p2), "n_brute": int(n_br)}
        )

    parts: list[DataFrame] = []
    if n_p2 == 0 and n_br == 0:
        # covers the empty-queries case too: topk1 is then empty with
        # the right schema
        parts.append(topk1.select("_qid", "_pid", "dist", "rank"))
    elif n_res > 0:
        parts.append(
            topk1.join(st.where(resolved).select("_qid"), "_qid", "inner").select(
                "_qid", "_pid", "dist", "rank"
            )
        )
    if n_p2 > 0:
        pass2_q = st.where(is_pass2).select(
            "_qid", "_qx", "_qy", "_qcell", need_ring.alias("_ring")
        )
        parts.append(_probe(pass2_q).select("_qid", "_pid", "dist", "rank"))
    if n_br > 0:
        brute_q = st.where(is_brute).select("_qid", "_qx", "_qy")
        parts.append(_topk(brute_q.crossJoin(pts), k).select("_qid", "_pid", "dist", "rank"))

    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    out = _knn_result(result, query_id, point_id)
    # materialize once (truncating lineage), then release the caches:
    # consumers read the checkpointed blocks, never the unpersisted plan
    out = out.localCheckpoint(eager=True)
    topk1.unpersist()
    st.unpersist()
    pts.unpersist()
    return out


# The name tables keyed by the H3 ``hex_cell`` are queried under. The
# ring plan reads only (lon, lat), so it needs no plan of its own.
knn_join_h3 = knn_join


def knn_brute_force(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    point_id: str = "id",
    query_id: str = "qid",
) -> DataFrame:
    """Reference/baseline kNN: broadcast cross join + window top-k.
    The oracle twin of knn_join (and the right plan when queries are
    few and points fit the broadcast threshold)."""
    pts = _knn_points(points, point_id)
    qs = _knn_queries(queries, query_id)
    return _knn_result(_topk(qs.crossJoin(pts), k), query_id, point_id)


def bbox_query_indexed(
    features: DataFrame,
    x0: float, y0: float, x1: float, y1: float,
    cfg: EngineConfig = DEFAULT,
    cell_col: str = "hex_cell",
) -> DataFrame:
    """Index-assisted bbox query: prefilter by the hex-cell covering set
    (an IN-list Catalyst pushes into the parquet scan), then apply the
    exact interval predicate (S11). The IN-list prunes row groups, like
    an eyros tree descent, only on a table clustered by ``cell_col``
    (sorted or range-partitioned on it). The ingest table is
    rebalanced and unsorted, so there it acts as a row filter.

    Falls back to the plain predicate when the covering set is too big
    for a useful IN-list (large boxes scan most of the table anyway).

    The covering set is in the id space ``with_cells`` writes to
    ``cell_col``: H3-spec-derived ids, covered by cells.h3_cover_bbox
    (guaranteed-hit sampled cover).
    """
    # probe count ≈ 4x the cell count: a ~50k-cell budget
    if cell_fn.h3_cover_size(x0, y0, x1, y1, cfg.hex_res) > 200_000:
        return bbox_query(features, x0, y0, x1, y1)
    cover = cell_fn.h3_cover_bbox(x0, y0, x1, y1, cfg.hex_res)
    return bbox_query(
        features.where(F.col(cell_col).isin(cover)), x0, y0, x1, y1
    )
