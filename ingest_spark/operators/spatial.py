"""Spatial operators: cell assignment, bbox query, point-in-polygon
broadcast join, cell-local kNN routed by per-cell point counts.

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
  routed by per-cell point counts (GeoBlocks-style count
  pre-aggregates). It keys on a square-grid pyramid it computes from
  (lon, lat), never on a stored cell column, so it is exact at any
  latitude. The queries go to the driver; one count job counts the
  points in each query's 5x5 cell disk at every level; the driver picks
  per query (vectorized, numpy) the finest level and smallest disk that
  holds k points. Every point of a disk of Chebyshev radius r lies
  within sqrt(2)*(r+1) cell sides of the query, and every point outside
  radius R lies farther than R sides, so the probe ring
  ceil(sqrt(2)*(r+1)) + 1 holds the exact top-k, ties included. One
  lazy broadcast probe join on (level, cell) and a window top-k answer
  every query; nothing is cached or checkpointed. EXACT kNN, verified
  against the cross-join oracle knn_brute_force.
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
    The planar grid is an internal join key only:
    point_in_polygon_grid_join's cover keys on it; no public cell id
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


# Square-grid count pyramid of the kNN router. Level l cells have side
# hex_edge_deg(res) * 4**l; the levels stop below a 360-degree side,
# and one last level is a single cell holding every point.
_KNN_LEVEL_STEP = 4.0
# Chebyshev radius of the disk whose point count certifies a level.
_KNN_COUNT_RING = 2
# Probe ring for a query certified by disk radius r: every point in
# that disk is within sqrt(2)*(r+1) sides of the query, every point
# outside probe ring R is farther than R sides, and the +1 is slack for
# the rounding of floor(x / side).
_KNN_PROBE_RING = np.array(
    [math.ceil(math.sqrt(2.0) * (r + 1)) + 1 for r in range(_KNN_COUNT_RING + 1)]
)


def _knn_sides(res: int) -> list[float]:
    """Cell sides of the finite pyramid levels, finest first."""
    sides = [cell_fn.hex_edge_deg(res)]
    while sides[-1] * _KNN_LEVEL_STEP < 360.0:
        sides.append(sides[-1] * _KNN_LEVEL_STEP)
    return sides


def _knn_point_cells(pts: DataFrame, sides: list[float], levels) -> DataFrame:
    """One (_lvl, _cell) row per point and level in ``levels``. The key
    floor(x/s)*2**32 + floor(y/s) is additive in the two cell indexes;
    level len(sides) is the single world cell 0. Built as one SQL
    expression, since a Column tree costs a JVM round trip per node;
    18 significant digits round-trip each side exactly."""
    def key(lvl):
        if lvl == len(sides):
            return "0L"
        s = f"{sides[lvl]:.17e}D"
        return f"shiftleft(CAST(floor(_px / {s}) AS BIGINT), 32) + CAST(floor(_py / {s}) AS BIGINT)"

    cells = ", ".join(f"struct({lvl} AS _lvl, {key(lvl)} AS _cell)" for lvl in levels)
    return pts.select("_pid", "_px", "_py", F.expr(f"inline(array({cells}))"))


def _knn_query_cells(qx: np.ndarray, qy: np.ndarray, sides: list[float]) -> np.ndarray:
    """The driver twin of _knn_point_cells: (n_queries, levels) keys,
    the world level last. Same IEEE division and floor as the JVM."""
    cols = [
        (np.floor(qx / s).astype(np.int64) << 32) + np.floor(qy / s).astype(np.int64)
        for s in sides
    ]
    cols.append(np.zeros(len(qx), dtype=np.int64))
    return np.stack(cols, axis=1)


def _offsets(ring: int) -> tuple[np.ndarray, np.ndarray]:
    """Key offsets of the (2*ring+1)**2 cells of a Chebyshev disk, and
    each cell's Chebyshev radius."""
    d = np.arange(-ring, ring + 1, dtype=np.int64)
    dx, dy = np.meshgrid(d, d, indexing="ij")
    return ((dx << 32) + dy).ravel(), np.maximum(np.abs(dx), np.abs(dy)).ravel()


def _knn_route(per_cell: np.ndarray, cheb: np.ndarray, k: int):
    """Per query, the finest level and then the smallest count disk
    holding >= k points: (level, probe ring). ``per_cell`` holds the
    (queries, finite levels, disk cells) point counts and ``cheb`` each
    disk cell's Chebyshev radius. A query no level certifies gets the
    world level (one past the last) and ring 0."""
    nq, levels, _ = per_cell.shape
    rings = len(_KNN_PROBE_RING)
    held = np.stack(
        [per_cell[:, :, cheb <= r].sum(axis=2) for r in range(rings)], axis=2
    ).reshape(nq, levels * rings) >= k
    first = held.argmax(axis=1)
    found = held.any(axis=1)
    level = np.where(found, first // rings, levels)
    return level, np.where(found, _KNN_PROBE_RING[first % rings], 0)


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
    """Exact kNN of each query against ``points``, routed by per-cell
    point counts. Both inputs need (lon, lat) columns. Returns
    (qid, id, dist, rank) with rank 1..k ordered by (dist, id) —
    deterministic tiebreak. ``cfg`` is accepted for callers that pass
    it; nothing in it is read.

    The queries are collected to the driver. One count job then counts
    the points in each query's 5x5 cell disk at every level of a square
    cell pyramid (finest side hex_edge_deg(res), x4 per level, last a
    single world cell). Each query takes the finest level and smallest
    disk holding >= k points; the probe ring that disk implies holds
    the exact top-k, ties included. The returned frame is lazy: one
    probe join on (level, cell), broadcast since the probe table is a
    small driver-built relation, and the top-k window, run by the
    caller's action. ``stats_out`` gets ``n_queries`` and
    ``n_brute``: the queries no finite level certifies, whose probe is
    the whole table (at most when it holds fewer than k points).
    """
    spark = points.sparkSession
    sides = _knn_sides(res)
    world = len(sides)
    pts = _knn_points(points, point_id)
    qtype = queries.schema[query_id].dataType
    q = _knn_queries(queries, query_id).collect()
    nq = len(q)
    qid = pd.Series([r[0] for r in q]).to_numpy()
    qx, qy = (np.array([r[i] for r in q], dtype=np.float64) for i in (1, 2))
    qcell = _knn_query_cells(qx, qy, sides)

    # count job: points in each distinct (level, cell) of every disk
    off, cheb = _offsets(_KNN_COUNT_RING)
    disk = qcell[:, :world, None] + off[None, None, :]
    lvl = np.broadcast_to(np.arange(world)[None, :, None], disk.shape)
    uniq, inv = np.unique(
        np.stack([lvl.ravel(), disk.ravel()], axis=1), axis=0, return_inverse=True
    )
    counts = np.zeros(len(uniq), dtype=np.int64)
    if nq:
        cells = spark.createDataFrame(
            pd.DataFrame({"_lvl": uniq[:, 0].astype(np.int32), "_cell": uniq[:, 1],
                          "_slot": np.arange(len(uniq), dtype=np.int64)}),
            "_lvl int, _cell long, _slot long",
        )
        rows = (
            _knn_point_cells(pts, sides, range(world))
            .join(cells, ["_lvl", "_cell"])
            .groupBy("_slot").count().collect()
        )
        if rows:
            slot, n = np.array([(r[0], r[1]) for r in rows], dtype=np.int64).T
            counts[slot] = n
    level, ring = _knn_route(counts[inv.reshape(-1)].reshape(nq, world, len(off)), cheb, k)
    if stats_out is not None:
        stats_out.update({"n_queries": nq, "n_brute": int((level == world).sum())})

    # probe table: each query's (2R+1)**2 cells at its level
    off, cheb = _offsets(int(_KNN_PROBE_RING.max()))
    qi, oi = np.nonzero(cheb[None, :] <= ring[:, None])
    probe = spark.createDataFrame(
        pd.DataFrame({
            "_qid": qid[qi], "_qx": qx[qi], "_qy": qy[qi],
            "_lvl": level[qi].astype(np.int32), "_cell": qcell[qi, level[qi]] + off[oi],
        }),
        f"_qid {qtype.simpleString()}, _qx double, _qy double, _lvl int, _cell long",
    )
    used = sorted(set(level.tolist())) or [world]
    cand = _knn_point_cells(pts, sides, used).join(probe, ["_lvl", "_cell"])
    return _knn_result(_topk(cand, k), query_id, point_id)


# The name tables keyed by the H3 ``hex_cell`` are queried under. The
# kNN reads only (lon, lat), so it needs no plan of its own.
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
