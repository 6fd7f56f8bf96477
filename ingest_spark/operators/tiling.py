"""Spatial partitioning / tiling — the reference "optimize" pass
re-expressed (O1-O4, /root/reference/src/lib.rs:408-602, src/divide.rs).

Three layers:

1. ``divide`` — a semantically exact reimplementation of the
   reference's recursive 2×2 quadtree split (src/divide.rs:9-72):
   float32 bbox arithmetic, max-overlap assignment with strict ``>``
   and first-index tiebreak (src/divide.rs:43-52), span guard + depth
   limit 30 termination (src/divide.rs:56-63,10). Runs on numpy
   arrays; used per-bucket inside applyInPandas.

2. ``quadtree_partition`` — the distributed optimize job: global
   bounds (A3) → X×Y grid max-overlap assignment (deterministic
   single-assignment; replaces the reference's multi-assign + racy
   skip-map dedup J9, src/lib.rs:469-515, with a plan that never
   creates duplicates) → per-grid-cell ``divide`` under
   ``applyInPandas`` → bounded buckets (≤ n records each, the eyros
   subtree analog, src/lib.rs:526).

3. ``salt_hot_cells`` — the 100 TB path: per-cell counts and
   explicit salting of cells over the bucket bound (north_rule), so no
   (cell, salt) group outgrows one task; the pipeline's optimize stage
   commits the salted frame.

Plus the web-mercator tile pyramid (raster ↔ vector tiles).
"""

from __future__ import annotations

import io
import math
from collections import deque

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ..config import DEFAULT, EngineConfig
from .partitioning import kernel_partitions

# ------------------------------------------------------------ divide

def overlap_area(
    bx0: np.float32, by0: np.float32, bx1: np.float32, by1: np.float32,
    minx, miny, maxx, maxy, is_scalar,
) -> np.ndarray:
    """Vectorized float32 overlap area (reference src/divide.rs:74-92):
    scalar → inclusive containment = 1.0; interval → clipped rectangle
    area (may be negative-free via early zero); mixed kinds → 0."""
    minx = minx.astype(np.float32)
    miny = miny.astype(np.float32)
    maxx = maxx.astype(np.float32)
    maxy = maxy.astype(np.float32)

    scalar_in = (
        (bx0 <= minx) & (minx <= bx1) & (by0 <= miny) & (miny <= by1)
    )
    zero_x = (bx0 > maxx) | (bx1 < minx)
    zero_y = (by0 > maxy) | (by1 < miny)
    x = np.minimum(maxx, bx1) - np.maximum(minx, bx0)
    y = np.minimum(maxy, by1) - np.maximum(miny, by0)
    interval_area = np.where(zero_x | zero_y, np.float32(0.0), (x * y).astype(np.float32))
    return np.where(is_scalar, scalar_in.astype(np.float32), interval_area)


def _child_boxes(qx0, qy0, qx1, qy1):
    """The 2×2 child boxes of a node, iy-major/ix-minor, with the exact
    f32 arithmetic of the reference grid generator (src/divide.rs:26-41).
    Accepts f32 scalars OR per-row f32 arrays (elementwise IEEE single
    ops are identical either way). Returns (boxes, span_x, span_y)."""
    span_x = qx1 - qx0
    span_y = qy1 - qy0
    out = []
    for iy in range(2):
        for ix in range(2):
            bx0 = np.float32(ix / 2) * span_x + qx0
            by0 = np.float32(iy / 2) * span_y + qy0
            bx1 = np.float32((ix + 1.0) / 2) * span_x + qx0
            by1 = np.float32((iy + 1.0) / 2) * span_y + qy0
            out.append((bx0, by0, bx1, by1))
    return out, span_x, span_y


def divide(
    n: int,
    bbox: tuple[float, float, float, float],
    minx: np.ndarray, miny: np.ndarray, maxx: np.ndarray, maxy: np.ndarray,
    is_scalar: np.ndarray,
    depth_limit: int = 30,
    return_paths: bool = False,
):
    """Exact port of the reference ``divide`` (src/divide.rs:9-72).

    Returns list of (bbox(f32 4-tuple), row-index ndarray), in the same
    emission order as the reference (BFS, children iy-major/ix-minor).
    With ``return_paths=True`` each entry is (bbox, idx, path) — path is
    the child-digit string from this root ('' = root leaf), the key the
    distributed optimize pass uses to renumber buckets in global
    emission order.
    """
    N = len(minx)
    all_idx = np.arange(N)
    if N <= n:
        root = (tuple(np.float32(v) for v in bbox), all_idx)
        return [root + ("",)] if return_paths else [root]

    minx = np.asarray(minx, dtype=np.float32)
    miny = np.asarray(miny, dtype=np.float32)
    maxx = np.asarray(maxx, dtype=np.float32)
    maxy = np.asarray(maxy, dtype=np.float32)
    is_scalar = np.asarray(is_scalar, dtype=bool)

    res = []
    queue = deque()
    queue.append((0, tuple(np.float32(v) for v in bbox), all_idx, ""))
    while queue:
        depth, (qx0, qy0, qx1, qy1), idx, path = queue.popleft()
        if len(idx) == 0:
            continue
        sx0, sy0, sx1, sy1 = (np.float32(v) for v in (qx0, qy0, qx1, qy1))
        boxes, span_x, span_y = _child_boxes(sx0, sy0, sx1, sy1)

        # strict `>` best with first-index start (0.0, 0)
        best_area = np.zeros(len(idx), dtype=np.float32)
        best_j = np.zeros(len(idx), dtype=np.int64)
        for j, (bx0, by0, bx1, by1) in enumerate(boxes):
            area = overlap_area(
                bx0, by0, bx1, by1,
                minx[idx], miny[idx], maxx[idx], maxy[idx], is_scalar[idx],
            )
            better = area > best_area
            best_j[better] = j
            best_area[better] = area[better]

        q_len = len(idx)
        for j, bb in enumerate(boxes):
            cidx = idx[best_j == j]
            cn = len(cidx)
            cpath = path + str(j)
            if cn == 0:
                continue
            if cn <= n:
                res.append((bb, cidx, cpath))
            elif cn == q_len:
                span_ge = (
                    (~is_scalar[cidx])
                    & (
                        ((maxx[cidx] - minx[cidx]) > span_x)
                        | ((maxy[cidx] - miny[cidx]) > span_y)
                    )
                )
                if span_ge.all() or depth + 1 >= depth_limit:
                    res.append((bb, cidx, cpath))
                else:
                    queue.append((depth + 1, bb, cidx, cpath))
            elif depth + 1 >= depth_limit:
                res.append((bb, cidx, cpath))
            else:
                queue.append((depth + 1, bb, cidx, cpath))
    return res if return_paths else [(bb, idx) for bb, idx, _ in res]


# -------------------------------------------- distributed quadtree job

def global_bounds(features: DataFrame) -> tuple[tuple[float, float, float, float], int]:
    """A3 (reference src/lib.rs:413-425): the bounds and the row count,
    from one aggregate."""
    r = features.agg(
        F.min("minx").alias("x0"), F.min("miny").alias("y0"),
        F.max("maxx").alias("x1"), F.max("maxy").alias("y1"),
        F.count(F.lit(1)).alias("rows"),
    ).first()
    return (r.x0, r.y0, r.x1, r.y1), r.rows


def _grid_boxes(bounds, gx: int, gy: int):
    """S10 grid generator (src/lib.rs:427-444), f32 arithmetic."""
    x0, y0, x1, y1 = (np.float32(v) for v in bounds)
    span_x = np.float32(x1 - x0)
    span_y = np.float32(y1 - y0)
    boxes = []
    for iy in range(gy):
        for ix in range(gx):
            boxes.append((
                np.float32(np.float32(ix / gx) * span_x + x0),
                np.float32(np.float32(iy / gy) * span_y + y0),
                np.float32(np.float32((ix + 1.0) / gx) * span_x + x0),
                np.float32(np.float32((iy + 1.0) / gy) * span_y + y0),
            ))
    return boxes


def assign_grid_cell(
    features: DataFrame, bounds, gx: int, gy: int
) -> DataFrame:
    """O3 max-overlap single-assignment to the X×Y grid (first-index
    tiebreak — np.argmax returns the first maximum, matching the
    strict-> loop of src/divide.rs:43-52).

    Round-8 note: a pure-Catalyst twin of this assignment (64 CASE
    terms + array_position(array_max)) was measured ~3× SLOWER than
    this Arrow-batched numpy kernel at 99k rows (codegen'd but ~12
    µs/row of boxed per-cell evaluation vs one vectorized overlap pass
    per box) — the UDF stays deliberately (guide §4.2: hand whole
    batches to vectorized native code)."""
    boxes = _grid_boxes(bounds, gx, gy)

    @F.pandas_udf(IntegerType())
    def _assign(minx, miny, maxx, maxy, kind):
        mnx = minx.to_numpy()
        mny = miny.to_numpy()
        mxx = maxx.to_numpy()
        mxy = maxy.to_numpy()
        scal = kind.to_numpy() == 0
        areas = np.stack(
            [
                overlap_area(bx0, by0, bx1, by1, mnx, mny, mxx, mxy, scal)
                for (bx0, by0, bx1, by1) in boxes
            ],
            axis=1,
        )
        return pd.Series(np.argmax(areas, axis=1).astype(np.int32))

    return features.withColumn(
        "grid_cell", _assign("minx", "miny", "maxx", "maxy", "kind")
    )


def _emission_order(leaf_paths) -> dict[str, int]:
    """Bucket numbers for a set of quadtree leaf paths, in the exact
    emission order of the reference BFS (src/divide.rs:9-72): nodes pop
    FIFO; children 0..3 either emit (leaf) or enqueue (internal =
    proper prefix of some leaf). Replaying from paths alone lets the
    distributed pass number buckets identically to the single-worker
    ``divide`` without ever co-locating a cell's rows."""
    leafset = set(leaf_paths)
    if "" in leafset:
        return {"": 0}
    internal = set()
    for p in leafset:
        for i in range(len(p)):
            internal.add(p[:i])
    order: dict[str, int] = {}
    queue = deque([""])
    nxt = 0
    while queue:
        node = queue.popleft()
        for j in "0123":
            c = node + j
            if c in leafset:
                order[c] = nxt
                nxt += 1
            elif c in internal:
                queue.append(c)
    return order


_QT_OUT_EXTRA = [
    StructField("bucket", IntegerType(), False),
    StructField("bminx", DoubleType(), False),
    StructField("bminy", DoubleType(), False),
    StructField("bmaxx", DoubleType(), False),
    StructField("bmaxy", DoubleType(), False),
]


def _divide_cells_in_pandas(
    with_cell: DataFrame, boxes, n: int, depth_limit: int, budget: int
) -> DataFrame:
    """Per-grid-cell ``divide`` under applyInPandas — correct whenever a
    cell fits one worker; the group-size guard makes a budget violation
    a hard error instead of a silent OOM risk."""
    out_schema = StructType(with_cell.schema.fields + _QT_OUT_EXTRA)

    def _divide_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(key[0])
        if len(pdf) > budget:
            raise RuntimeError(
                f"quadtree grid cell {cell} materialized {len(pdf)} rows "
                f"> pandas budget {budget}; the planner must route this "
                "cell through the distributed pre-split"
            )
        bb = boxes[cell]
        buckets = divide(
            n,
            (bb[0], bb[1], bb[2], bb[3]),
            pdf["minx"].to_numpy(), pdf["miny"].to_numpy(),
            pdf["maxx"].to_numpy(), pdf["maxy"].to_numpy(),
            pdf["kind"].to_numpy() == 0,
            depth_limit=depth_limit,
        )
        pdf = pdf.reset_index(drop=True)
        bucket_col = np.zeros(len(pdf), dtype=np.int32)
        bbox_cols = np.zeros((len(pdf), 4), dtype=np.float64)
        for bi, (bbox, idx) in enumerate(buckets):
            bucket_col[idx] = bi
            bbox_cols[idx, 0] = bbox[0]
            bbox_cols[idx, 1] = bbox[1]
            bbox_cols[idx, 2] = bbox[2]
            bbox_cols[idx, 3] = bbox[3]
        pdf["bucket"] = bucket_col
        pdf["bminx"] = bbox_cols[:, 0]
        pdf["bminy"] = bbox_cols[:, 1]
        pdf["bmaxx"] = bbox_cols[:, 2]
        pdf["bmaxy"] = bbox_cols[:, 3]
        return pdf

    # the per-group divide is CPU-bound: the groupBy's own exchange gets
    # AQE-coalesced by bytes and would serialize it (round-8 profile:
    # 0.41 s / 4 tasks → ~0.15 s / 32)
    return (
        kernel_partitions(with_cell, "grid_cell")
        .groupBy("grid_cell")
        .applyInPandas(_divide_cell, out_schema)
    )


def _path_key(path: str) -> int:
    """Pack a child-digit path into one int64: key = OFFSET[len] + the
    base-4 value of the digits (depth-disambiguated, collision-free for
    depth <= 31)."""
    packed = 0
    for ch in path:
        packed = packed * 4 + (ord(ch) - 48)
    return int(_PATH_OFFSETS[len(path)] + packed)


_PATH_OFFSETS = np.concatenate(
    ([0], np.cumsum([4 ** d for d in range(32)]))
).astype(np.int64)


def _cell_descend(
    root_box,
    mnx, mny, mxx, mxy, scal,
    target_depth: int,
    decided_keys: np.ndarray,
    sg_from: int = 0,
    stop_mode: bool = False,
):
    """Vectorized quadtree descent for one grid cell's rows, stateless:
    re-derives each row's path from the root with divide's exact f32
    child boxes / strict-> max-overlap. Rows whose current path hits a
    decided node stop (alive=False); ``stop_mode`` additionally records
    WHICH decided key was hit (the final tagging pass). Returns
    (alive, packed_paths, hit_keys, sg_bits[target-sg_from])."""
    nr = len(mnx)
    bx0 = np.full(nr, root_box[0], dtype=np.float32)
    by0 = np.full(nr, root_box[1], dtype=np.float32)
    bx1 = np.full(nr, root_box[2], dtype=np.float32)
    by1 = np.full(nr, root_box[3], dtype=np.float32)
    packed = np.zeros(nr, dtype=np.int64)
    alive = np.ones(nr, dtype=bool)
    hit = np.zeros(nr, dtype=np.int64)
    n_sg = max(target_depth - sg_from, 0)
    sgs = np.zeros((nr, n_sg), dtype=bool)
    for depth in range(target_depth):
        if depth > 0 and len(decided_keys):
            keys = _PATH_OFFSETS[depth] + packed
            stopped = alive & np.isin(keys, decided_keys)
            if stopped.any():
                alive = alive & ~stopped
                if stop_mode:
                    hit[stopped] = keys[stopped]
        if not alive.any():
            break
        if depth >= sg_from:
            span_x = bx1 - bx0
            span_y = by1 - by0
            sgs[:, depth - sg_from] = (~scal) & (
                ((mxx - mnx) > span_x) | ((mxy - mny) > span_y)
            )
        children, _sx, _sy = _child_boxes(bx0, by0, bx1, by1)
        best = np.zeros(nr, dtype=np.float32)
        bj = np.zeros(nr, dtype=np.int8)
        for j, (cx0, cy0, cx1, cy1) in enumerate(children):
            area = overlap_area(cx0, cy0, cx1, cy1, mnx, mny, mxx, mxy, scal)
            better = area > best
            bj[better] = j
            best[better] = area[better]
        packed = packed * 4 + bj
        stack = np.stack([c for c in children], axis=0)  # (4, 4, n)
        sel = stack[bj, :, np.arange(nr)]  # (n, 4)
        bx0, by0, bx1, by1 = sel[:, 0], sel[:, 1], sel[:, 2], sel[:, 3]
    if stop_mode and len(decided_keys):  # final depth check
        keys = _PATH_OFFSETS[target_depth] + packed
        stopped = alive & np.isin(keys, decided_keys)
        if stopped.any():
            alive = alive & ~stopped
            hit[stopped] = keys[stopped]
    return alive, packed, hit, sgs


def _packed_to_str(packed: np.ndarray, depth: int) -> list:
    """base-4 packed paths → digit strings of length ``depth``."""
    out = np.empty((len(packed), depth), dtype=np.uint8)
    p = packed.copy()
    for i in range(depth - 1, -1, -1):
        out[:, i] = (p % 4) + 48
        p //= 4
    return [bytes(row).decode("ascii") for row in out]


def _frontier_stats_udf(root_boxes: dict, decided_keys: dict, round_depth: int, levels: int):
    """Phase-A kernel, STATELESS: each round re-derives every row's path
    from the cell root (descent is a pure function of coords), descends
    ``levels`` past the uniform active frontier at ``round_depth``, and
    emits (full path, per-level span-ge bits) for rows still in active
    nodes — null for rows already inside decided nodes. Map-only: no
    per-round caching/checkpointing of row data anywhere, so worker AND
    driver memory stay flat at any input size."""
    from pyspark.sql.types import ArrayType, BooleanType, StringType

    schema = StructType([
        StructField("path", StringType(), True),
        StructField("sg", ArrayType(BooleanType()), True),
    ])
    target = round_depth + levels

    @F.pandas_udf(schema)
    def _u(
        cell: pd.Series,
        minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series,
        kind: pd.Series,
    ) -> pd.DataFrame:
        nr = len(cell)
        cells = cell.to_numpy()
        mnx = minx.to_numpy(dtype=np.float64).astype(np.float32)
        mny = miny.to_numpy(dtype=np.float64).astype(np.float32)
        mxx = maxx.to_numpy(dtype=np.float64).astype(np.float32)
        mxy = maxy.to_numpy(dtype=np.float64).astype(np.float32)
        scal = kind.to_numpy() == 0
        paths = np.empty(nr, dtype=object)
        sg_out = np.empty(nr, dtype=object)
        for c in np.unique(cells):
            m = cells == c
            alive, packed, _hit, sgs = _cell_descend(
                root_boxes[int(c)], mnx[m], mny[m], mxx[m], mxy[m], scal[m],
                target, decided_keys.get(int(c), np.empty(0, dtype=np.int64)),
                sg_from=round_depth,
            )
            idx = np.nonzero(m)[0]
            strs = _packed_to_str(packed, target)
            for k, i in enumerate(idx):
                if alive[k]:
                    paths[i] = strs[k]
                    sg_out[i] = sgs[k].tolist()
        return pd.DataFrame({"path": paths, "sg": sg_out})

    return _u


def _node_tag_udf(root_boxes: dict, decided: dict):
    """Final tagging pass, STATELESS: descend each row from its cell
    root until it hits its decided node (phase A guarantees one exists
    on every descent path); emit (node path, is_leaf)."""
    from pyspark.sql.types import BooleanType, StringType, StructType as _St

    schema = _St([
        StructField("node", StringType(), False),
        StructField("is_leaf", BooleanType(), False),
    ])
    dec_keys = {
        c: np.array(sorted(_path_key(p) for p in m), dtype=np.int64)
        for c, m in decided.items()
    }
    key_info = {
        c: {_path_key(p): (p, is_leaf) for p, is_leaf in m.items()}
        for c, m in decided.items()
    }
    max_depth = {c: max((len(p) for p in m), default=0) for c, m in decided.items()}

    @F.pandas_udf(schema)
    def _u(
        cell: pd.Series,
        minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series,
        kind: pd.Series,
    ) -> pd.DataFrame:
        nr = len(cell)
        cells = cell.to_numpy()
        mnx = minx.to_numpy(dtype=np.float64).astype(np.float32)
        mny = miny.to_numpy(dtype=np.float64).astype(np.float32)
        mxx = maxx.to_numpy(dtype=np.float64).astype(np.float32)
        mxy = maxy.to_numpy(dtype=np.float64).astype(np.float32)
        scal = kind.to_numpy() == 0
        nodes = np.empty(nr, dtype=object)
        leafish = np.zeros(nr, dtype=bool)
        for c in np.unique(cells):
            m = cells == c
            alive, _packed, hit, _sgs = _cell_descend(
                root_boxes[int(c)], mnx[m], mny[m], mxx[m], mxy[m], scal[m],
                max_depth[int(c)], dec_keys[int(c)], stop_mode=True,
            )
            if alive.any():  # pragma: no cover - phase A guarantees a hit
                raise RuntimeError(
                    f"rows in cell {c} reached no decided node (depth "
                    f"{max_depth[int(c)]})"
                )
            info = key_info[int(c)]
            idx = np.nonzero(m)[0]
            for k, i in enumerate(idx):
                node, is_leaf = info[int(hit[k])]
                nodes[i] = node
                leafish[i] = is_leaf
        return pd.DataFrame({"node": nodes, "is_leaf": leafish})

    return _u


def quadtree_partition(
    features: DataFrame,
    cfg: EngineConfig = DEFAULT,
    gx: int = 4,
    gy: int = 4,
    bucket_max: int | None = None,
    pandas_budget: int | None = None,
) -> DataFrame:
    """The optimize pass: grid assign → quadtree divide →
    (grid_cell, bucket, bucket bbox) per feature. Bucket numbering is
    the reference's emission order within each grid cell.

    Scale shape (the reference bounds this with recursive streaming
    re-query, src/lib.rs:463-526; a fixed per-cell applyInPandas would
    materialize 1/(gx·gy) of the dataset in ONE Python worker): grid
    cells over ``pandas_budget`` rows are pre-split DISTRIBUTEDLY —
    each driver round descends K quadtree levels as a map-side kernel
    plus one small aggregate, applying divide's exact termination rules
    (≤n leaf, span guard, depth limit) from per-node counts; only
    sub-budget nodes ever reach a per-group ``divide`` (which raises if
    the bound is violated). Bucket ids and bboxes are IDENTICAL to the
    single-worker result: leaves are renumbered per cell by replaying
    the reference BFS over leaf paths (``_emission_order``) — equality
    is pytest-asserted (test_tiling.py, forced tiny budget).

    Driver state is metadata only (node boxes/counts, leaf paths —
    #buckets-sized, the same metadata the reference's single process
    holds); row data never collects."""
    n = bucket_max or cfg.bucket_max_records
    budget = max(pandas_budget if pandas_budget is not None else cfg.divide_pandas_budget, n)
    depth_limit = cfg.divide_depth_limit
    bounds, rows = global_bounds(features)
    boxes = _grid_boxes(bounds, gx, gy)
    with_cell = assign_grid_cell(features, bounds, gx, gy)
    if rows <= budget:  # no cell can be over budget: skip the per-cell count
        return _divide_cells_in_pandas(with_cell, boxes, n, depth_limit, budget)

    cell_rows = {
        int(r["grid_cell"]): int(r["cnt"])
        for r in with_cell.groupBy("grid_cell").agg(F.count("*").alias("cnt")).collect()
    }
    over = sorted(c for c, cnt in cell_rows.items() if cnt > budget)
    if not over:
        return _divide_cells_in_pandas(with_cell, boxes, n, depth_limit, budget)

    small = with_cell.where(~F.col("grid_cell").isin(over))
    big = with_cell.where(F.col("grid_cell").isin(over))
    big_out = _quadtree_distributed(
        big, boxes, {c: cell_rows[c] for c in over}, n, depth_limit, budget
    )
    if len(over) == len(cell_rows):
        return big_out
    small_out = _divide_cells_in_pandas(small, boxes, n, depth_limit, budget)
    return small_out.unionByName(big_out)


_QT_LEVELS_PER_ROUND = 6  # 4^6 = 4096-way fan-out per driver round


def _quadtree_distributed(
    big: DataFrame, boxes, over_counts: dict, n: int, depth_limit: int, budget: int
) -> DataFrame:
    """Distributed quadtree for over-budget grid cells (see
    quadtree_partition docstring). Phase A: stateless K-level descent
    rounds — the descent is a pure function of (coords, cell box), so
    each round is ONE map-only pass over a 6-column projection plus a
    node-count aggregate; the driver holds tree metadata only and NO
    row data is cached, checkpointed or shuffled wide (this is what
    keeps the pass viable at 10^8+ rows — an earlier draft that
    checkpointed full rows per round OOM'd at 52.8M). Phase B: exact
    per-node ``divide`` on sub-budget nodes (reference recursion,
    group-size guarded). Bucket ids/bboxes renumbered per cell by BFS
    emission-order replay — identical to the single-worker result."""
    spark = big.sparkSession
    feature_cols = [f.name for f in big.schema.fields]

    def _f32box(b):
        return tuple(np.float32(v) for v in b)

    root_boxes = {c: _f32box(boxes[c]) for c in over_counts}
    active: dict[tuple[int, str], tuple[tuple, int, int]] = {
        (c, ""): (root_boxes[c], 0, cnt) for c, cnt in over_counts.items()
    }
    leaves: dict[tuple[int, str], tuple] = {}
    phase_b: dict[tuple[int, str], tuple[tuple, int]] = {}
    narrow = big.select("grid_cell", "minx", "miny", "maxx", "maxy", "kind")
    round_depth = 0

    while active:
        levels = min(_QT_LEVELS_PER_ROUND, max(depth_limit - round_depth, 1))
        dec_keys = {}
        for (c, p) in list(leaves) + list(phase_b):
            dec_keys.setdefault(c, []).append(_path_key(p))
        dec_keys = {
            c: np.array(sorted(v), dtype=np.int64) for c, v in dec_keys.items()
        }
        st = _frontier_stats_udf(root_boxes, dec_keys, round_depth, levels)(
            "grid_cell", "minx", "miny", "maxx", "maxy", "kind"
        )
        agg = [F.count(F.lit(1)).alias("_cnt")] + [
            F.min(F.col("_sg")[i].cast("int")).alias(f"_sg{i}") for i in range(levels)
        ]
        stats = (
            narrow.select("grid_cell", st.alias("_st"))
            .where(F.col("_st.path").isNotNull())
            .select(
                "grid_cell",
                F.col("_st.path").alias("_path"),
                F.col("_st.sg").alias("_sg"),
            )
            .groupBy("grid_cell", "_path")
            .agg(*agg)
            .collect()
        )
        by_node: dict[tuple[int, str], list] = {}
        for r in stats:
            by_node.setdefault(
                (int(r["grid_cell"]), r["_path"][:round_depth]), []
            ).append(r)

        next_active: dict[tuple[int, str], tuple[tuple, int, int]] = {}

        def _process(cell, path, box, depth, cnt, rows, level):
            """Replay divide's per-node rules from aggregates; rows =
            stat rows (deepest descendants) under this node."""
            if level == levels:  # survived the whole round
                if cnt > budget:
                    next_active[(cell, path)] = (box, depth, cnt)
                else:
                    phase_b[(cell, path)] = (box, depth)
                return
            children, span_x, span_y = _child_boxes(*box)
            pos = len(path)
            groups: dict[str, list] = {"0": [], "1": [], "2": [], "3": []}
            for r in rows:
                groups[r["_path"][pos]].append(r)
            for j in "0123":
                rws = groups[j]
                if not rws:
                    continue
                ccnt = sum(r["_cnt"] for r in rws)
                cbox = tuple(np.float32(v) for v in children[int(j)])
                cpath = path + j
                cdepth = depth + 1
                if ccnt <= n:
                    leaves[(cell, cpath)] = cbox
                elif ccnt == cnt:
                    sg_all = all(r[f"_sg{level}"] == 1 for r in rws)
                    if sg_all or cdepth >= depth_limit:
                        leaves[(cell, cpath)] = cbox
                    else:
                        _process(cell, cpath, cbox, cdepth, ccnt, rws, level + 1)
                elif cdepth >= depth_limit:
                    leaves[(cell, cpath)] = cbox
                else:
                    _process(cell, cpath, cbox, cdepth, ccnt, rws, level + 1)

        for (cell, path), (box, depth, cnt) in active.items():
            _process(cell, path, box, depth, cnt, by_node.get((cell, path), []), 0)

        active = next_active
        round_depth += levels

    # ---- tag every row with its decided node (map-only, stateless)
    decided: dict[int, dict[str, bool]] = {}
    for (c, p) in leaves:
        decided.setdefault(c, {})[p] = True
    for (c, p) in phase_b:
        decided.setdefault(c, {})[p] = False
    tag = _node_tag_udf(root_boxes, decided)(
        "grid_cell", "minx", "miny", "maxx", "maxy", "kind"
    )
    tagged = big.withColumn("_nd", tag).withColumn(
        "_node", F.col("_nd.node")
    ).withColumn("_leafish", F.col("_nd.is_leaf")).drop("_nd")

    leaf_rows = tagged.where(F.col("_leafish")).withColumnRenamed("_node", "_leaf") \
        .drop("_leafish")

    # ---- phase B: exact divide inside each sub-budget node
    div_in = tagged.where(~F.col("_leafish")).drop("_leafish")
    pb_schema = StructType(
        [f for f in big.schema.fields]
        + [StructField("_leaf", StringType(), False)]
    )
    pb_map = {f"{c}:{p}": (box, d) for (c, p), (box, d) in phase_b.items()}

    def _run_divide(cell, node, pdf):
        box, depth = pb_map[f"{cell}:{node}"]
        if len(pdf) > budget:
            raise RuntimeError(
                f"quadtree node {cell}:{node!r} materialized {len(pdf)} rows "
                f"> pandas budget {budget}"
            )
        return divide(
            n,
            tuple(float(v) for v in box),
            pdf["minx"].to_numpy(), pdf["miny"].to_numpy(),
            pdf["maxx"].to_numpy(), pdf["maxy"].to_numpy(),
            pdf["kind"].to_numpy() == 0,
            depth_limit=depth_limit - depth,
            return_paths=True,
        )

    def _divide_node(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cell, node = int(key[0]), key[1]
        buckets = _run_divide(cell, node, pdf)
        pdf = pdf.drop(columns=["_node"]).reset_index(drop=True)
        leaf_col = np.empty(len(pdf), dtype=object)
        for _bbox, idx, lpath in buckets:
            leaf_col[idx] = node + lpath
        pdf["_leaf"] = leaf_col
        return pdf

    div_rows = (
        kernel_partitions(div_in, "grid_cell", "_node")
        .groupBy("grid_cell", "_node")
        .applyInPandas(_divide_node, pb_schema)
    )

    # ---- leaf metadata for renumbering: a second divide pass over the
    # NARROW projection emits one row per leaf (tiny output — bucket
    # metadata, not row data); this costs one extra bounded divide per
    # node but keeps the whole operator cache-free and lazily composable
    meta_schema = StructType([
        StructField("grid_cell", IntegerType(), False),
        StructField("_leaf", StringType(), False),
        StructField("lminx", DoubleType(), False),
        StructField("lminy", DoubleType(), False),
        StructField("lmaxx", DoubleType(), False),
        StructField("lmaxy", DoubleType(), False),
    ])

    def _divide_meta(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cell, node = int(key[0]), key[1]
        buckets = _run_divide(cell, node, pdf)
        return pd.DataFrame({
            "grid_cell": [cell] * len(buckets),
            "_leaf": [node + lp for _b, _i, lp in buckets],
            "lminx": [float(b[0]) for b, _i, _lp in buckets],
            "lminy": [float(b[1]) for b, _i, _lp in buckets],
            "lmaxx": [float(b[2]) for b, _i, _lp in buckets],
            "lmaxy": [float(b[3]) for b, _i, _lp in buckets],
        })

    narrow_div = div_in.select("grid_cell", "_node", "minx", "miny", "maxx", "maxy", "kind")
    pb_meta = (
        kernel_partitions(narrow_div, "grid_cell", "_node")
        .groupBy("grid_cell", "_node")
        .applyInPandas(_divide_meta, meta_schema)
    )

    # ---- renumber leaves per cell in reference emission order
    per_cell: dict[int, dict[str, tuple]] = {}
    for (c, p), box in leaves.items():
        per_cell.setdefault(c, {})[p] = tuple(float(v) for v in box)
    for r in pb_meta.collect():
        per_cell.setdefault(int(r["grid_cell"]), {})[r["_leaf"]] = (
            r["lminx"], r["lminy"], r["lmaxx"], r["lmaxy"],
        )
    num_rows = []
    for c, lp in per_cell.items():
        order = _emission_order(lp.keys())
        for p, b in lp.items():
            num_rows.append((c, p, order[p], b[0], b[1], b[2], b[3]))
    # Arrow-path createDataFrame (see pages.fixture_pages): no
    # Python-worker scan; num_rows is never empty (over-budget cells
    # always yield leaves)
    num_df = spark.createDataFrame(
        pd.DataFrame(num_rows, columns=[
            "grid_cell", "_leaf", "bucket", "bminx", "bminy", "bmaxx", "bmaxy",
        ]),
        "grid_cell int, _leaf string, bucket int, "
        "bminx double, bminy double, bmaxx double, bmaxy double",
    )

    all_rows = leaf_rows.select(*feature_cols, "_leaf").unionByName(
        div_rows.select(*feature_cols, "_leaf")
    )
    out_cols = feature_cols + ["bucket", "bminx", "bminy", "bmaxx", "bmaxy"]
    # broadcast: num_df is bucket METADATA (#buckets rows), so the big
    # side never shuffles here — map-side join only
    return all_rows.join(F.broadcast(num_df), ["grid_cell", "_leaf"]).select(*out_cols)


# ------------------------------------------------------------- salting

def cell_counts(df: DataFrame, cell_col: str = "hex_cell") -> DataFrame:
    """A5 analog: per-cell row counts (map-side partial agg)."""
    return df.groupBy(cell_col).agg(F.count("*").alias("n"))


def salt_hot_cells(
    df: DataFrame,
    cell_col: str = "hex_cell",
    cfg: EngineConfig = DEFAULT,
    bucket_max: int | None = None,
    id_col: str = "id",
    materialize: bool = True,
) -> DataFrame:
    """Explicit skew defusal (north_rule): cells whose count exceeds the
    bucket bound get ``ceil(count / bound)`` salts; rows are salted by a
    deterministic LCG hash of their (numeric) id — pure int64
    arithmetic, so the full operator is cross-engine reproducible and
    exactly oracled by the `salt_hot_cells` contract query (id is
    pre-folded mod 2^31 so the multiply never overflows int64 under
    ANSI). The (cell, salt) pair is then a bounded shuffle/write key —
    the declarative analog of the reference's quadtree overflow
    splitting (src/divide.rs:12,54).

    ``materialize`` (default True): the input feeds TWO consumers — the
    per-cell counts and the salted join stream — so a lazy
    localCheckpoint executes the upstream plan once and lets both read
    the same blocks (round-8 profile: the quadtree optimize chain
    upstream executed twice per pass, ~0.6 s of the tiling bench). The
    blocks spill via MEMORY_AND_DISK and are freed by the
    ContextCleaner with the plan. Pass ``materialize=False`` when the
    input is a cheap stored-table scan at cluster scale — re-scanning
    storage twice is cheaper there than caching a corpus-sized
    intermediate."""
    n = bucket_max or cfg.bucket_max_records
    id_type = df.schema[id_col].dataType.typeName()
    if id_type not in (
        "byte", "short", "integer", "long", "float", "double", "decimal",
    ):
        raise TypeError(
            f"salt_hot_cells needs a numeric id column; {id_col!r} is "
            f"{id_type} — a string id silently casts to NULL and would "
            "collapse every hot-cell row onto one salt; pre-hash it to "
            "a long (e.g. xxhash64) first"
        )
    if materialize:
        df = df.localCheckpoint(eager=False)
    counts = cell_counts(df, cell_col)
    hot = counts.where(F.col("n") > n).select(
        cell_col, F.ceil(F.col("n") / n).cast("int").alias("n_salts")
    )
    out = df.join(F.broadcast(hot), cell_col, "left")
    lcg = F.pmod(
        F.pmod(F.col(id_col).cast("long"), F.lit(2147483648)) * 1103515245
        + 12345,
        F.lit(2147483648),
    )
    return out.withColumn(
        "salt",
        F.when(
            F.col("n_salts").isNotNull(),
            F.pmod(lcg, F.col("n_salts")).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("n_salts")


# ------------------------------------------------------- tile pyramid

def with_tile_xyz(df: DataFrame, z: int, lon_col="minx", lat_col="miny") -> DataFrame:
    """Web-mercator tile coordinates at zoom z — pure JVM expressions."""
    n = float(2 ** z)
    lon = F.col(lon_col).cast("double")
    lat = F.greatest(F.lit(-85.05112878), F.least(F.lit(85.05112878), F.col(lat_col).cast("double")))
    phi = F.radians(lat)
    tx = F.floor((lon + 180.0) / 360.0 * n)
    ty = F.floor((1.0 - F.log(F.tan(phi) + 1.0 / F.cos(phi)) / math.pi) / 2.0 * n)
    clamp = lambda c: F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), c))  # noqa: E731
    return (
        df.withColumn("tile_z", F.lit(z))
        .withColumn("tile_x", clamp(tx).cast("int"))
        .withColumn("tile_y", clamp(ty).cast("int"))
    )


def tile_pyramid(df: DataFrame, max_z: int,
                 lon_col="minx", lat_col="miny") -> DataFrame:
    """Per-tile feature counts for EVERY zoom 0..max_z in ONE shuffle:
    each row fans out to its max_z+1 ancestor tiles (ancestor coords
    are bit shifts of the base tile), then a single groupBy counts.
    The explode multiplies rows ×(max_z+1), but partial aggregation
    (map-side combine) collapses them to ~distinct-tile cardinality
    per task before the exchange — at 100 TB this beats max_z+1
    separate aggregation jobs or an iterative bottom-up rollup by a
    wide margin (one scan, one exchange, no driver loop)."""
    base = with_tile_xyz(df, max_z, lon_col, lat_col)
    fan = base.select(
        F.explode(F.sequence(F.lit(0), F.lit(max_z))).alias("tile_z"),
        F.col("tile_x").alias("bx"), F.col("tile_y").alias("by"),
    )
    return (
        fan.select(
            "tile_z",
            F.expr(f"bx div shiftleft(1, {max_z} - tile_z)")
            .cast("int").alias("tile_x"),
            F.expr(f"by div shiftleft(1, {max_z} - tile_z)")
            .cast("int").alias("tile_y"),
        )
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )


VECTOR_TILE_SCHEMA = StructType([
    StructField("tile_z", IntegerType(), False),
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("n_features", LongType(), False),
    StructField("payload", BinaryType(), False),
])


def vector_tiles(features: DataFrame, z: int) -> DataFrame:
    """Materialize vector tiles: per web-mercator tile, features sorted
    by id, payloads concatenated with a little header (deterministic)."""
    tiled = with_tile_xyz(features, z)

    def _pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        buf = io.BytesIO()
        for payload in pdf["encoded"]:
            b = bytes(payload)
            buf.write(len(b).to_bytes(4, "little"))
            buf.write(b)
        return pd.DataFrame(
            {
                "tile_z": [int(key[0])], "tile_x": [int(key[1])], "tile_y": [int(key[2])],
                "n_features": [len(pdf)], "payload": [buf.getvalue()],
            }
        )

    return (
        kernel_partitions(tiled, "tile_z", "tile_x", "tile_y")
        .groupBy("tile_z", "tile_x", "tile_y")
        .applyInPandas(_pack, VECTOR_TILE_SCHEMA)
    )


RASTER_TILE_SCHEMA = StructType([
    StructField("tile_z", IntegerType(), False),
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("px", IntegerType(), False),
    StructField("n_points", LongType(), False),
    StructField("grid", BinaryType(), False),  # px*px little-endian uint32 counts
])


def raster_tiles(features: DataFrame, z: int, px: int = 256) -> DataFrame:
    """Rasterize features into per-tile count grids (px×px uint32).
    Image encoding (PNG/JPEG) is intentionally out of scope here — no
    imaging libs in this environment; the grid binary is the raster.
    Uses feature centroids; numpy histogram2d per tile."""
    tiled = with_tile_xyz(
        features.withColumn("_cx", (F.col("minx") + F.col("maxx")) / 2)
        .withColumn("_cy", (F.col("miny") + F.col("maxy")) / 2),
        z, lon_col="_cx", lat_col="_cy",
    )

    n = float(2 ** z)

    def _rasterize(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tz, tx, ty = int(key[0]), int(key[1]), int(key[2])
        # tile bounds in lon / mercator-y
        lon0 = tx / n * 360.0 - 180.0
        lon1 = (tx + 1) / n * 360.0 - 180.0
        def merc_lat(yt):
            yy = math.pi * (1 - 2 * yt / n)
            return math.degrees(math.atan(math.sinh(yy)))
        lat1 = merc_lat(ty)      # top
        lat0 = merc_lat(ty + 1)  # bottom
        cx = pdf["_cx"].to_numpy()
        cy = pdf["_cy"].to_numpy()
        grid, _, _ = np.histogram2d(
            cy, cx, bins=px, range=[[lat0, lat1], [lon0, lon1]]
        )
        return pd.DataFrame(
            {
                "tile_z": [tz], "tile_x": [tx], "tile_y": [ty], "px": [px],
                "n_points": [len(pdf)],
                "grid": [grid.astype("<u4").tobytes()],
            }
        )

    return (
        kernel_partitions(tiled, "tile_z", "tile_x", "tile_y")
        .groupBy("tile_z", "tile_x", "tile_y")
        .applyInPandas(_rasterize, RASTER_TILE_SCHEMA)
    )


RASTER_POINTS_SCHEMA = StructType([
    StructField("tile_z", IntegerType(), False),
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("lon", DoubleType(), False),
    StructField("lat", DoubleType(), False),
    StructField("count", LongType(), False),
])


def raster_to_vector(rasters: DataFrame) -> DataFrame:
    """The reverse direction: raster count grids → point features at
    non-empty pixel centers (raster↔vector round trip)."""
    def _vectorize(it):
        for pdf in it:
            rows = {"tile_z": [], "tile_x": [], "tile_y": [], "lon": [], "lat": [], "count": []}
            cols = (pdf[c].to_numpy() for c in ("tile_z", "tile_x", "tile_y", "px", "grid"))
            for tz, tx_v, ty_v, px_v, grid_b in zip(*cols):
                px = int(px_v)
                n = float(2 ** int(tz))
                grid = np.frombuffer(bytes(grid_b), dtype="<u4").reshape(px, px)
                ys, xs = np.nonzero(grid)
                if len(ys) == 0:
                    continue
                tx, ty = int(tx_v), int(ty_v)
                lon0 = tx / n * 360.0 - 180.0
                lon1 = (tx + 1) / n * 360.0 - 180.0

                def merc_lat(yt):
                    yy = math.pi * (1 - 2 * yt / n)
                    return math.degrees(math.atan(math.sinh(yy)))

                lat1 = merc_lat(ty)
                lat0 = merc_lat(ty + 1)
                lon = lon0 + (xs + 0.5) / px * (lon1 - lon0)
                lat = lat0 + (ys + 0.5) / px * (lat1 - lat0)
                rows["tile_z"].extend([int(tz)] * len(ys))
                rows["tile_x"].extend([tx] * len(ys))
                rows["tile_y"].extend([ty] * len(ys))
                rows["lon"].extend(lon.tolist())
                rows["lat"].extend(lat.tolist())
                rows["count"].extend(grid[ys, xs].astype(np.int64).tolist())
            yield pd.DataFrame(rows)

    return rasters.mapInPandas(_vectorize, RASTER_POINTS_SCHEMA)


def retile_incremental(
    old_tiles: DataFrame,
    old_features: DataFrame,
    new_features: DataFrame,
    changed_feature_ids: DataFrame,
    z: int,
) -> DataFrame:
    """Incremental vector-tile maintenance after a changeset: recompute
    ONLY the tiles whose content changed; every other tile row passes
    through untouched.

    Extends the changeset capability (operators/changeset.py — itself
    beyond the reference, which left updates `unimplemented!` at
    /root/reference/src/bin.rs:229-231) from the feature table to the
    materialized tile layer.

    Inputs: ``old_tiles`` = vector_tiles output for ``old_features``;
    ``old_features`` / ``new_features`` = the feature table before and
    after apply_changeset; ``changed_feature_ids`` = 1-column (id)
    frame of affected feature ids (created + modified + deleted).

    affected tiles = tiles of changed ids in the OLD table (covers
    moves + deletes, whose stale payloads must re-pack) ∪ tiles of
    changed ids in the NEW table (covers creates + move targets);
    result = old_tiles ∖ affected ∪ vector_tiles(new features in
    affected tiles).

    Scale shape: affected-tile discovery is two semi-joins; the
    anti-join passes the (overwhelmingly unaffected) tile majority
    through by key only; re-packing touches only affected tiles'
    features.
    """
    def _tiles_of(features: DataFrame) -> DataFrame:
        changed = features.join(changed_feature_ids, "id", "left_semi")
        return with_tile_xyz(changed, z).select("tile_z", "tile_x", "tile_y")

    affected = _tiles_of(old_features).unionByName(
        _tiles_of(new_features)
    ).distinct()

    kept = old_tiles.join(affected, ["tile_z", "tile_x", "tile_y"], "left_anti")
    affected_feats = with_tile_xyz(new_features, z).join(
        affected, ["tile_z", "tile_x", "tile_y"], "left_semi"
    ).drop("tile_z", "tile_x", "tile_y")
    repacked = vector_tiles(affected_feats, z)
    return kept.unionByName(repacked)


# ------------------------------------------------- MVT-encoded tiles

_MERC_LAT_MAX = 85.05112878

MVT_TILE_SCHEMA = StructType([
    StructField("tile_z", IntegerType(), False),
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("n_features", LongType(), False),
    StructField("payload", BinaryType(), False),
])

_MVT_FEAT_SCHEMA = StructType([
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("id", LongType(), False),
    StructField("gtype", StringType(), False),
    StructField("geom", BinaryType(), False),
    StructField("n_pts", IntegerType(), False),
])

_GTYPE_CODE = {"point": 1, "line": 2, "polygon": 3}
_GTYPE_NAME = {v: k for k, v in _GTYPE_CODE.items()}


def _merc_norm(lons: "np.ndarray", lats: "np.ndarray"):
    """lon/lat → normalized web-mercator [0,1]² (numpy twin of
    with_tile_xyz's JVM expressions)."""
    x = (lons + 180.0) / 360.0
    la = np.clip(lats, -_MERC_LAT_MAX, _MERC_LAT_MAX)
    phi = np.radians(la)
    y = (1.0 - np.log(np.tan(phi) + 1.0 / np.cos(phi)) / math.pi) / 2.0
    return x, y


def mvt_tiles(
    geoms: DataFrame,
    z: int,
    extent: int = 4096,
    buffer_px: int = 64,
    tolerance_px: float = 1.0,
) -> DataFrame:
    """Materialize MVT-style tiles from raw geometries: per web-mercator
    tile at zoom ``z``, clip each geometry to the buffered tile square,
    Douglas-Peucker-simplify at ``tolerance_px`` tile units, quantize to
    the ``extent`` integer grid, and pack the MVT 2.1 command-stream
    encoding (functions/mvt.py).

    Input ``geoms``: (id long, gtype string in point|line|polygon,
    xs array<double> lons, ys array<double> lats); polygon xs/ys is the
    unclosed OUTER ring, with optional interior rings in ``hole_xs`` /
    ``hole_ys`` (array<array<double>>) — encoded as MVT interior rings
    (negative surveyor's-formula area) after per-tile clipping.

    Plan shape (100 TB): tile assignment is pure JVM expressions over
    the geometry's projected bbox (array_min/max of transform()), the
    per-(geometry, tile) clip/simplify/quantize/encode chain is ONE
    Arrow-batched kernel running map-side, and the only shuffle is the
    per-tile pack (groupBy tile → applyInPandas). A geometry spanning
    many tiles fans out via sequence()+explode BEFORE the kernel, so
    clipping parallelism follows tile count, not input row count. Tile
    payload size is bounded by zoom choice (clients cap tile bytes);
    per-tile feature lists at low zoom are the operator's unit of work
    by definition — pick z per layer accordingly (the quadtree
    bucket path handles unbounded-density storage partitioning).

    Output: (tile_z, tile_x, tile_y, n_features, payload). Payload =
    varint(n_features) then per feature (sorted by id): varint(id),
    gtype byte (1/2/3), varint(len(geom)), geom command-stream.
    Deterministic bytes (golden-tested; decode_mvt_payload inverts).
    """
    from ..functions import mvt as M
    from ..functions import varint

    n = int(2 ** z)
    pad = float(buffer_px) / float(extent)

    lon_x = lambda c: (c + F.lit(180.0)) / F.lit(360.0)  # noqa: E731

    def lat_y(c):
        la = F.greatest(F.lit(-_MERC_LAT_MAX), F.least(F.lit(_MERC_LAT_MAX), c))
        phi = F.radians(la)
        return (F.lit(1.0) - F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi)) / F.lit(math.pi)) / F.lit(2.0)

    xn = F.transform(F.col("xs"), lon_x)
    yn = F.transform(F.col("ys"), lat_y)
    clamp = lambda c: F.greatest(F.lit(0), F.least(F.lit(n - 1), c.cast("int")))  # noqa: E731

    # spread BEFORE the fan-out: the tile-assignment transforms, the
    # explode and the encode kernel then all run in one parallel stage,
    # and the repartition exchange carries the raw geometry rows rather
    # than the fanned-out (geometry × tile) arrays (round-8 profile: a
    # single-file scan serialized the whole fan-out on 1 task and the
    # post-fan-out spread shuffled 28 MB of duplicated arrays)
    geoms = kernel_partitions(geoms)

    has_holes = "hole_xs" in geoms.columns
    if not has_holes:
        geoms = geoms.withColumn(
            "hole_xs", F.array().cast("array<array<double>>")
        ).withColumn("hole_ys", F.array().cast("array<array<double>>"))

    # holes lie inside the outer ring by definition, so the outer
    # ring's bbox bounds the tile fan-out for the whole polygon
    fanned = (
        geoms.where(F.size("xs") > 0)
        .withColumn("_tx0", clamp(F.floor((F.array_min(xn) - pad) * n)))
        .withColumn("_tx1", clamp(F.floor((F.array_max(xn) + pad) * n)))
        .withColumn("_ty0", clamp(F.floor((F.array_min(yn) - pad) * n)))
        .withColumn("_ty1", clamp(F.floor((F.array_max(yn) + pad) * n)))
        .withColumn("tile_x", F.explode(F.sequence("_tx0", "_tx1")))
        .withColumn("tile_y", F.explode(F.sequence("_ty0", "_ty1")))
        .select("tile_x", "tile_y", "id", "gtype", "xs", "ys",
                "hole_xs", "hole_ys")
    )

    ext = float(extent)

    lo_clip, hi_clip = -float(buffer_px), ext + float(buffer_px)

    def _encode_batches(it):
        for pdf in it:
            out = {k: [] for k in
                   ("tile_x", "tile_y", "id", "gtype", "geom", "n_pts")}
            # vectorized fast path for single-coordinate points (the
            # dominant row shape in point layers): one numpy pass over
            # the whole batch — mercator, tile-local transform, clip
            # mask, quantize, vectorized varints — instead of a
            # tile_geometry + encode_geometry call per row (~245 µs/row
            # of per-call machinery for ~10 arithmetic ops; round-8
            # profile). Byte-identical: a kept point encodes as
            # varint(9) + varint(zigzag(qx)) + varint(zigzag(qy)),
            # exactly encode_geometry('point', [(qx, qy)]), and the
            # quantize/clip arithmetic is the same op order as
            # tile_geometry's point branch.
            npdf = len(pdf)
            is_pt1 = np.fromiter(
                (
                    (g == "point") and (len(x) == 1)
                    for g, x in zip(pdf["gtype"], pdf["xs"])
                ),
                dtype=bool, count=npdf,
            )
            if is_pt1.any():
                sub = pdf[is_pt1]
                nsub = len(sub)
                x0 = np.fromiter((x[0] for x in sub["xs"]), dtype=np.float64, count=nsub)
                y0 = np.fromiter((y[0] for y in sub["ys"]), dtype=np.float64, count=nsub)
                gx, gy = _merc_norm(x0, y0)
                txa = sub["tile_x"].to_numpy().astype(np.float64)
                tya = sub["tile_y"].to_numpy().astype(np.float64)
                lx = gx * (n * ext) - txa * ext
                ly = gy * (n * ext) - tya * ext
                m = (lx >= lo_clip) & (lx <= hi_clip) & (ly >= lo_clip) & (ly <= hi_clip)
                if m.any():
                    from ..functions.mvt import zigzag as _zz
                    qx = np.floor(lx[m] + 0.5).astype(np.int64)
                    qy = np.floor(ly[m] + 0.5).astype(np.int64)
                    mx, lenx = varint.encode_matrix(_zz(qx))
                    my_, leny = varint.encode_matrix(_zz(qy))
                    ids = sub["id"].to_numpy()[m]
                    txk = sub["tile_x"].to_numpy()[m]
                    tyk = sub["tile_y"].to_numpy()[m]
                    out["tile_x"].extend(int(v) for v in txk)
                    out["tile_y"].extend(int(v) for v in tyk)
                    out["id"].extend(int(v) for v in ids)
                    out["gtype"].extend(["point"] * len(ids))
                    out["geom"].extend(
                        b"\x09" + mx[i, :lenx[i]].tobytes() + my_[i, :leny[i]].tobytes()
                        for i in range(len(ids))
                    )
                    out["n_pts"].extend([1] * len(ids))
                pdf = pdf[~is_pt1]
            for tx, ty, fid, gtype, xs, ys, hxs, hys in zip(
                pdf["tile_x"], pdf["tile_y"], pdf["id"], pdf["gtype"],
                pdf["xs"], pdf["ys"], pdf["hole_xs"], pdf["hole_ys"],
            ):
                gx, gy = _merc_norm(np.asarray(xs, dtype=np.float64),
                                    np.asarray(ys, dtype=np.float64))
                lx = gx * (n * ext) - float(tx) * ext
                ly = gy * (n * ext) - float(ty) * ext
                holes = []
                if hxs is None or hys is None:
                    hxs, hys = (), ()
                for hx, hy in zip(hxs, hys):
                    ghx, ghy = _merc_norm(np.asarray(hx, dtype=np.float64),
                                          np.asarray(hy, dtype=np.float64))
                    holes.append((ghx * (n * ext) - float(tx) * ext,
                                  ghy * (n * ext) - float(ty) * ext))
                parts = M.tile_geometry(gtype, lx, ly, extent=extent,
                                        buf=buffer_px, tol=tolerance_px,
                                        holes=holes)
                if not parts:
                    continue
                out["tile_x"].append(int(tx))
                out["tile_y"].append(int(ty))
                out["id"].append(int(fid))
                out["gtype"].append(gtype)
                out["geom"].append(M.encode_geometry(gtype, parts))
                out["n_pts"].append(int(sum(len(p[0]) for p in parts)))
            yield pd.DataFrame(out)

    feats = fanned.mapInPandas(_encode_batches, _MVT_FEAT_SCHEMA)

    def _pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        buf = io.BytesIO()
        buf.write(varint.encode(len(pdf)))
        for fid, gtype, geom in zip(pdf["id"], pdf["gtype"], pdf["geom"]):
            buf.write(varint.encode(int(fid)))
            buf.write(bytes([_GTYPE_CODE[gtype]]))
            g = bytes(geom)
            buf.write(varint.encode(len(g)))
            buf.write(g)
        return pd.DataFrame({
            "tile_z": [z], "tile_x": [int(key[0])], "tile_y": [int(key[1])],
            "n_features": [len(pdf)], "payload": [buf.getvalue()],
        })

    return (
        kernel_partitions(feats, "tile_x", "tile_y")
        .groupBy("tile_x", "tile_y")
        .applyInPandas(_pack, MVT_TILE_SCHEMA)
    )


def decode_mvt_payload_point_sums(payload: bytes):
    """(sum_qx, sum_qy) over every decoded coordinate of a tile
    payload — the aggregate the mvt_points_tiles contract row needs.

    Fast path: an all-single-point payload is, at the byte level, a
    flat varint stream with a fixed stride of 6 varints per feature
    (id, gtype byte 1, glen, MoveTo command 9, zigzag qx, zigzag qy —
    the gtype byte is < 0x80 so it parses as a 1-byte varint), which
    one numpy pass decodes whole: varint boundaries are the bytes with
    the continuation bit clear, values fold in ≤ ten vectorized
    shift-or steps, and the stride pattern is VERIFIED (count, gtype
    and command slots, per-feature glen equal to its measured
    geometry byte span) before being trusted. Any payload that fails
    a check — lines, polygons, multi-point features — falls back to
    the exact per-feature decoder, so the result is always identical
    to summing decode_mvt_payload's parts (parity-tested either way).
    ~20× the per-feature Python loop on point tiles (round-8: the
    mvt_points_tiles query spent ~1.4 s/run decoding 3,431 tiles)."""
    import numpy as np

    buf = np.frombuffer(payload, dtype=np.uint8)
    ends = np.nonzero(buf < 0x80)[0]
    n_v = len(ends)
    starts = np.empty(n_v, dtype=np.int64)
    if n_v:
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    ok = (
        n_v >= 1
        and len(payload)
        and int(ends[-1]) == len(payload) - 1
        and int(lens.max(initial=1)) <= 10
    )
    if ok:
        vals = np.zeros(n_v, dtype=np.uint64)
        for j in range(int(lens.max())):
            m = lens > j
            vals[m] |= (buf[starts[m] + j].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
        n_feat = int(vals[0])
        ok = n_v == 1 + 6 * n_feat
        if ok and n_feat:
            idx = 1 + 6 * np.arange(n_feat, dtype=np.int64)
            geom_bytes = lens[idx + 3] + lens[idx + 4] + lens[idx + 5]
            ok = (
                bool(np.all(vals[idx + 1] == 1))        # gtype byte: point
                and bool(np.all(lens[idx + 1] == 1))     # ...exactly one byte
                and bool(np.all(vals[idx + 3] == 9))     # MoveTo, count 1
                and bool(np.all(vals[idx + 2] == geom_bytes))  # glen spans geom
            )
        if ok:
            if not n_feat:
                return 0, 0
            zx = vals[idx + 4]
            zy = vals[idx + 5]
            unzig = lambda u: (u >> np.uint64(1)).astype(np.int64) ^ -(u & np.uint64(1)).astype(np.int64)  # noqa: E731
            return int(unzig(zx).sum()), int(unzig(zy).sum())
    feats = decode_mvt_payload(payload)
    sqx = sum(int(part[0].sum()) for f in feats for part in f[2])
    sqy = sum(int(part[1].sum()) for f in feats for part in f[2])
    return sqx, sqy


def decode_mvt_payload(payload: bytes):
    """Inverse of mvt_tiles' per-tile pack → list of
    (id, gtype, [(qx, qy) int64 arrays])."""
    from ..functions import mvt as M
    from ..functions import varint

    pos = 0
    used, n_feat = varint.decode(payload, pos)
    pos += used
    feats = []
    for _ in range(n_feat):
        used, fid = varint.decode(payload, pos)
        pos += used
        gtype = _GTYPE_NAME[payload[pos]]
        pos += 1
        used, glen = varint.decode(payload, pos)
        pos += used
        parts = M.decode_geometry(gtype, payload[pos:pos + glen])
        pos += glen
        feats.append((fid, gtype, parts))
    assert pos == len(payload), "trailing bytes in tile payload"
    return feats


def feature_geometries(
    nodes: DataFrame,
    assembled_ways: DataFrame,
    assembled_relations: DataFrame,
) -> DataFrame:
    """Adapt the assembled element frames (operators/assemble.py) to
    mvt_tiles' geometry schema — all pure JVM array expressions.

    - tagged nodes → point geometries;
    - ways → polygon when the resolved ring closes (closing vertex
      stripped), else line;
    - relations → one polygon per relation: first outer ring is the
      exterior, every inner ring attaches as a hole. (Multi-outer
      relations would need ring-containment tests to group holes; the
      corpus generator emits single-outer multipolygons, matching the
      reference fixture relation 700.)

    Ring splitting of the relations' flattened coordinate arrays uses
    slice()+aggregate() running offsets — ring counts per relation are
    tiny, so the quadratic offset fold is constant-time in practice.
    """
    tags_type = dict(nodes.dtypes).get("tags", "string")
    tagged = (
        F.size("tags") > 0 if tags_type.startswith("map")
        else F.col("tags") != ""
    )
    pts = nodes.where(tagged).select(
        F.col("id"),
        F.lit("point").alias("gtype"),
        F.array(F.col("lon").cast("double")).alias("xs"),
        F.array(F.col("lat").cast("double")).alias("ys"),
        F.lit(None).cast("array<array<double>>").alias("hole_xs"),
        F.lit(None).cast("array<array<double>>").alias("hole_ys"),
    )

    dbl = lambda c: F.col(c).cast("array<double>")  # noqa: E731
    ways_g = assembled_ways.where(F.col("n_nodes") >= 2).select(
        F.col("way_id").alias("id"),
        F.when(F.col("resolved_closed"), F.lit("polygon"))
        .otherwise(F.lit("line")).alias("gtype"),
        F.when(
            F.col("resolved_closed"),
            F.slice(dbl("xs"), 1, F.size("xs") - 1),
        ).otherwise(dbl("xs")).alias("xs"),
        F.when(
            F.col("resolved_closed"),
            F.slice(dbl("ys"), 1, F.size("ys") - 1),
        ).otherwise(dbl("ys")).alias("ys"),
        F.lit(None).cast("array<array<double>>").alias("hole_xs"),
        F.lit(None).cast("array<array<double>>").alias("hole_ys"),
    )

    rings = F.expr("""
        transform(ring_lens, (len, i) -> named_struct(
          'rxs', slice(cast(xs as array<double>),
                       aggregate(slice(ring_lens, 1, i), 1, (a, b) -> a + b),
                       len),
          'rys', slice(cast(ys as array<double>),
                       aggregate(slice(ring_lens, 1, i), 1, (a, b) -> a + b),
                       len),
          'role', ring_roles[i],
          'closed', ring_closed[i]))
    """)
    strip = (
        "transform(filter(_rings, r -> r.role = 'inner'), r -> "
        "  case when r.closed then slice(r.{c}, 1, size(r.{c}) - 1) "
        "       else r.{c} end)"
    )
    rels_g = (
        assembled_relations.withColumn("_rings", rings)
        .withColumn("_outer", F.expr("filter(_rings, r -> r.role = 'outer')[0]"))
        .where(F.col("_outer").isNotNull() & (F.size("_outer.rxs") >= 3))
        .select(
            F.col("rel_id").alias("id"),
            F.lit("polygon").alias("gtype"),
            F.expr("case when _outer.closed then slice(_outer.rxs, 1, size(_outer.rxs) - 1) else _outer.rxs end").alias("xs"),
            F.expr("case when _outer.closed then slice(_outer.rys, 1, size(_outer.rys) - 1) else _outer.rys end").alias("ys"),
            F.expr(strip.format(c="rxs")).alias("hole_xs"),
            F.expr(strip.format(c="rys")).alias("hole_ys"),
        )
    )

    return pts.unionByName(ways_g).unionByName(rels_g)
