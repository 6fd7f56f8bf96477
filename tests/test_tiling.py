"""Quadtree divide (exact reference semantics), salting, tile pyramid."""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from ingest_spark.config import EngineConfig
from ingest_spark.operators import tiling


def _mk(points=None, rects=None):
    """points: [(x, y)], rects: [(x0, y0, x1, y1)] → divide inputs."""
    points = points or []
    rects = rects or []
    minx = np.array([p[0] for p in points] + [r[0] for r in rects], dtype=np.float32)
    miny = np.array([p[1] for p in points] + [r[1] for r in rects], dtype=np.float32)
    maxx = np.array([p[0] for p in points] + [r[2] for r in rects], dtype=np.float32)
    maxy = np.array([p[1] for p in points] + [r[3] for r in rects], dtype=np.float32)
    scalar = np.array([True] * len(points) + [False] * len(rects))
    return minx, miny, maxx, maxy, scalar


class TestDivide:
    def test_no_split_when_under_bound(self):
        args = _mk(points=[(1, 1), (2, 2)])
        res = tiling.divide(10, (0, 0, 4, 4), *args)
        assert len(res) == 1
        assert sorted(res[0][1].tolist()) == [0, 1]

    def test_partition_complete_and_bounded(self):
        rng = np.random.default_rng(7)
        pts = [(x, y) for x, y in zip(rng.uniform(0, 4, 500), rng.uniform(0, 4, 500))]
        args = _mk(points=pts)
        res = tiling.divide(50, (0, 0, 4, 4), *args)
        seen = np.concatenate([idx for _, idx in res])
        assert sorted(seen.tolist()) == list(range(500))  # exactly once each
        assert all(len(idx) <= 50 for _, idx in res)

    def test_first_index_tiebreak_center_point(self):
        """A scalar point exactly at the 4-way center is inclusively
        contained in all 4 children; strict `>` with best=(0.0, 0)
        keeps the FIRST box (iy=0, ix=0) — reference src/divide.rs:44-51."""
        pts = [(2.0, 2.0), (0.5, 0.5), (0.6, 0.6), (2.5, 0.5), (0.5, 2.5), (2.5, 2.5)]
        args = _mk(points=pts)
        res = tiling.divide(2, (0, 0, 4, 4), *args)
        bucket_of_center = next(bb for bb, idx in res if 0 in idx.tolist())
        # (2,2) is inclusively contained in all four children; first-index
        # tiebreak sends it to child (0,0,2,2), so its final bucket must
        # lie inside that quadrant (last-index semantics would put it in
        # [2,4]×[2,4])
        bx0, by0, bx1, by1 = (float(v) for v in bucket_of_center)
        assert bx1 <= 2.0 and by1 <= 2.0

    def test_all_big_span_guard(self):
        """Rows all spanning the cell terminate the recursion
        (reference src/divide.rs:56-63)."""
        rects = [(0.0, 0.0, 4.0, 4.0)] * 10  # all span every subcell
        args = _mk(rects=rects)
        res = tiling.divide(3, (0, 0, 4, 4), *args)
        # must terminate with one over-full bucket, not loop to depth 30
        assert sum(len(idx) for _, idx in res) == 10
        assert len(res) == 1

    def test_colocated_scalars_hit_depth_limit(self):
        """Scalars never 'span' (coord_span_ge → false), so identical
        points recurse to the depth limit then stop (src/divide.rs:10)."""
        pts = [(1.0, 1.0)] * 10
        args = _mk(points=pts)
        res = tiling.divide(3, (0, 0, 4, 4), *args, depth_limit=5)
        assert sum(len(idx) for _, idx in res) == 10
        assert len(res) == 1  # one bucket, emitted at the guard

    def test_deterministic(self):
        rng = np.random.default_rng(3)
        pts = [(x, y) for x, y in zip(rng.uniform(0, 4, 300), rng.uniform(0, 4, 300))]
        args = _mk(points=pts)
        r1 = tiling.divide(20, (0, 0, 4, 4), *args)
        r2 = tiling.divide(20, (0, 0, 4, 4), *args)
        assert [(b, i.tolist()) for b, i in r1] == [(b, i.tolist()) for b, i in r2]

    def test_mixed_kind_zero_area_goes_to_first_box(self):
        """Reference overlap_area `_ => 0.0` (src/divide.rs:90): a
        mixed/degenerate row gets area 0 everywhere → box 0."""
        # scalar x but interval y is impossible in our model; emulate a
        # rect fully outside every child (can't happen naturally) via a
        # zero-extent rect on the boundary: area 0 in all boxes
        rects = [(4.0, 4.0, 4.0, 4.0)]
        pts = [(0.5, 0.5), (0.6, 0.6), (2.5, 0.5), (2.6, 0.6), (0.5, 2.5), (2.5, 2.5)]
        args = _mk(points=pts, rects=rects)
        res = tiling.divide(4, (0, 0, 4, 4), *args)
        bucket_of_rect = next(bb for bb, idx in res if 6 in idx.tolist())
        assert tuple(float(v) for v in bucket_of_rect)[:2] == (0.0, 0.0)


class TestQuadtreeJob:
    @pytest.fixture(scope="class")
    def feats(self, spark):
        rng = np.random.default_rng(11)
        n = 2000
        rows = [
            (int(i), int(0), float(x), float(y), float(x), float(y))
            for i, (x, y) in enumerate(zip(rng.uniform(-10, 10, n), rng.uniform(-10, 10, n)))
        ]
        return spark.createDataFrame(
            rows, "id long, kind tinyint, minx double, miny double, maxx double, maxy double"
        ).cache()

    def test_quadtree_partition_bounds(self, spark, feats):
        cfg = EngineConfig()
        out = tiling.quadtree_partition(feats, cfg, gx=2, gy=2, bucket_max=100).cache()
        assert out.count() == 2000
        over = (
            out.groupBy("grid_cell", "bucket").count().where(F.col("count") > 100)
        )
        assert over.count() == 0
        # single assignment invariant (no J9 duplicates)
        assert out.select("id").distinct().count() == 2000

    def test_under_budget_runs_no_job_beyond_the_bounds(self, feats, count_jobs):
        """Under the pandas budget no grid cell can exceed it, so the
        plan is built from the bounds aggregate alone, with no per-cell
        count job evaluating the grid UDF an extra time."""
        assert tiling.global_bounds(feats)[1] == 2000  # also fills the cache
        bounds_jobs = count_jobs("qt-bounds", lambda: tiling.global_bounds(feats))
        qt_jobs = count_jobs("qt-plan", lambda: tiling.quadtree_partition(
            feats, EngineConfig(), gx=2, gy=2, bucket_max=100))
        assert bounds_jobs >= 1
        assert qt_jobs == bounds_jobs

    def test_salting_bounds_hot_cells(self, spark, feats):
        df = feats.withColumn("hex_cell", F.lit(1))  # everything in one hot cell
        salted = tiling.salt_hot_cells(df, "hex_cell", bucket_max=250)
        per_key = salted.groupBy("hex_cell", "salt").count()
        assert per_key.count() == 8  # ceil(2000/250)
        assert per_key.agg(F.max("count")).first()[0] <= 2 * 250  # hash spread

    def test_salt_zero_for_cold_cells(self, spark, feats):
        df = feats.withColumn("hex_cell", F.col("id") % 100)
        salted = tiling.salt_hot_cells(df, "hex_cell", bucket_max=250)
        assert salted.where(F.col("salt") != 0).count() == 0


class TestTilePyramid:
    @pytest.fixture(scope="class")
    def feats(self, spark):
        rows = [
            # id, kind, bbox, payload
            (1, 0, 2.35, 48.86, 2.35, 48.86, bytearray(b"\x01aa")),
            (2, 0, 2.36, 48.87, 2.36, 48.87, bytearray(b"\x01bb")),
            (3, 0, -73.98, 40.75, -73.98, 40.75, bytearray(b"\x01cc")),
        ]
        return spark.createDataFrame(
            rows,
            "id long, kind tinyint, minx double, miny double, maxx double, maxy double, encoded binary",
        )

    def test_tile_xyz_known_values(self, spark, feats):
        out = {r.id: (r.tile_x, r.tile_y) for r in tiling.with_tile_xyz(feats, 12).collect()}
        # standard slippy-map tiles: Paris (2.35, 48.86) z12 → (2074, 1409)
        assert out[1] == (2074, 1409)
        # NYC (-73.98, 40.75) z12 → (1206, 1539)
        assert out[3] == (1206, 1539)

    def test_vector_tiles_deterministic_and_sorted(self, spark, feats):
        t = tiling.vector_tiles(feats, 8).orderBy("tile_x").collect()
        assert len(t) == 2  # paris pair shares a z8 tile, NYC separate
        paris = [r for r in t if r.n_features == 2][0]
        payload = bytes(paris.payload)
        # length-prefixed concat, sorted by id: \x03 then b"\x01aa" first
        assert payload == b"\x03\x00\x00\x00\x01aa\x03\x00\x00\x00\x01bb"

    def test_tile_packers_emit_no_user_warning(self, spark, feats):
        geoms = spark.createDataFrame(
            [(1, "point", [2.35], [48.86])],
            "id long, gtype string, xs array<double>, ys array<double>")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            tiling.vector_tiles(feats, 8)
            tiling.raster_tiles(feats, 12, px=64)
            tiling.mvt_tiles(geoms, z=6)
        assert [w for w in caught if issubclass(w.category, UserWarning)] == []

    def test_raster_roundtrip(self, spark, feats):
        r = tiling.raster_tiles(feats, 12, px=64)
        assert r.agg(F.sum("n_points")).first()[0] == 3
        back = tiling.raster_to_vector(r)
        rows = back.collect()
        assert sum(x["count"] for x in rows) == 3
        # pixel centers land within ~1 pixel of the original points
        paris = [x for x in rows if abs(x.lon - 2.35) < 0.01]
        assert paris and all(abs(x.lat - 48.86) < 0.01 for x in paris)


class TestIncrementalRetile:
    def _feats(self, spark, rows):
        return spark.createDataFrame(
            [(i, float(x), float(y), f"pt:{i}".encode()) for i, x, y in rows],
            "id long, minx double, miny double, encoded binary",
        )

    def test_create_modify_move_delete(self, spark):
        from ingest_spark.operators.tiling import retile_incremental, vector_tiles

        z = 5
        old = [
            (1, 2.35, 48.86),    # unchanged (Paris tile)
            (2, 2.36, 48.87),    # unchanged, same tile as 1
            (3, -74.0, 40.7),    # will MOVE to another tile (NYC → LA)
            (4, 139.7, 35.7),    # will be DELETED (Tokyo)
            (5, 151.2, -33.9),   # unchanged (Sydney)
        ]
        new = [
            (1, 2.35, 48.86),
            (2, 2.36, 48.87),
            (3, -118.2, 34.05),  # moved
            (5, 151.2, -33.9),
            (6, 37.6, 55.75),    # CREATED (Moscow)
        ]
        old_f = self._feats(spark, old)
        new_f = self._feats(spark, new)
        changed = spark.createDataFrame([(3,), (4,), (6,)], "id long")

        old_tiles = vector_tiles(old_f, z)
        got = retile_incremental(old_tiles, old_f, new_f, changed, z)
        want = vector_tiles(new_f, z)  # full rebuild = ground truth

        def key(df):
            return {
                (r.tile_z, r.tile_x, r.tile_y): (r.n_features, bytes(r.payload))
                for r in df.collect()
            }

        assert key(got) == key(want)
        # the unchanged tiles' payload rows passed through by identity
        # (same bytes), and the Tokyo tile is gone
        gk = key(got)
        ok = key(old_tiles)
        unchanged = [k for k, v in ok.items() if k in gk and gk[k] == v]
        assert len(unchanged) >= 2  # Paris + Sydney tiles survived untouched

    def test_no_changes_is_identity(self, spark):
        from ingest_spark.operators.tiling import retile_incremental, vector_tiles

        f = self._feats(spark, [(1, 2.35, 48.86), (2, 151.2, -33.9)])
        tiles = vector_tiles(f, 5)
        empty = spark.createDataFrame([], "id long")
        got = retile_incremental(tiles, f, f, empty, 5)
        a = {(r.tile_x, r.tile_y): bytes(r.payload) for r in got.collect()}
        b = {(r.tile_x, r.tile_y): bytes(r.payload) for r in tiles.collect()}
        assert a == b


class TestQuadtreeDistributed:
    """The scale path: grid cells over the pandas budget are pre-split
    distributedly. Output must be IDENTICAL (bucket ids, bboxes, row
    assignment) to the single-worker per-cell divide."""

    @pytest.fixture(scope="class")
    def feats(self, spark):
        rng = np.random.default_rng(23)
        n = 3000
        xs = rng.uniform(-10, 10, n)
        ys = rng.uniform(-10, 10, n)
        # a hot cluster so one grid cell is much heavier than the rest
        xs[:1200] = rng.uniform(1.0, 1.4, 1200)
        ys[:1200] = rng.uniform(1.0, 1.4, 1200)
        rows = [
            (int(i), int(0), float(x), float(y), float(x), float(y))
            for i, (x, y) in enumerate(zip(xs, ys))
        ]
        return spark.createDataFrame(
            rows, "id long, kind tinyint, minx double, miny double, maxx double, maxy double"
        ).cache()

    def _key(self, df):
        return {
            r.id: (r.grid_cell, r.bucket, r.bminx, r.bminy, r.bmaxx, r.bmaxy)
            for r in df.collect()
        }

    def test_identical_to_single_worker(self, spark, feats):
        cfg = EngineConfig()
        legacy = tiling.quadtree_partition(feats, cfg, gx=2, gy=2, bucket_max=100)
        hybrid = tiling.quadtree_partition(
            feats, cfg, gx=2, gy=2, bucket_max=100, pandas_budget=200
        )
        assert self._key(hybrid) == self._key(legacy)

    def test_pure_phase_a(self, spark, feats):
        """budget == bucket_max: every split happens distributedly, the
        per-group divide never runs."""
        cfg = EngineConfig()
        legacy = tiling.quadtree_partition(feats, cfg, gx=2, gy=2, bucket_max=100)
        hybrid = tiling.quadtree_partition(
            feats, cfg, gx=2, gy=2, bucket_max=100, pandas_budget=100
        )
        assert self._key(hybrid) == self._key(legacy)

    def test_budget_bound_enforced(self, spark, feats):
        """No pandas group exceeds the budget: the guards raise if the
        planner ever routes an over-budget group to a worker, so a green
        run is the bound proof."""
        cfg = EngineConfig()
        out = tiling.quadtree_partition(
            feats, cfg, gx=2, gy=2, bucket_max=50, pandas_budget=120
        )
        assert out.count() == 3000
        assert out.select("id").distinct().count() == 3000

    def test_colocated_rows_depth_limit(self, spark):
        """Identical points recurse to the depth limit in phase A and
        end as ONE over-budget bucket — exactly the reference guard
        (src/divide.rs:10); the distributed pass must mark that node a
        leaf without ever materializing it in pandas."""
        rows = [(i, 0, 1.0, 1.0, 1.0, 1.0) for i in range(400)]
        feats = spark.createDataFrame(
            rows, "id long, kind tinyint, minx double, miny double, maxx double, maxy double"
        )
        cfg = EngineConfig()
        out = tiling.quadtree_partition(
            feats, cfg, gx=1, gy=1, bucket_max=10, pandas_budget=50
        )
        assert out.count() == 400
        buckets = out.groupBy("grid_cell", "bucket").count().collect()
        assert len(buckets) == 1 and buckets[0]["count"] == 400

    @pytest.mark.parametrize("budget", [None, 120])
    def test_optimize_pass_emits_no_user_warning(self, spark, feats, budget):
        """The grouped-map kernels carry complete type hints, so
        applyInPandas infers the grouped-map pandas eval type instead of
        warning that it cannot (per-cell divide at the default budget,
        the distributed pre-split at the forced one)."""
        cfg = EngineConfig()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            qt = tiling.quadtree_partition(
                feats.withColumn("hex_cell", F.col("id") % 7), cfg,
                gx=2, gy=2, bucket_max=50, pandas_budget=budget,
            )
            salted = tiling.salt_hot_cells(qt, "hex_cell", cfg)
            assert tiling.with_tile_xyz(salted, cfg.tile_zoom).count() == 3000
        assert [w for w in caught if issubclass(w.category, UserWarning)] == []


class TestQuadtreeDistributedProperty:
    def test_randomized_parity(self, spark):
        """Property check over randomized inputs/budgets: the
        distributed pre-split must equal the single-worker recursion
        EXACTLY (assignment, bucket ids, bboxes) for any mixture of
        points/rects/duplicates and any budget."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        cfg = EngineConfig()

        @settings(
            max_examples=5,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            seed=st.integers(min_value=0, max_value=2**31 - 1),
            bucket_max=st.integers(min_value=5, max_value=60),
            budget_factor=st.integers(min_value=1, max_value=4),
            n_dup=st.integers(min_value=0, max_value=120),
        )
        def run(seed, bucket_max, budget_factor, n_dup):
            rng = np.random.default_rng(seed)
            n_pts = 600
            xs = rng.uniform(-5, 5, n_pts)
            ys = rng.uniform(-5, 5, n_pts)
            # a duplicate-coordinate cluster (exercises span guard /
            # depth limits) + a few rects (interval kind)
            xs[:n_dup] = 1.25
            ys[:n_dup] = -0.75
            rows = [
                (int(i), 0, float(x), float(y), float(x), float(y))
                for i, (x, y) in enumerate(zip(xs, ys))
            ]
            for i in range(20):
                x0, y0 = rng.uniform(-5, 4, 2)
                rows.append(
                    (n_pts + i, 1, float(x0), float(y0),
                     float(x0 + rng.uniform(0, 1)), float(y0 + rng.uniform(0, 1)))
                )
            feats = spark.createDataFrame(
                rows,
                "id long, kind tinyint, minx double, miny double, "
                "maxx double, maxy double",
            )
            legacy = tiling.quadtree_partition(feats, cfg, gx=2, gy=2, bucket_max=bucket_max)
            hybrid = tiling.quadtree_partition(
                feats, cfg, gx=2, gy=2, bucket_max=bucket_max,
                pandas_budget=bucket_max * budget_factor,
            )

            def key(df):
                return {
                    r.id: (r.grid_cell, r.bucket, r.bminx, r.bminy, r.bmaxx, r.bmaxy)
                    for r in df.collect()
                }

            assert key(hybrid) == key(legacy)

        run()
