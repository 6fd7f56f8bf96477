"""Cell assignment, bbox query, PIP broadcast join, count-routed kNN."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ingest_spark.config import EngineConfig
from ingest_spark.operators import spatial


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(5)
    n = 3000
    # clustered around three centers + uniform noise
    cx = rng.choice([0.0, 1.0, 5.0], n)
    cy = rng.choice([0.0, 2.0], n)
    lon = cx + rng.normal(0, 0.1, n)
    lat = cy + rng.normal(0, 0.1, n)
    return spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "id long, lon double, lat double",
    ).cache()


class TestWithCells:
    def test_cells_added_and_deterministic(self, spark, points):
        df = spatial.with_cells(points, lon_col="lon", lat_col="lat")
        assert {"hex_cell", "s2_cell"} <= set(df.columns)
        a = df.orderBy("id").select("hex_cell", "s2_cell").collect()
        b = spatial.with_cells(points, lon_col="lon", lat_col="lat").orderBy("id").select("hex_cell", "s2_cell").collect()
        assert a == b

    def test_matches_numpy_kernels(self, spark, points):
        from ingest_spark.functions import cells as C
        rows = spatial.with_cells(points, lon_col="lon", lat_col="lat").orderBy("id").collect()
        lon = np.array([r.lon for r in rows])
        lat = np.array([r.lat for r in rows])
        assert (np.array([r.hex_cell for r in rows]) == C.hex_cell(lon, lat, 8)).all()
        assert (np.array([r.s2_cell for r in rows]) == C.s2_cell_id(lon, lat, 12)).all()


class TestPIP:
    @pytest.fixture(scope="class")
    def polys(self, spark):
        return spatial.make_polygons_df(spark, [
            {"polygon_id": 1, "name": "unit square", "ring": [(0, 0), (1, 0), (1, 1), (0, 1)]},
            {"polygon_id": 2, "name": "triangle", "ring": [(2, 0), (4, 0), (3, 2)]},
            {"polygon_id": 3, "name": "c-shape", "ring": [
                (5, 0), (8, 0), (8, 3), (5, 3), (5, 2), (7, 2), (7, 1), (5, 1),
            ]},
        ])

    def test_known_containment(self, spark, polys):
        pts = spark.createDataFrame(
            [
                (1, 0.5, 0.5),   # inside square
                (2, 1.5, 0.5),   # outside all
                (3, 3.0, 0.5),   # inside triangle
                (4, 3.0, 1.9),   # near triangle apex, inside
                (5, 2.1, 1.5),   # in triangle bbox but outside triangle
                (6, 6.0, 0.5),   # inside c-shape bottom bar
                (7, 6.0, 1.5),   # in the C's notch → outside
                (8, 6.0, 2.5),   # inside c-shape top bar
            ],
            "id long, lon double, lat double",
        )
        got = {
            (r.id, r.polygon_id)
            for r in spatial.point_in_polygon_join(pts, polys).collect()
        }
        assert got == {(1, 1), (3, 2), (4, 2), (6, 3), (8, 3)}

    def test_bbox_prefilter_is_tight(self, spark, polys):
        # a point far away joins nothing (pruned by the bbox predicate
        # before the ray-cast UDF ever runs)
        pts = spark.createDataFrame([(1, 100.0, 50.0)], "id long, lon double, lat double")
        assert spatial.point_in_polygon_join(pts, polys).count() == 0


class TestKNN:
    def test_exact_vs_brute_force(self, spark, points):
        queries = spark.createDataFrame(
            [(1, 0.0, 0.0), (2, 1.0, 2.0), (3, 5.0, 0.1), (4, 2.5, 1.0), (5, -3.0, -3.0)],
            "qid long, lon double, lat double",
        )
        cfg = EngineConfig(knn_max_ring=64)
        got = spatial.knn_join(points, queries, k=5, res=6, cfg=cfg)
        want = spatial.knn_brute_force(points, queries, k=5)
        g = {(r.qid, r.rank): r.id for r in got.collect()}
        w = {(r.qid, r.rank): r.id for r in want.collect()}
        assert g == w

    def test_square_grid_bounds_sound(self):
        """Numeric check of the two bounds knn_join's routing uses, on
        the engine's own cell keys (level 0 at res 6).

        For each count ring r: every point in the r-disk of a query's
        cell is within sqrt(2)*(r+1) sides of every position in that
        cell, and the bound is nearly reached (the corner-to-corner
        diagonal). For the probe ring R the routing takes for r: every
        point outside the R-disk is farther than R sides, and R sides
        exceed the first bound by at least one side of slack.
        """
        res = 6
        sides = spatial._knn_sides(res)
        s = sides[0]

        def key(x, y):
            return spatial._knn_query_cells(x, y, sides)[:, 0]

        def dist_range(qx, qy, px, py):
            lo, hi = np.inf, 0.0
            for i in range(0, len(qx), 64):
                d = np.hypot(px[None, :] - qx[i:i + 64, None], py[None, :] - qy[i:i + 64, None])
                lo, hi = min(lo, float(d.min())), max(hi, float(d.max()))
            return lo, hi

        # positions inside the query cell, off the origin
        cx, cy = 3 * s, -2 * s
        g = (np.arange(21) + 0.5) / 21 * s
        qx, qy = np.meshgrid(cx + g, cy + g)
        qx, qy = qx.ravel(), qy.ravel()
        qkey = key(np.array([cx + 0.5 * s]), np.array([cy + 0.5 * s]))[0]
        assert (key(qx, qy) == qkey).all()
        # candidate points 0.1 side apart, 9 cells round the query cell
        gg = (np.arange(-90, 100) + 0.5) / 10 * s
        px, py = np.meshgrid(cx + gg, cy + gg)
        px, py = px.ravel(), py.ravel()
        pkey = key(px, py)

        for r, probe in enumerate(spatial._KNN_PROBE_RING):
            off, _ = spatial._offsets(r)
            inside = np.isin(pkey, qkey + off)
            assert inside.sum() == (2 * r + 1) ** 2 * 100
            _, max_in = dist_range(qx, qy, px[inside], py[inside])
            bound = np.sqrt(2.0) * (r + 1) * s
            assert 0.9 * bound < max_in <= bound, (r, max_in, bound)

            off, _ = spatial._offsets(int(probe))
            outside = ~np.isin(pkey, qkey + off)
            min_out, _ = dist_range(qx, qy, px[outside], py[outside])
            assert probe * s < min_out < (probe + 0.2) * s, (r, probe, min_out)
            assert (probe - 1) * s >= bound, (r, probe)

    def test_point_cells_match_driver_twin(self, spark):
        """The JVM cell keys of the points equal the numpy keys the
        driver gives the queries, at every level, on cell boundaries
        and negative coordinates too."""
        rng = np.random.default_rng(3)
        for res in (0, 6, 12):
            sides = spatial._knn_sides(res)
            x = np.concatenate([rng.uniform(-180, 180, 500), rng.integers(-50, 50, 100) * sides[0]])
            y = np.concatenate([rng.uniform(-90, 90, 500), rng.integers(-50, 50, 100) * sides[1]])
            pts = spark.createDataFrame(
                [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))],
                "_pid long, _px double, _py double",
            )
            got = spatial._knn_point_cells(pts, sides, range(len(sides) + 1)).toPandas()
            got = got.sort_values(["_pid", "_lvl"])["_cell"].to_numpy().reshape(len(x), -1)
            assert (got == spatial._knn_query_cells(x, y, sides)).all(), res

    def test_vectorized_routing_matches_loop(self):
        """_knn_route against the per-query loop it replaces, on random
        sparse disk counts (many queries certified late or never)."""
        rng = np.random.default_rng(13)
        _, cheb = spatial._offsets(spatial._KNN_COUNT_RING)
        per_cell = rng.poisson(0.15, (300, 6, len(cheb))) * rng.integers(0, 3, (300, 6, 1))
        for k in (1, 3, 8):
            level, ring = spatial._knn_route(per_cell, cheb, k)
            for i in range(len(per_cell)):
                want = (6, 0)
                for lvl in range(6):
                    held = [per_cell[i, lvl, cheb <= r].sum() >= k
                            for r in range(spatial._KNN_COUNT_RING + 1)]
                    if any(held):
                        want = (lvl, int(spatial._KNN_PROBE_RING[held.index(True)]))
                        break
                assert (level[i], ring[i]) == want, (k, i)
            assert (level == 6).any() and (level < 6).any()

    def test_knn_adversarial_diagonal_layout(self, spark):
        """End-to-end: a decoy inside ring 1 whose distance is under the
        OLD (unsound) bound, and a true nearest neighbor in the diagonal
        cell just outside ring 1. knn_join must keep expanding and agree
        with brute force (it would have returned the decoy before the
        guarantee fix)."""
        from ingest_spark.functions import cells as C

        res = 6
        edge = C.hex_edge_deg(res)
        qcell = int(C.hex_cell_id(np.array([0.0]), np.array([0.0]), res)[0])
        cx, cy = C.hex_center(np.array([qcell]))
        cx, cy = float(cx[0]), float(cy[0])
        _, q0, r0 = C.hex_unpack(np.array([qcell]))
        # diagonal cell at hex distance 2 (outside ring 1): (q+1, r+1)
        diag = (
            (np.int64(res) << np.int64(56))
            | ((q0[0] + 1 + (1 << 27)) << np.int64(28))
            | (r0[0] + 1 + (1 << 27))
        )
        dx, dy = C.hex_center(np.array([int(diag)]))
        dx, dy = float(dx[0]), float(dy[0])
        assert int(diag) not in set(C.hex_k_ring(qcell, 1))

        def max_toward(ox, oy, tx, ty, cell):
            """Largest t in [0,1] with (o + t*(t-o)) still inside cell."""
            lo, hi = 0.0, 1.0
            for _ in range(50):
                mid = (lo + hi) / 2.0
                x, y = ox + mid * (tx - ox), oy + mid * (ty - oy)
                if int(C.hex_cell_id(np.array([x]), np.array([y]), res)[0]) == cell:
                    lo = mid
                else:
                    hi = mid
            return lo * 0.999

        # query near its cell's corner toward the diagonal cell
        t = max_toward(cx, cy, dx, dy, qcell)
        qx, qy = cx + t * (dx - cx), cy + t * (dy - cy)
        assert int(C.hex_cell_id(np.array([qx]), np.array([qy]), res)[0]) == qcell
        # true NN: in the diagonal cell, at its corner toward the query
        s = max_toward(dx, dy, cx, cy, int(diag))
        nx, ny = dx + s * (cx - dx), dy + s * (cy - dy)
        assert int(C.hex_cell_id(np.array([nx]), np.array([ny]), res)[0]) == int(diag)
        d_true = float(np.hypot(nx - qx, ny - qy))
        old_bound = edge * (2 * np.sqrt(3.0) - 2.0)
        assert d_true < old_bound  # the old bound would wrongly certify a decoy
        # decoy: inside the query cell itself (ring 0), farther than the
        # true NN but under the old bound
        decoy_d = (d_true + old_bound) / 2.0
        ux, uy = (cx - qx), (cy - qy)
        un = np.hypot(ux, uy) or 1.0
        ex, ey = qx + ux / un * decoy_d, qy + uy / un * decoy_d

        pts = spark.createDataFrame(
            [(1, float(ex), float(ey)), (2, float(nx), float(ny))],
            "id long, lon double, lat double",
        )
        q = spark.createDataFrame([(1, float(qx), float(qy))], "qid long, lon double, lat double")
        cfg = EngineConfig(knn_max_ring=64)
        got = {r.rank: r.id for r in spatial.knn_join(pts, q, k=1, res=res, cfg=cfg).collect()}
        want = {r.rank: r.id for r in spatial.knn_brute_force(pts, q, k=1).collect()}
        assert want == {1: 2}
        assert got == want

    def test_knn_deterministic_tiebreak(self, spark):
        # two candidates at identical distance → lower id wins rank 1
        pts = spark.createDataFrame(
            [(10, 1.0, 0.0), (2, -1.0, 0.0), (30, 3.0, 0.0)],
            "id long, lon double, lat double",
        )
        q = spark.createDataFrame([(1, 0.0, 0.0)], "qid long, lon double, lat double")
        got = {r.rank: r.id for r in spatial.knn_brute_force(pts, q, k=2).collect()}
        assert got == {1: 2, 2: 10}


class TestRayCastKernel:
    def test_vectorized_matches_scalar_reference(self):
        """Mixed ring lengths + multiple chunks: the padded broadcast
        kernel must agree with a per-row scalar even-odd reference."""
        rng = np.random.default_rng(11)
        rings = [
            [(0, 0), (1, 0), (1, 1), (0, 1)],
            [(2, 0), (4, 0), (3, 2)],
            [(5, 0), (8, 0), (8, 3), (5, 3), (5, 2), (7, 2), (7, 1), (5, 1)],
            [(float(np.cos(t)), float(np.sin(t))) for t in np.linspace(0, 2 * np.pi, 33)[:-1]],
        ]
        n = 600
        idx = rng.integers(0, len(rings), n)
        px = rng.uniform(-1, 9, n)
        py = rng.uniform(-1, 4, n)
        xs = [[p[0] for p in rings[i]] for i in idx]
        ys = [[p[1] for p in rings[i]] for i in idx]

        def scalar(x, y, rx, ry):
            inside = False
            j = len(rx) - 1
            for i in range(len(rx)):
                if (ry[i] > y) != (ry[j] > y) and x < (rx[j] - rx[i]) * (y - ry[i]) / (ry[j] - ry[i]) + rx[i]:
                    inside = not inside
                j = i
            return inside

        want = np.array([scalar(px[i], py[i], xs[i], ys[i]) for i in range(n)])
        got = spatial._ray_cast(px, py, xs, ys)
        assert (got == want).all()

        # force chunking to exercise the chunk boundary path
        orig = spatial._RAY_CAST_CHUNK
        try:
            spatial._RAY_CAST_CHUNK = 64
            got2 = spatial._ray_cast(px, py, xs, ys)
        finally:
            spatial._RAY_CAST_CHUNK = orig
        assert (got2 == want).all()


class TestBboxQuery:
    def test_interval_semantics(self, spark):
        feats = spark.createDataFrame(
            [
                (1, 0.0, 0.0, 1.0, 1.0),    # overlaps query
                (2, 5.0, 5.0, 6.0, 6.0),    # outside
                (3, -2.0, -2.0, 0.0, 0.0),  # touches corner → included
                (4, 0.5, 0.5, 0.5, 0.5),    # scalar inside
            ],
            "id long, minx double, miny double, maxx double, maxy double",
        )
        got = {r.id for r in spatial.bbox_query(feats, 0.0, 0.0, 2.0, 2.0).collect()}
        assert got == {1, 3, 4}


class TestKnnEdgeCases:
    def test_empty_query_set(self, spark):
        """Zero queries must yield an empty (qid, id, dist, rank) frame,
        not a driver error (regression: the branch-pruning stat returns
        NULL sums on an empty frame)."""
        from ingest_spark.operators.spatial import knn_join

        pts = spark.createDataFrame(
            [(1, 0.0, 0.0), (2, 1.0, 1.0)], "id long, lon double, lat double"
        )
        qs = spark.createDataFrame([], "qid long, lon double, lat double")
        out = knn_join(pts, qs, k=2, res=2)
        assert out.count() == 0
        assert set(out.columns) == {"qid", "id", "dist", "rank"}


class TestKnnH3:
    """``knn_join_h3``, the name H3-keyed tables query under, is the
    planar ring plan itself; these pin its parity with knn_join and the
    brute-force oracle."""

    def _frames(self, spark, rng, n, clustered=False):
        lon = rng.uniform(-60, 60, n)
        lat = rng.uniform(-50, 50, n)
        if clustered:
            # half the points collapse into two tight clusters
            lon[: n // 4] = 10.0 + rng.normal(0, 0.2, n // 4)
            lat[: n // 4] = 10.0 + rng.normal(0, 0.2, n // 4)
            lon[n // 4: n // 2] = -40.0 + rng.normal(0, 0.1, n // 4)
            lat[n // 4: n // 2] = 30.0 + rng.normal(0, 0.1, n // 4)
        pts = spark.createDataFrame(
            [(int(i), float(a), float(b)) for i, (a, b) in
             enumerate(zip(lon, lat))],
            "id long, lon double, lat double",
        ).coalesce(8)
        qs = pts.where(F.col("id") % 100 == 0).select(
            F.col("id").alias("qid"), "lon", "lat"
        )
        return pts, qs

    def _key(self, rows):
        return [(r.qid, r.id, r.rank) for r in rows]

    def test_uniform_parity_real_vs_planar_vs_brute(self, spark):
        from ingest_spark.operators.spatial import (
            knn_brute_force, knn_join, knn_join_h3)
        rng = np.random.default_rng(17)
        pts, qs = self._frames(spark, rng, 3000)
        bf = self._key(knn_brute_force(pts, qs, k=5).orderBy("qid", "rank").collect())
        h3r = self._key(knn_join_h3(pts, qs, k=5, res=3).orderBy("qid", "rank").collect())
        pl = self._key(knn_join(pts, qs, k=5, res=3).orderBy("qid", "rank").collect())
        assert h3r == bf
        assert pl == bf

    def test_h3_edge_cases(self, spark):
        """k > |points| (brute fallback, fewer than k rows) and an
        empty query set (schema-stable empty frame)."""
        from ingest_spark.operators.spatial import knn_brute_force, knn_join_h3
        pts = spark.createDataFrame(
            [(1, 0.0, 0.0), (2, 1.0, 1.0), (3, 5.0, 5.0)],
            "id long, lon double, lat double",
        )
        qs = spark.createDataFrame(
            [(10, 0.5, 0.5)], "qid long, lon double, lat double"
        )
        got = self._key(knn_join_h3(pts, qs, k=5, res=3).collect())
        want = self._key(knn_brute_force(pts, qs, k=5).collect())
        assert sorted(got) == sorted(want) and len(got) == 3
        qe = spark.createDataFrame([], "qid long, lon double, lat double")
        oe = knn_join_h3(pts, qe, k=2, res=3)
        assert oe.count() == 0
        assert set(oe.columns) == {"qid", "id", "dist", "rank"}

    def test_clustered_parity_and_fallbacks(self, spark):
        """Clustered layout: dense clusters next to sparse regions, at
        a fine res where sparse queries find few seeded-ring
        candidates."""
        from ingest_spark.operators.spatial import knn_brute_force, knn_join_h3
        rng = np.random.default_rng(23)
        pts, qs = self._frames(spark, rng, 2000, clustered=True)
        bf = self._key(knn_brute_force(pts, qs, k=5).orderBy("qid", "rank").collect())
        got = self._key(
            knn_join_h3(pts, qs, k=5, res=5).orderBy("qid", "rank").collect()
        )
        assert got == bf

    def test_near_pole_equals_brute(self, spark):
        """Points packed round (-135.94, 89.43), where an H3 cell spans
        about 100x more degrees of longitude than of latitude: the
        result still equals the cross-join oracle row for row."""
        from ingest_spark.operators.spatial import knn_brute_force, knn_join_h3
        rng = np.random.default_rng(7)
        lon = -135.94 + rng.uniform(-0.2, 0.2, 4000)
        lat = 89.43 + rng.uniform(-0.02, 0.02, 4000)
        pts = spark.createDataFrame(
            [(int(i), float(a), float(b)) for i, (a, b) in
             enumerate(zip(lon, lat))],
            "id long, lon double, lat double",
        ).coalesce(8)
        qs = pts.where(F.col("id") % 20 == 0).select(
            F.col("id").alias("qid"), "lon", "lat"
        )
        bf = self._key(knn_brute_force(pts, qs, k=5).orderBy("qid", "rank").collect())
        got = self._key(
            knn_join_h3(pts, qs, k=5, res=8).orderBy("qid", "rank").collect()
        )
        assert len(bf) == 200 * 5
        assert got == bf


class TestPipGridJoin:
    def test_equals_broadcast_path(self, spark):
        """The big-big grid-partitioned PIP must return the exact rows
        of the broadcast PIP for any input."""
        import numpy as np

        from ingest_spark.operators import spatial

        rng = np.random.default_rng(31)
        pts = spark.createDataFrame(
            [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
                zip(rng.uniform(-120, 120, 3000), rng.uniform(-60, 60, 3000)))],
            "id long, lon double, lat double",
        )
        polys = spatial.make_polygons_df(spark, [
            {"polygon_id": 1, "name": "rect",
             "ring": [(-90.0, -45.0), (0.0, -45.0), (0.0, 45.0), (-90.0, 45.0)]},
            {"polygon_id": 2, "name": "tri",
             "ring": [(10.0, -60.0), (110.0, -60.0), (60.0, 55.0)]},
            {"polygon_id": 3, "name": "sliver",
             "ring": [(100.0, 10.0), (101.0, 10.0), (101.0, 11.0), (100.0, 11.0)]},
        ])
        grid = {
            (r.id, r.polygon_id)
            for r in spatial.point_in_polygon_grid_join(pts, polys, res=3)
            .select("id", "polygon_id").collect()
        }
        bcast = {
            (r.id, r.polygon_id)
            for r in spatial.point_in_polygon_join(pts, polys)
            .select("id", "polygon_id").collect()
        }
        assert grid == bcast and len(grid) > 0


class TestAsofJoin:
    def _tables(self, spark):
        from pyspark.sql import functions as F
        left = spark.createDataFrame(
            [(1, 10, 100), (2, 10, 205), (3, 10, 304), (4, 20, 150), (5, 30, 500)],
            "event_id long, user_id long, t long",
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        right = spark.createDataFrame(
            [(10, 100, 7), (10, 205, 8), (10, 300, 9), (20, 200, 5)],
            "user_id long, t long, ref long",
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        return left, right

    def test_backward_inclusive_and_left_semantics(self, spark):
        from ingest_spark.operators.temporal import asof_join

        left, right = self._tables(spark)
        out = {r.event_id: r.ref for r in asof_join(left, right, on="ts", by="user_id").collect()}
        # t=100 matches the ref AT 100 (inclusive); 205 matches 205;
        # 304 matches 300; user 20 at 150 predates its first ref -> null;
        # user 30 has no refs -> null
        assert out == {1: 7, 2: 8, 3: 9, 4: None, 5: None}

    def test_tolerance_voids_stale_matches(self, spark):
        from ingest_spark.operators.temporal import asof_join

        left, right = self._tables(spark)
        out = {
            r.event_id: r.ref
            for r in asof_join(left, right, on="ts", by="user_id", tolerance_sec=3).collect()
        }
        assert out == {1: 7, 2: 8, 3: None, 4: None, 5: None}

    def test_column_collision_raises(self, spark):
        import pytest as _pt

        from ingest_spark.operators.temporal import asof_join

        left, right = self._tables(spark)
        with _pt.raises(ValueError):
            asof_join(left, right.withColumnRenamed("ref", "event_id"), on="ts", by="user_id")

    def test_null_payload_carried_as_whole_row(self, spark):
        """A matched right row whose payload column is NULL must yield
        NULL (the whole matched row carries as one unit) — not a value
        stitched from an older right row."""
        from pyspark.sql import functions as F

        from ingest_spark.operators.temporal import asof_join

        left = spark.createDataFrame(
            [(1, 10, 250)], "event_id long, user_id long, t long"
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        right = spark.createDataFrame(
            [(10, 100, 1, 2), (10, 200, None, 5)],
            "user_id long, t long, a long, b long",
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        r = asof_join(left, right, on="ts", by="user_id").collect()[0]
        assert r.a is None and r.b == 5

    def test_empty_by_raises(self, spark):
        import pytest as _pt

        from ingest_spark.operators.temporal import asof_join

        left, right = self._tables(spark)
        with _pt.raises(ValueError):
            asof_join(left, right, on="ts")

    def test_randomized_parity_vs_naive(self, spark):
        """Property check: the one-shuffle window as-of equals the naive
        implementation (non-equi join + per-left-row max of eligible
        right timestamps) on random data with ties and gaps."""
        import numpy as np
        from pyspark.sql import functions as F

        from ingest_spark.operators.temporal import asof_join

        rng = np.random.default_rng(5)
        base = 1_600_000_000
        left = spark.createDataFrame(
            [(int(i), int(rng.integers(1, 6)), base + int(rng.integers(0, 500)))
             for i in range(400)],
            "lid long, k long, t long",
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        right = spark.createDataFrame(
            [(int(1000 + i), int(rng.integers(1, 6)), base + int(rng.integers(0, 500)))
             for i in range(80)],
            "rid long, k long, t long",
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        # unique (k, ts) on the right (the operator's precondition)
        right = right.groupBy("k", "ts").agg(F.min("rid").alias("rid"))

        got = {
            (r.lid, r.rid)
            for r in asof_join(left, right, on="ts", by="k").collect()
        }
        r2 = right.select(F.col("k").alias("rk"), F.col("ts").alias("rts"), "rid")
        cand = left.join(r2, (left.k == r2.rk) & (left.ts >= r2.rts), "left")
        from pyspark.sql.window import Window
        w = Window.partitionBy("lid").orderBy(F.desc_nulls_last("rts"))
        naive = (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("lid", "rid")
        )
        want = {(r.lid, r.rid) for r in naive.collect()}
        assert got == want


class TestKnnFallbackVisibility:
    """The brute-fallback rate is surfaced in ``stats_out``, so a
    skewed dataset cannot silently degrade the kNN to broadcast brute
    force at scale."""

    def test_uniform_data_fallback_rate_zero(self, spark):
        # density matched to the resolution: every query's seeded rings
        # hold k candidates, so nothing routes to brute
        from ingest_spark.operators.spatial import knn_join_h3
        rng = np.random.default_rng(17)
        lon = rng.uniform(-15, 15, 3000)
        lat = rng.uniform(-15, 15, 3000)
        pts = spark.createDataFrame(
            [(int(i), float(a), float(b)) for i, (a, b) in
             enumerate(zip(lon, lat))],
            "id long, lon double, lat double",
        ).coalesce(8)
        qs = pts.where(F.col("id") % 100 == 0).select(
            F.col("id").alias("qid"), "lon", "lat"
        )
        stats: dict = {}
        out = knn_join_h3(pts, qs, k=5, res=3, stats_out=stats)
        assert out.count() == qs.count() * 5
        assert stats["n_queries"] == qs.count()
        assert stats["n_brute"] == 0, stats

    def test_underfilled_queries_counted_as_brute(self, spark):
        from ingest_spark.operators.spatial import knn_join_h3
        pts = spark.createDataFrame(
            [(1, 0.0, 0.0), (2, 1.0, 1.0), (3, 2.0, 0.5)],
            "id long, lon double, lat double",
        )
        qs = spark.createDataFrame(
            [(10, 0.5, 0.5)], "qid long, lon double, lat double"
        )
        stats: dict = {}
        out = knn_join_h3(pts, qs, k=5, res=3, stats_out=stats)
        assert out.count() == 3  # fewer than k points exist
        assert stats["n_brute"] == 1

    def test_planar_stats_out(self, spark):
        from ingest_spark.operators.spatial import knn_join
        rng = np.random.default_rng(3)
        lon = rng.uniform(-10, 10, 1000)
        lat = rng.uniform(-10, 10, 1000)
        pts = spark.createDataFrame(
            [(int(i), float(a), float(b)) for i, (a, b) in
             enumerate(zip(lon, lat))],
            "id long, lon double, lat double",
        )
        qs = pts.where(F.col("id") % 200 == 0).select(
            F.col("id").alias("qid"), "lon", "lat"
        )
        stats: dict = {}
        knn_join(pts, qs, k=3, res=3, stats_out=stats).count()
        assert stats["n_queries"] == qs.count()
        assert stats["n_brute"] == 0


    def test_queries_in_empty_cells_routed_without_brute(self, spark):
        """Half the queries sit far from every point, in cells (and
        5x5 disks) the fine levels hold nothing in: a coarser level's
        counts route them, so none probes the whole table."""
        from ingest_spark.operators.spatial import knn_brute_force, knn_join
        rng = np.random.default_rng(29)
        lon = rng.uniform(-2, 2, 2000)
        lat = rng.uniform(-2, 2, 2000)
        pts = spark.createDataFrame(
            [(int(i), float(a), float(b)) for i, (a, b) in
             enumerate(zip(lon, lat))],
            "id long, lon double, lat double",
        )
        near = [(i, float(lon[i]), float(lat[i])) for i in range(0, 2000, 200)]
        far = [(10_000 + i, float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(20, 60, 10), rng.uniform(-40, 40, 10)))]
        qs = spark.createDataFrame(near + far, "qid long, lon double, lat double")
        stats: dict = {}
        got = knn_join(pts, qs, k=5, res=6, stats_out=stats)
        key = lambda df: [(r.qid, r.id, r.rank) for r in df.orderBy("qid", "rank").collect()]  # noqa: E731
        assert key(got) == key(knn_brute_force(pts, qs, k=5))
        assert stats == {"n_queries": 20, "n_brute": 0}


class TestKnnPlan:
    def test_few_jobs_and_nothing_persisted(self, spark, count_jobs):
        """A kNN runs a bounded number of Spark jobs whatever its
        routing, and leaves no cached or checkpointed data behind."""
        from ingest_spark.operators.spatial import knn_join
        rng = np.random.default_rng(5)
        lon, lat = rng.uniform(-15, 15, 1000), rng.uniform(-15, 15, 1000)
        pts = spark.createDataFrame(
            [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))],
            "id long, lon double, lat double",
        )
        qs = spark.createDataFrame(
            [(i, float(lon[i]), float(lat[i])) for i in range(0, 1000, 100)] + [(-1, 100.0, 60.0)],
            "qid long, lon double, lat double",
        )
        sc = spark.sparkContext
        persisted = set(sc._jsc.getPersistentRDDs().keySet())
        rows = []
        jobs = count_jobs("knn_plan", lambda: rows.extend(knn_join(pts, qs, k=5, res=3).collect()))
        assert len(rows) == 11 * 5
        assert jobs <= 7, jobs
        assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted


class TestPipColParity:
    def test_catalyst_ray_cast_matches_numpy(self, spark):
        """_pip_col (JVM expression) must agree with _ray_cast (numpy)
        on random points/rings, including horizontal edges (the
        degenerate-intercept case) and shared-boundary points."""
        import numpy as np
        from pyspark.sql import functions as F

        from ingest_spark.operators import spatial

        rng = np.random.default_rng(42)
        rows = []
        for i in range(300):
            nv = int(rng.integers(3, 9))
            xs = rng.uniform(-10, 10, nv)
            ys = rng.uniform(-10, 10, nv)
            if i % 5 == 0:  # force a horizontal edge (yj == yi)
                ys[1] = ys[0]
            if i % 7 == 0:  # point exactly on a vertex y
                py = float(ys[0])
            else:
                py = float(rng.uniform(-12, 12))
            px = float(rng.uniform(-12, 12))
            rows.append((i, px, py, [float(v) for v in xs], [float(v) for v in ys]))

        df = spark.createDataFrame(
            rows, "i long, px double, py double, xs array<double>, ys array<double>"
        )
        got = {
            r["i"]: r["inside"]
            for r in df.select(
                "i",
                spatial._pip_col(
                    F.col("px"), F.col("py"), F.col("xs"), F.col("ys")
                ).alias("inside"),
            ).collect()
        }
        for i, px, py, xs, ys in rows:
            want = bool(
                spatial._ray_cast(
                    np.array([px]), np.array([py]), [np.array(xs)], [np.array(ys)]
                )[0]
            )
            assert got[i] == want, (i, px, py, xs, ys)
