"""S2 + hex-grid cell index invariants (functions/cells.py)."""

import numpy as np
import pytest

from ingest_spark.functions import cells as C


RNG = np.random.default_rng(42)
LON = RNG.uniform(-180, 180, 5000)
LAT = RNG.uniform(-90, 90, 5000)


class TestS2:
    def test_face_centers(self):
        for lon, lat, want in [(0, 0, 0), (90, 0, 1), (0, 90, 2),
                               (180, 0, 3), (-90, 0, 4), (0, -90, 5)]:
            cid = C.s2_cell_id([lon], [lat], level=0)[0]
            assert int(np.uint64(cid) >> np.uint64(61)) == want
            assert C.s2_level([cid])[0] == 0

    def test_level_and_trailing_bit(self):
        ids = C.s2_cell_id(LON, LAT, 12)
        assert (C.s2_level(ids) == 12).all()
        # canonical id structure: lowest set bit at 2*(30-12)
        lsb = np.uint64(1) << np.uint64(36)
        assert (ids.view(np.uint64) & lsb == lsb).all()

    def test_parent_consistency(self):
        """cell_id(p, l).parent(l') == cell_id(p, l') for all points."""
        for lvl in (4, 8, 10):
            assert (
                C.s2_parent(C.s2_cell_id(LON, LAT, 12), lvl)
                == C.s2_cell_id(LON, LAT, lvl)
            ).all()

    def test_determinism(self):
        a = C.s2_cell_id(LON, LAT, 12)
        b = C.s2_cell_id(LON.copy(), LAT.copy(), 12)
        assert (a == b).all()

    def test_locality(self):
        # points ~1e-7 deg apart (~1cm) nearly always share a level-12 cell
        ids1 = C.s2_cell_id(LON, LAT, 12)
        ids2 = C.s2_cell_id(LON + 1e-7, LAT, 12)
        assert (ids1 == ids2).mean() > 0.99

    def test_cell_size_plausible(self):
        # level-12 cells are ~3-6 km wide: sweep 1 degree at equator
        lons = np.linspace(0, 1, 10000)
        ids = C.s2_cell_id(lons, np.zeros_like(lons), 12)
        ncells = len(set(ids.tolist()))
        assert 15 <= ncells <= 60  # ~111km / (3-6km) ≈ 20-40


class TestHex:
    def test_determinism_and_res_field(self):
        h = C.hex_cell_id(LON, LAT, 8)
        assert (h == C.hex_cell_id(LON, LAT, 8)).all()
        res, _, _ = C.hex_unpack(h)
        assert (res == 8).all()

    def test_center_roundtrip(self):
        h = C.hex_cell_id(LON, LAT, 8)
        lon_c, lat_c = C.hex_center(h)
        assert (C.hex_cell_id(lon_c, lat_c, 8) == h).all()

    def test_aperture7_edge_scaling(self):
        assert C.hex_edge_deg(9) == pytest.approx(C.hex_edge_deg(8) / np.sqrt(7))
        # res-8 edge ≈ 461m (H3 calibration)
        assert C.hex_edge_deg(8) * 111320 == pytest.approx(461.4, abs=1.0)

    def test_ring_sizes(self):
        h = int(C.hex_cell_id([2.35], [48.86], 8)[0])
        assert [len(C.hex_ring(h, k)) for k in range(5)] == [1, 6, 12, 18, 24]
        assert len(C.hex_k_ring(h, 3)) == 1 + 3 * 3 * 4  # 1+3k(k+1)

    def test_ring_1_is_exactly_the_neighbors(self):
        h = int(C.hex_cell_id([10.0], [20.0], 8)[0])
        ring1 = set(C.hex_ring(h, 1))
        assert len(ring1) == 6 and h not in ring1
        # each neighbor's ring-1 contains the center
        for nb in ring1:
            assert h in C.hex_ring(nb, 1)

    def test_point_maps_into_k_ring_of_nearby_point(self):
        # two points 1 edge-length apart are within each other's 2-ring
        e = C.hex_edge_deg(8)
        a = int(C.hex_cell_id([50.0], [0.0], 8)[0])
        b = int(C.hex_cell_id([50.0 + e], [0.0], 8)[0])
        assert b in C.hex_k_ring(a, 2)


class TestRealH3Gate:
    """The public encoder answers H3-spec ids from the in-repo kernel.
    The `h3` wheel is not a dependency: when one is importable it
    arbitrates that kernel, otherwise the arbitration test skips."""

    def test_h3core_matches_wheel_globally(self):
        """THE arbitration test: whenever a real `h3` wheel is present,
        the in-repo pure-numpy kernel must agree with it on a global
        random sample at several resolutions (including pentagon base
        cells). Skipped honestly when no wheel exists — every other
        h3core guarantee (public vectors, pentagon ids, global counts,
        seam consistency) is enforced unconditionally in test_h3.py."""
        h3 = pytest.importorskip("h3")
        from ingest_spark.functions import h3core

        rng = np.random.default_rng(9)
        n = 20_000
        lng = rng.uniform(-180, 180, n)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        for res in (0, 1, 5, 8):
            ours = h3core.latlng_to_cell(lng, lat, res)
            theirs = np.array(
                [h3.str_to_int(h3.latlng_to_cell(la, lo, res))
                 for lo, la in zip(lng, lat)], dtype=np.int64,
            )
            agree = float((ours == theirs).mean())
            assert agree == 1.0, (res, agree)

    def test_real_h3_is_default(self):
        # since round 4 the public encoder answers REAL H3 ids from the
        # in-repo pure-numpy kernel (reproducible across processes)
        from ingest_spark.functions import h3core

        a = C.hex_cell(np.array([2.35]), np.array([48.86]), 8)
        b = h3core.latlng_to_cell(np.array([2.35]), np.array([48.86]), 8)
        assert (a == b).all()


class TestHexJvmExprParity:
    """The Catalyst hex expression (operators.spatial.hex_cell_col) must
    be BIT-EXACT vs the numpy kernel — it feeds the same oracle-checked
    queries (cells_hex_s2, knn) the UDF path fed."""

    def test_bit_exact_vs_numpy(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from ingest_spark.functions import cells
        from ingest_spark.operators.spatial import hex_cell_col

        rng = np.random.default_rng(42)
        lon = rng.uniform(-180, 180, 5000)
        lat = rng.uniform(-90, 90, 5000)
        # adversarial: cell-boundary-ish points (axial coords near .5)
        lon = np.concatenate([lon, np.linspace(-1, 1, 500) * cells.hex_edge_deg(8)])
        lat = np.concatenate([lat, np.zeros(500)])
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
        )
        for res in (2, 8):
            got = (
                df.select(hex_cell_col(F.col("lon"), F.col("lat"), res).alias("c"))
                .toPandas()["c"].to_numpy()
            )
            want = cells.hex_cell_id(lon, lat, res)
            assert (got == want).all()


# a box near the pole whose points fall in 2 res-8 cells; a lon pad of
# 2.5 edges in degrees reaches only one of them
POLAR_BOX = (-135.9457, 89.4320, -135.9414, 89.4363)


class TestH3CoverNearPoles:
    """Toward a pole an H3 cell spans ~1/cos(lat) times more degrees of
    longitude than of latitude, so the sampled cover pads longitude by
    that factor. The oracle is the set of cells owning random points of
    each box."""

    def test_polar_boxes_hold_every_owning_cell(self, monkeypatch):
        from ingest_spark.functions import h3core
        probes = []
        encode = C.hex_cell

        def counting(lon, lat, res):
            probes.append(np.size(lon))
            return encode(lon, lat, res)

        monkeypatch.setattr(C, "hex_cell", counting)
        rng = np.random.default_rng(3)
        missed = []
        for res in (4, 6, 8):
            e = h3core.h3_edge_deg(res)
            boxes = [POLAR_BOX]
            for _ in range(150):
                cx = rng.uniform(-180, 180)
                cy = rng.choice([-1, 1]) * rng.uniform(80, 89.9)
                w, hh = rng.uniform(0.05, 3, 2) * e
                boxes.append((cx - w, max(cy - hh, -90), cx + w, min(cy + hh, 90)))
            for box in boxes:
                probes.clear()
                cover = set(C.h3_cover_bbox(*box, res))
                assert C.h3_cover_size(*box, res) >= sum(probes), (box, res)
                lon = rng.uniform(box[0], box[2], 2000)
                lat = rng.uniform(box[1], box[3], 2000)
                owning = set(h3core.latlng_to_cell(lon, lat, res).tolist())
                if not owning <= cover:
                    missed.append((res, box, len(owning - cover)))
        assert missed == []

    def test_indexed_bbox_query_equals_plain_near_pole(self, spark):
        from ingest_spark.operators.spatial import (
            bbox_query, bbox_query_indexed, with_cells)
        rng = np.random.default_rng(0)
        x0, y0, x1, y1 = POLAR_BOX
        lon = rng.uniform(x0, x1, 300)
        lat = rng.uniform(y0, y1, 300)
        feats = with_cells(spark.createDataFrame(
            [(i, float(a), float(b), float(a), float(b))
             for i, (a, b) in enumerate(zip(lon, lat))],
            "id long, minx double, miny double, maxx double, maxy double",
        ))
        plain = {r.id for r in bbox_query(feats, *POLAR_BOX).collect()}
        indexed = {r.id for r in bbox_query_indexed(feats, *POLAR_BOX).collect()}
        assert len(plain) == 300
        assert indexed == plain
