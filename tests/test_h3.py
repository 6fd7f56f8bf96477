"""Validation suite for the pure-numpy real-H3 kernel (functions/h3core).

Three independent lines of evidence pin the implementation to REAL H3
(no `h3` wheel exists in this environment — see the gated parity test
in test_cells.py for when one does):

1. embedded PUBLIC test vectors from the H3 docs (SF-area points at
   res 5/7/9 — both Class II and Class III paths),
2. the published base-cell structure: the 12 pentagon ids and the
   exact global cell counts (122 / 842 / 5882 at res 0/1/2),
3. internal tiling consistency: near-coincident points crossing
   icosa-face seams (incl. pentagon sectors) map to the same cell.
"""

import numpy as np
import pytest

from ingest_spark.functions import h3core as h


class TestPublicVectors:
    # (lat, lng, res, expected) — H3 documentation / h3-py, h3-js READMEs
    VECTORS = [
        (37.7752702151959257, -122.418307270836565, 9, "8928308280fffff"),
        (37.3615593, -122.0553238, 5, "85283473fffffff"),
        (37.3615593, -122.0553238, 7, "87283472bffffff"),
    ]

    @pytest.mark.parametrize("lat,lng,res,want", VECTORS)
    def test_vector(self, lat, lng, res, want):
        got = h.cell_to_string(h.latlng_to_cell(np.array([lng]), np.array([lat]), res))
        assert got[0] == want

    def test_index_layout(self):
        # mode 1, res bits, base cell bits, trailing 7s
        idx = int(h.latlng_to_cell(np.array([-122.418307]), np.array([37.775270]), 9)[0])
        assert (idx >> 59) & 0xF == 1          # mode
        assert (idx >> 52) & 0xF == 9          # res
        assert (idx >> 45) & 0x7F == 20        # SF base cell (published)
        assert idx & ((1 << 18) - 1) == (1 << 18) - 1  # unused digits = 7


class TestBaseCellStructure:
    def test_pentagon_ids_match_published(self):
        pents = tuple(i for i in range(122) if h._IS_PENT[i])
        assert pents == h.PENTAGON_CELLS

    def test_icosahedron_regularity(self):
        X = h._FACE_CENTER_XYZ
        d = np.linalg.norm(X[:, None, :] - X[None, :, :], axis=2)
        np.fill_diagonal(d, 9)
        # every face: exactly 3 edge neighbors at one chord distance
        mins = d.min(axis=1)
        assert np.allclose(mins, mins[0], atol=1e-9)
        assert ((np.abs(d - mins[:, None]) < 1e-9).sum(axis=1) == 3).all()

    def test_recalled_basecell_anchors(self):
        # baseCellData fragments recalled from the public source — the
        # derivation reproduces them (home face, home ijk)
        assert h._BASE_DATA[0][:2] == (1, (1, 0, 0))
        assert h._BASE_DATA[2][:2] == (1, (0, 0, 0))
        assert h._BASE_DATA[3][:2] == (2, (1, 0, 0))
        assert h._BASE_DATA[4][:2] == (0, (2, 0, 0))

    def test_global_cell_counts(self):
        rng = np.random.default_rng(42)
        n = 1_500_000
        z = rng.uniform(-1, 1, n)
        lng = rng.uniform(-180, 180, n)
        lat = np.degrees(np.arcsin(z))
        assert len(np.unique(h.latlng_to_cell(lng, lat, 0))) == 122
        assert len(np.unique(h.latlng_to_cell(lng, lat, 1))) == 842
        assert len(np.unique(h.latlng_to_cell(lng, lat, 2))) == 5882

    def test_res0_children_per_base_cell(self):
        rng = np.random.default_rng(7)
        n = 1_000_000
        z = rng.uniform(-1, 1, n)
        lng = rng.uniform(-180, 180, n)
        lat = np.degrees(np.arcsin(z))
        c1 = h.latlng_to_cell(lng, lat, 1)
        u1 = np.unique(c1)
        bcs = (u1.astype(np.uint64) >> np.uint64(45)) & np.uint64(127)
        from collections import Counter

        cnt = Counter(bcs.tolist())
        pents = set(h.PENTAGON_CELLS)
        for b in range(122):
            want = 6 if b in pents else 7
            assert cnt[b] == want, (b, cnt[b])


class TestTilingConsistency:
    def _patchy(self, lng, lat, res, max_chord):
        """Every cell's point set must be one patch of bounded extent."""
        ids = h.latlng_to_cell(lng, lat, res)
        phi = np.radians(lat)
        lam = np.radians(lng)
        X = np.stack(
            [np.cos(phi) * np.cos(lam), np.cos(phi) * np.sin(lam), np.sin(phi)],
            axis=1,
        )
        order = np.argsort(ids, kind="stable")
        si = ids[order]
        SX = X[order]
        starts = np.r_[0, np.nonzero(np.diff(si))[0] + 1, len(si)]
        worst = 0.0
        for s, e in zip(starts[:-1], starts[1:]):
            seg = SX[s:e]
            if len(seg) < 2:
                continue
            ext = float(np.linalg.norm(seg.max(axis=0) - seg.min(axis=0)))
            worst = max(worst, ext)
        assert worst < max_chord, worst

    def test_no_split_cells_globally(self):
        rng = np.random.default_rng(3)
        n = 400_000
        z = rng.uniform(-1, 1, n)
        lng = rng.uniform(-180, 180, n)
        lat = np.degrees(np.arcsin(z))
        # res-2 cell diameter ~ 2*0.38/7 ≈ 0.11 chord; bound with slack
        self._patchy(lng, lat, 2, 0.16)

    def test_no_split_cells_around_every_pentagon(self):
        rng = np.random.default_rng(5)
        for cid in h.PENTAGON_CELLS:
            hf, hijk, _ = h._BASE_DATA[cid]
            x, y = h._ijk_to_hex2d(*hijk)
            lat0, lng0 = h._hex2d_to_geo(hf, x, y, 0)
            v = np.array(h._geo_to_xyz(lat0, lng0))
            # sample a cap around the vertex
            z = rng.uniform(np.cos(0.45), 1.0, 60_000)
            ph = rng.uniform(0, 2 * np.pi, len(z))
            r = np.sqrt(1 - z**2)
            local = np.stack([r * np.cos(ph), r * np.sin(ph), z], axis=1)
            zax = np.array([0.0, 0.0, 1.0])
            w = np.cross(zax, v)
            s = np.linalg.norm(w)
            d = float(np.dot(zax, v))
            if s < 1e-12:
                R = np.eye(3) if d > 0 else np.diag([1.0, -1.0, -1.0])
            else:
                wx = np.array(
                    [[0, -w[2], w[1]], [w[2], 0, -w[0]], [-w[1], w[0], 0]]
                )
                R = np.eye(3) + wx + wx @ wx * ((1 - d) / s**2)
            P = local @ R.T
            lat = np.degrees(np.arcsin(np.clip(P[:, 2], -1, 1)))
            lng = np.degrees(np.arctan2(P[:, 1], P[:, 0]))
            # res-3 cells near a pentagon: diameter ~0.045 chord
            self._patchy(lng, lat, 3, 0.08)

    def test_res0_matches_descent_mostly(self):
        """latlng_to_cell(p, 0) and the res-8 id's base-cell bits agree
        except on the documented approximate-containment boundary band
        (H3's hierarchy is approximate; compounding the aperture-7
        offset over 8 levels leaves ~93% direct agreement — the binding
        invariants are the exact counts + patch bounds above)."""
        rng = np.random.default_rng(11)
        n = 200_000
        z = rng.uniform(-1, 1, n)
        lng = rng.uniform(-180, 180, n)
        lat = np.degrees(np.arcsin(z))
        b0 = (h.latlng_to_cell(lng, lat, 0).astype(np.uint64) >> np.uint64(45)) & np.uint64(127)
        b8 = (h.latlng_to_cell(lng, lat, 8).astype(np.uint64) >> np.uint64(45)) & np.uint64(127)
        agree = float((b0 == b8).mean())
        assert agree > 0.90, agree


class TestHierarchyAndInverse:
    def test_parent_of_public_vector(self):
        sf9 = h.latlng_to_cell(np.array([-122.418307270836565]),
                               np.array([37.7752702151959257]), 9)
        sf8 = h.latlng_to_cell(np.array([-122.418307270836565]),
                               np.array([37.7752702151959257]), 8)
        assert int(h.cell_to_parent(sf9, 8)[0]) == int(sf8[0])
        assert h.cell_to_string(h.cell_to_parent(sf9, 8))[0] == "8828308281fffff"

    def test_children_roundtrip_and_counts(self):
        cu5 = int(h.latlng_to_cell(np.array([-122.0553238]),
                                   np.array([37.3615593]), 5)[0])
        ch = h.cell_to_children(cu5, 7)
        assert len(ch) == 49  # hexagon: 7^2
        assert (h.cell_to_parent(ch, 5) == cu5).all()
        # pentagon center cells have 6 children
        pent_res1 = None
        rng = np.random.default_rng(1)
        lng = rng.uniform(-180, 180, 150_000)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 150_000)))
        for c in np.unique(h.latlng_to_cell(lng, lat, 1)):
            bc = (int(c) >> 45) & 127
            d1 = (int(c) >> 42) & 7
            if h._IS_PENT[bc] and d1 == 0:
                pent_res1 = int(c)
                break
        assert pent_res1 is not None
        assert len(h.cell_to_children(pent_res1, 2)) == 6

    def test_center_roundtrip_exact(self):
        """cell_to_latlng is the EXACT published inverse since round 5
        (face-neighbor overage re-anchor + pentagon forward-map
        inversion): EVERY cell round-trips, no approximation budget."""
        rng = np.random.default_rng(2)
        lng = rng.uniform(-180, 180, 30_000)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 30_000)))
        for res in (2, 5, 8):
            u = np.unique(h.latlng_to_cell(lng, lat, res))[:3000]
            lo, la = h.cell_to_latlng(u)
            assert (h.latlng_to_cell(lo, la, res) == u).all(), res

    def test_center_roundtrip_exact_full_low_res(self):
        """Full enumeration at res 1-2 (every one of the 842 / 5882
        cells, incl. all pentagon descendants and every face-overage
        case) round-trips exactly."""
        rng = np.random.default_rng(3)
        lng = rng.uniform(-180, 180, 200_000)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 200_000)))
        for res, want in ((1, 842), (2, 5882)):
            u = np.unique(h.latlng_to_cell(lng, lat, res))
            assert len(u) == want
            lo, la = h.cell_to_latlng(u)
            assert (h.latlng_to_cell(lo, la, res) == u).all(), res

    def test_center_roundtrip_exact_pentagon_regions(self):
        """Dense sampling around every pentagon vertex at a Class-III
        and a Class-II res: the historically-hard cells (deleted-K
        wedge, secondary overage) all round-trip exactly."""
        rng = np.random.default_rng(4)
        import math as _m
        for res in (5, 8):
            for bc in range(122):
                if not h._IS_PENT[bc]:
                    continue
                hf, hijk, _ = h._BASE_DATA[bc]
                x, y = h._ijk_to_hex2d(*hijk)
                latc, lngc = h._hex2d_to_geo(hf, x, y, 0)
                latc, lngc = _m.degrees(latc), _m.degrees(lngc)
                lo = lngc + rng.uniform(-10, 10, 800) / max(
                    0.2, _m.cos(_m.radians(latc))
                )
                la = np.clip(latc + rng.uniform(-10, 10, 800), -90, 90)
                u = np.unique(h.latlng_to_cell(lo, la, res))
                lo2, la2 = h.cell_to_latlng(u)
                assert (h.latlng_to_cell(lo2, la2, res) == u).all(), (res, bc)

    def test_face_neighbor_tables_consistent(self):
        """The derived faceNeighbors tables: every face has 3 distinct
        neighbors, adjacency is symmetric, and quadrant directions are
        mutually consistent with _ADJ_FACE_DIR."""
        for f in range(20):
            nbrs = {int(h._FN_FACE[f, q]) for q in (1, 2, 3)}
            assert len(nbrs) == 3 and f not in nbrs
            for q in (1, 2, 3):
                f2 = int(h._FN_FACE[f, q])
                assert int(h._ADJ_FACE_DIR[f, f2]) == q
                # symmetric: f is one of f2's neighbors
                assert f in {int(h._FN_FACE[f2, p]) for p in (1, 2, 3)}


class TestBoundaryAndDisk:
    """Round-5: cell_to_boundary + grid_disk (exact substrate-grid
    construction; see h3core.py)."""

    def test_boundary_inside_lerp_maps_back(self):
        """Points 20% inside each boundary vertex belong to the cell —
        hexagons at Class II + III res, incl. crossing vertices."""
        rng = np.random.default_rng(11)
        for res in (4, 5, 8, 9):
            lng = rng.uniform(-180, 180, 20000)
            lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 20000)))
            u = np.unique(h.latlng_to_cell(lng, lat, res))
            cells = u[rng.choice(len(u), 120, replace=False)]
            for c in cells.tolist():
                b = h.cell_to_boundary(int(c))
                clon, clat = h.cell_to_latlng(np.array([c]))
                clon, clat = float(clon[0]), float(clat[0])
                dlon = (b[:, 0] - clon + 180) % 360 - 180
                back = h.latlng_to_cell(
                    clon + dlon * 0.8,
                    np.clip(clat + (b[:, 1] - clat) * 0.8, -90, 90), res)
                assert (back == c).all(), hex(c)

    def test_pentagon_boundary_counts(self):
        """All 12 pentagons: 5 vertices at Class II res, 10 at Class
        III (5 + 5 icosa-edge crossing vertices), every vertex's
        inside-lerp maps back."""
        for res in (0, 1, 2, 3, 4):
            for bc in range(122):
                if not h._IS_PENT[bc]:
                    continue
                c = (1 << 59) | (res << 52) | (bc << 45) | (
                    (1 << (3 * (15 - res))) - 1)
                b = h.cell_to_boundary(c)
                assert len(b) == (5 if res % 2 == 0 else 10), (res, bc)
                clon, clat = h.cell_to_latlng(np.array([c]))
                clon, clat = float(clon[0]), float(clat[0])
                dlon = (b[:, 0] - clon + 180) % 360 - 180
                back = h.latlng_to_cell(
                    clon + dlon * 0.8,
                    np.clip(clat + (b[:, 1] - clat) * 0.8, -90, 90), res)
                assert (back == c).all(), (res, bc)

    def test_boundaries_tile_the_sphere(self):
        """Sum of spherical areas of ALL 842 res-1 boundaries == 4π to
        1e-12 relative — boundaries leave no gaps and no overlaps,
        globally, including every pentagon and face seam."""
        import math as m

        def xyz(lon, lat):
            la, lo = m.radians(lat), m.radians(lon)
            return np.array([m.cos(la) * m.cos(lo),
                             m.cos(la) * m.sin(lo), m.sin(la)])

        def tri(a, b, c):
            def ang(u, v):
                return m.atan2(np.linalg.norm(np.cross(u, v)),
                               float(np.dot(u, v)))
            A, B, C = ang(b, c), ang(a, c), ang(a, b)
            s = (A + B + C) / 2
            t = (m.tan(s / 2) * m.tan((s - A) / 2) * m.tan((s - B) / 2)
                 * m.tan((s - C) / 2))
            return 4 * m.atan(m.sqrt(max(t, 0.0)))

        rng = np.random.default_rng(5)
        lng = rng.uniform(-180, 180, 200000)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 200000)))
        u = np.unique(h.latlng_to_cell(lng, lat, 1))
        assert len(u) == 842
        tot = 0.0
        for c in u.tolist():
            b = h.cell_to_boundary(int(c))
            clon, clat = h.cell_to_latlng(np.array([c]))
            ctr = xyz(float(clon[0]), float(clat[0]))
            vs = [xyz(lo, la) for lo, la in b]
            tot += sum(tri(ctr, vs[i], vs[(i + 1) % len(vs)])
                       for i in range(len(vs)))
        assert abs(tot / (4 * m.pi) - 1.0) < 1e-12

    def test_neighbors_and_disk_rings(self):
        """Hexagons have 6 mutual neighbors; pentagons 5; disk ring
        sizes match the published semantics (6r / pentagon 5,10)."""
        from collections import Counter
        rng = np.random.default_rng(12)
        for res in (3, 8):
            lng = rng.uniform(-180, 180, 20000)
            lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 20000)))
            u = np.unique(h.latlng_to_cell(lng, lat, res))
            for c in u[rng.choice(len(u), 40, replace=False)].tolist():
                nbs = h._neighbors(int(c))
                assert len(nbs) == 6
                for nb in nbs:
                    assert int(c) in h._neighbors(int(nb))
        c = int(h.latlng_to_cell(np.array([-122.41]), np.array([37.77]), 7)[0])
        assert sorted(Counter(h.grid_disk(c, 3).values()).items()) == [
            (0, 1), (1, 6), (2, 12), (3, 18)]
        p = (1 << 59) | (4 << 52) | (38 << 45) | ((1 << 33) - 1)
        assert sorted(Counter(h.grid_disk(p, 2).values()).items()) == [
            (0, 1), (1, 5), (2, 10)]

    def test_disk_matches_sampling_adjacency(self):
        """Independent adjacency oracle: two cells hit by points < 0.7
        edge apart are equal or edge/vertex-adjacent — every sampled
        adjacent pair must appear in grid_disk(c, 1) of one another
        (vertex-only neighbors are in ring 2, so check disk k=2)."""
        rng = np.random.default_rng(13)
        for res in (4, 7):
            e = h.h3_edge_deg(res)
            lng = rng.uniform(-180, 180, 4000)
            lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 4000)))
            lng2 = lng + rng.uniform(-0.5, 0.5, 4000) * e
            lat2 = np.clip(lat + rng.uniform(-0.5, 0.5, 4000) * e, -90, 90)
            c1 = h.latlng_to_cell(lng, lat, res)
            c2 = h.latlng_to_cell(lng2, lat2, res)
            diff = c1 != c2
            pairs = {(int(a), int(b))
                     for a, b in zip(c1[diff][:150], c2[diff][:150])}
            for a, b in pairs:
                assert b in h.grid_disk(a, 2), (res, hex(a), hex(b))


class TestSmallApi:
    def test_string_resolution_pentagon_roundtrips(self):
        c = h.latlng_to_cell(np.array([-122.41]), np.array([37.77]), 9)
        assert (h.string_to_cell(h.cell_to_string(c)) == c).all()
        assert h.get_resolution(c)[0] == 9
        assert not h.is_pentagon(c)[0]
        pents = np.array([(1 << 59) | (3 << 52) | (bc << 45) | ((1 << 36) - 1)
                          for bc in range(122) if h._IS_PENT[bc]])
        assert h.is_pentagon(pents).all()
        # non-center descendant of a pentagon base cell is NOT a pentagon
        desc = int(pents[0]) & ~(7 << (3 * 14)) | (2 << (3 * 14))
        assert not h.is_pentagon(np.array([desc]))[0]

    def test_cell_areas_sum_to_sphere(self):
        import math as m
        rng = np.random.default_rng(1)
        lng = rng.uniform(-180, 180, 100_000)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 100_000)))
        u = np.unique(h.latlng_to_cell(lng, lat, 1))
        assert len(u) == 842
        areas = h.cell_area_km2(u)
        sphere = 4 * m.pi * h._EARTH_RADIUS_KM ** 2
        assert abs(areas.sum() / sphere - 1) < 1e-9
        # pentagons are the smallest cells (~5/6 of a hexagon)
        pent = h.is_pentagon(u)
        assert areas[pent].max() < areas[~pent].min()


class TestFastNeighborWalk:
    def test_fast_equals_probe_everywhere_it_applies(self):
        """The digit-space walk must agree with the probe/boundary
        oracle cell-for-cell — full res-1 enumeration plus random
        samples at Class II and III resolutions."""
        rng = np.random.default_rng(3)
        lng = rng.uniform(-180, 180, 200_000)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 200_000)))
        checked = 0
        for res, nsamp in ((1, None), (2, 120), (5, 120), (8, 120)):
            u = np.unique(h.latlng_to_cell(lng, lat, res))
            if nsamp:
                u = u[rng.choice(len(u), nsamp, replace=False)]
            for c in u.tolist():
                fast = [h._neighbor_fast(int(c), d) for d in range(1, 7)]
                if any(f is None for f in fast):
                    continue  # pentagon-adjacent: probe path by design
                # compare against the probe oracle directly (bypass the
                # fast path inside _neighbors)
                b = h.cell_to_boundary(int(c))
                import math as m
                clon, clat = h.cell_to_latlng(np.array([c]))
                ctr = np.array(h._geo_to_xyz(
                    m.radians(float(clat[0])), m.radians(float(clon[0]))))
                verts = np.array([h._geo_to_xyz(m.radians(la), m.radians(lo))
                                  for lo, la in b])
                lons, lats2 = [], []
                for i in range(len(b)):
                    mid = verts[i] + verts[(i + 1) % len(b)]
                    mid /= np.linalg.norm(mid)
                    pp = mid + 0.15 * (mid - ctr)
                    pp /= np.linalg.norm(pp)
                    lats2.append(m.degrees(m.asin(max(-1, min(1, pp[2])))))
                    lons.append(m.degrees(m.atan2(pp[1], pp[0])))
                probe = set(h.latlng_to_cell(
                    np.array(lons), np.clip(np.array(lats2), -90, 90),
                    res).tolist()) - {int(c)}
                assert set(fast) == probe, hex(c)
                checked += 1
        assert checked > 600  # the fast path really covered the bulk

    def test_polar_cells_have_full_neighbor_sets(self):
        """Regression: the planar-tangent probe missed a neighbor of
        near-pole cells (found when the digit walk disagreed). The 3D
        probe and the fast path agree and give 6 neighbors."""
        for c in (0x8100fffffffffff, 0x81f2bffffffffff):
            nbs = h._neighbors(c)
            assert len(nbs) == 6
            for nb in nbs:
                assert c in h._neighbors(nb)


class TestCanonicalPinning:
    """Round-6: the structural half of jobs/h3_ambiguity_audit.py —
    pentagon frames are pinned to canonical H3 by the deleted-K
    structure (fast subset; the job runs the full res-3 enumeration)."""

    def test_rotate60_never_fixes_k(self):
        rot = h._ROT_CCW
        d = 1
        cycle = []
        for _ in range(6):
            cycle.append(d)
            d = int(rot[d])
        assert sorted(cycle) == [1, 2, 3, 4, 5, 6] and d == 1

    def test_no_leading_k_pentagon_ids(self):
        for res in (1, 2):
            lon = np.linspace(-180.0, 179.75, 800)
            lat = np.linspace(-89.8, 89.8, 400)
            glon, glat = np.meshgrid(lon, lat)
            cells = np.unique(h.latlng_to_cell(glon.ravel(), glat.ravel(), res))
            bc = (cells >> np.int64(45)) & np.int64(0x7F)
            pc = cells[h._IS_PENT[bc]]
            digits = np.stack(
                [(pc >> np.int64(3 * (15 - r))) & np.int64(7)
                 for r in range(1, res + 1)], axis=1
            )
            nz = digits != 0
            lead = digits[np.arange(len(pc)), np.argmax(nz, axis=1)]
            assert int(((lead == 1) & nz.any(axis=1)).sum()) == 0
