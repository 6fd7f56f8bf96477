"""Real H3 cell ids (res 0-15) in pure numpy — no `h3` dependency.

Implements the public H3 indexing algorithm (h3geo.org; Apache-2.0
reference implementation `uber/h3`, `latLngToCell` path:
faceijk.c `_geoToFaceIjk`/`_faceIjkToH3`, coordijk.c hex2d/IJK math,
h3Index.c digit rotations) from the published spec:

- icosahedral face lookup (closest of 20 face centers by chord
  distance), gnomonic projection onto the face plane, Class-III
  aperture-7 axis rotation per odd resolution,
- hex2d → IJK+ rounding (`_hex2dToCoordIJK`), aperture-7 up-travel
  per resolution recording one 3-bit digit each (`_upAp7`/`_upAp7r`),
- base-cell resolution + canonical digit rotation, pentagon
  deleted-K-subsequence handling,
- the 64-bit index layout (mode 1, 4 res bits, 7 base-cell bits,
  15×3 digit bits, unused digits = 7).

The H3 *base-cell tables* (`faceIjkBaseCells`, `baseCellData`) are not
shipped as data: they are DERIVED at import time from the icosahedron
geometry itself (`_build_base_cells`), using the published fact that
base cells are numbered north→south by cell-center latitude. The
derivation is validated by `selfcheck()` (run in pytest):

1. the 20 face centers form a geometric icosahedron (equal pairwise
   neighbor distances),
2. the 540 (face, ijk) res-0 anchors coalesce into EXACTLY 122
   distinct cell centers (cross-validates every face center + axis
   azimuth against its neighbors),
3. the 12 pentagons land exactly on the published base-cell ids
   [4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117],
4. embedded public test vectors from the H3 docs (San-Francisco-area
   points at res 5/7/9) reproduce bit-exactly,
5. seam continuity: points sampled across icosa-face seams map to
   geographically-contiguous cells (validates the derived ccwRot60
   rotation table),
6. dense global sampling finds no more than 842 distinct res-1 /
   5882 res-2 cells (the published counts).

The INVERSE path (`cell_to_latlng`) is exact since round 5: digit
descent from the home face plus face-neighbor overage re-anchoring
(faceijk.c `_adjustOverageClassII`), with the 20×4 `faceNeighbors`
table likewise DERIVED at import from the res-0 anchors
(`_derive_face_neighbors`); pentagon descendants invert the forward
map per member face instead of recalling h3's pentLeading4 fix (which
is pinned to h3's own table conventions). Every cell at every res
round-trips `latlng_to_cell(cell_to_latlng(c)) == c` — asserted over
full res-1/2 enumerations, dense pentagon-vertex and face-seam
samples in `tests/test_h3.py`.

Scope note (honest): the embedded vectors pin the digit-orientation
convention for base cell 20; elsewhere the orientation is fixed by the
derived home-face rule (lowest face id hosting the cell) plus the seam
invariants. `tests/test_cells.py` keeps a gated parity test that
compares against the real `h3` wheel whenever one is importable.
"""

from __future__ import annotations

import math

import numpy as np

# ------------------------------------------------------------ constants

M_SQRT7 = 2.6457513110645905905016157536392604257102
M_SIN60 = math.sqrt(3.0) / 2.0

# H3 mean hex edge at res 8 in degrees (461.354 m); single calibration
# point for every degree-space heuristic (cover sampling steps, probe
# radii) — edge(res) = H3_EDGE8_DEG * sqrt7^(8-res)
H3_EDGE8_DEG = 0.0041444


def h3_edge_deg(res: int) -> float:
    """Mean hex edge length in degrees at ``res`` (heuristic scale for
    sampling steps/probe radii, NOT exact per-cell geometry)."""
    return H3_EDGE8_DEG * M_SQRT7 ** (8 - res)
M_AP7_ROT_RADS = 0.333473172251832115336090755351601070065900704
RES0_U_GNOMONIC = 0.38196601125010500003

# face center lat/lng in radians (faceijk.c `faceCenterGeo`, public)
FACE_CENTER_GEO = np.array([
    [0.803582649718989942, 1.248397419617396099],
    [1.307747883455638156, 2.536945009877921159],
    [1.054751253523952054, -1.347517358900396623],
    [0.600191595538186799, -0.450603909469755746],
    [0.491715428198773866, 0.401988202911306943],
    [0.172745327415618701, 1.678146885280433686],
    [0.605929321571350690, 2.953923329812411617],
    [0.427370518328979641, -1.888876200336285401],
    [-0.079066118549212831, -0.733429513380867741],
    [-0.230961644455383637, 0.506495587332349035],
    [0.079066118549212831, 2.408163140208925497],
    [0.230961644455383637, -2.635097066257444203],
    [-0.172745327415618701, -1.463445768309359553],
    [-0.605929321571350690, -0.187669323777381622],
    [-0.427370518328979641, 1.252716453253507838],
    [-0.600191595538186799, 2.690988744120037492],
    [-0.491715428198773866, -2.739604450678486295],
    [-0.803582649718989942, -1.893195233972397139],
    [-1.307747883455638156, -0.604647643711872080],
    [-1.054751253523952054, 1.794075294689396615],
], dtype=np.float64)

# azimuth (radians) from each face center to its i/j/k Class-II axes
# (faceijk.c `faceAxesAzRadsCII` column 0; columns 1/2 are -2π/3 apart
# by construction and derived below)
FACE_AXES_AZ_I = np.array([
    5.619958268523939882,
    5.760339081714187279,
    0.780213654393430055,
    0.430469363979999913,
    6.130269123335111400,
    2.692877706530642877,
    2.982963003477243874,
    3.532912002790141181,
    3.494305004259568154,
    3.003214169499538391,
    5.930472956509811562,
    0.138378484090254847,
    0.448714947059150361,
    0.158629650112549365,
    5.891865957979238535,
    2.711123289609793325,
    3.294508837434268316,
    3.804819692245439833,
    3.664438879055192436,
    2.361378999196363184,
], dtype=np.float64)

# published pentagon base-cell ids (h3geo.org; baseCells.c)
PENTAGON_CELLS = (4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)

_K = 1  # K_AXES_DIGIT
# digit rotations (h3Index.c _rotate60ccw/_rotate60cw)
_ROT_CCW = np.array([0, 5, 3, 1, 6, 4, 2], dtype=np.int64)
_ROT_CW = np.array([0, 3, 6, 2, 5, 1, 4], dtype=np.int64)


def _pos_angle(a):
    tau = 2.0 * math.pi
    return np.where(a < 0.0, a + tau, np.where(a >= tau, a - tau, a))


# ------------------------------------------------- scalar geo helpers
# (used only by the import-time base-cell generator — tiny workloads)

def _geo_to_xyz(lat: float, lng: float):
    c = math.cos(lat)
    return (c * math.cos(lng), c * math.sin(lng), math.sin(lat))


def _az_dist_point(lat: float, lng: float, az: float, dist: float):
    """Great-circle destination point (spherical law of cosines),
    matching faceijk.c `_geoAzDistanceRads` semantics."""
    if dist < 1e-16:
        return lat, lng
    sinlat = math.sin(lat) * math.cos(dist) + math.cos(lat) * math.sin(
        dist
    ) * math.cos(az)
    sinlat = min(1.0, max(-1.0, sinlat))
    lat2 = math.asin(sinlat)
    if abs(abs(lat2) - math.pi / 2.0) < 1e-12:
        return math.copysign(math.pi / 2.0, lat2), 0.0
    sinlng = math.sin(az) * math.sin(dist) / math.cos(lat2)
    coslng = (math.cos(dist) - math.sin(lat) * math.sin(lat2)) / (
        math.cos(lat) * math.cos(lat2)
    )
    sinlng = min(1.0, max(-1.0, sinlng))
    coslng = min(1.0, max(-1.0, coslng))
    lng2 = lng + math.atan2(sinlng, coslng)
    if lng2 > math.pi:
        lng2 -= 2.0 * math.pi
    if lng2 < -math.pi:
        lng2 += 2.0 * math.pi
    return lat2, lng2


def _hex2d_to_geo(face: int, x: float, y: float, res: int = 0,
                  substrate: bool = False):
    """Inverse projection: hex2d coords on ``face`` at ``res`` → geo
    (faceijk.c `_hex2dToGeo`). ``substrate`` divides the radius by 3
    (the aperture 3·3r vertex grid used by cell boundaries)."""
    r = math.hypot(x, y)
    if r < 1e-16:
        return float(FACE_CENTER_GEO[face, 0]), float(FACE_CENTER_GEO[face, 1])
    theta = math.atan2(y, x)
    for _ in range(res):
        r /= M_SQRT7
    if substrate:
        r /= 3.0
    if res % 2 == 1:  # Class III: un-rotate the aperture-7 axes
        theta = theta + M_AP7_ROT_RADS
    r *= RES0_U_GNOMONIC
    r = math.atan(r)  # inverse gnomonic
    az = float(_pos_angle(FACE_AXES_AZ_I[face] - theta))
    return _az_dist_point(
        float(FACE_CENTER_GEO[face, 0]), float(FACE_CENTER_GEO[face, 1]), az, r
    )


def _ijk_to_hex2d(i: int, j: int, k: int):
    di = i - k
    dj = j - k
    return di - 0.5 * dj, dj * M_SIN60


# ---------------------------------------------- base-cell derivation

def _build_base_cells():
    """Derive `faceIjkBaseCells` + `baseCellData` from the icosahedron.

    Anchors: every (face, normalized ijk, max coord ≤ 2) res-0 cell
    center. Centers from different faces that coincide are the same
    base cell. Numbering: descending latitude (the published H3
    convention — validated by the pentagon-id check in selfcheck()).
    Home face per cell: lowest face id hosting it. ccwRot60 per
    (face, ijk): the multiple of 60° the face's i-axis is rotated ccw
    (around the outward normal) from the home face's i-axis at the
    cell center.
    """
    anchors = []  # (face, (i,j,k), lat, lng, xyz, hex2d radius)
    for f in range(20):
        for i in range(3):
            for j in range(3):
                for k in range(3):
                    if min(i, j, k) != 0:  # not normalized → unreachable
                        continue
                    x, y = _ijk_to_hex2d(i, j, k)
                    lat, lng = _hex2d_to_geo(f, x, y, 0)
                    anchors.append(
                        (f, (i, j, k), lat, lng, _geo_to_xyz(lat, lng),
                         math.hypot(x, y))
                    )

    # Union-find cluster: anchors of the SAME cell seen from different
    # faces differ by gnomonic distortion (measured chord ≤ 0.15);
    # distinct cells are ≥ 0.27 apart — a clean gap, threshold 0.2.
    n = len(anchors)
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    xyz = np.array([a[4] for a in anchors])
    dist = np.linalg.norm(xyz[:, None, :] - xyz[None, :, :], axis=2)
    for a in range(n):
        for b in range(a + 1, n):
            if dist[a, b] < 0.2:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb

    groups: dict = {}
    for idx in range(n):
        groups.setdefault(find(idx), []).append(idx)

    cells = []
    for idxs in groups.values():
        members = sorted((anchors[i][0], anchors[i][1]) for i in idxs)
        # canonical (home) anchor: the face whose center the cell sits
        # closest to — minimal hex2d radius, ties (edge midpoints,
        # vertices) broken by lowest face id. This rule reproduces the
        # published pentagon ids exactly (selfcheck #3), which pins it
        # as H3's convention.
        home = min(
            idxs,
            key=lambda i: (round(anchors[i][5], 9), anchors[i][0], anchors[i][1]),
        )
        v = anchors[home][4]
        cells.append(
            [np.array(v), members, anchors[home][2], anchors[home][3],
             (anchors[home][0], anchors[home][1])]
        )

    # number north → south by canonical center latitude
    cells.sort(key=lambda c: -c[2])

    base_data = []       # per cell: (home_face, home_ijk, is_pent)
    fijk_to_cell = {}    # (face, ijk) -> (cell_id, ccw_rot60)
    for cid, (v, members, lat, lng, home) in enumerate(cells):
        home_face, home_ijk = home
        is_pent = len(members) == 5
        base_data.append((home_face, home_ijk, is_pent))
        t_home = _i_axis_tangent(home_face, home_ijk)
        for f, ijk in members:
            if (f, ijk) == (home_face, home_ijk):
                rot = 0
            else:
                t_f = _i_axis_tangent(f, ijk)
                # ccw angle (around outward normal v) from home i-axis
                # to face-f i-axis; both tangents projected into v's
                # tangent plane (anchors are distortion-displaced by up
                # to ~8.5°, far under the 60° quantum)
                th = t_home - v * float(np.dot(t_home, v))
                tf = t_f - v * float(np.dot(t_f, v))
                cross = np.cross(th, tf)
                ang = math.atan2(float(np.dot(cross, v)), float(np.dot(th, tf)))
                rot = round(ang / (math.pi / 3.0)) % 6
            fijk_to_cell[(f, ijk)] = (cid, rot)
    return base_data, fijk_to_cell


def _i_axis_tangent(face: int, ijk):
    """Unit tangent vector (3d) at the cell center pointing along the
    face's +i axis (via a small hex2d step)."""
    x, y = _ijk_to_hex2d(*ijk)
    lat0, lng0 = _hex2d_to_geo(face, x, y, 0)
    lat1, lng1 = _hex2d_to_geo(face, x + 1e-7, y, 0)
    p0 = np.array(_geo_to_xyz(lat0, lng0))
    p1 = np.array(_geo_to_xyz(lat1, lng1))
    t = p1 - p0
    t -= p0 * float(np.dot(t, p0))  # project onto tangent plane
    n = float(np.linalg.norm(t))
    return t / n


_BASE_DATA, _FIJK_TO_CELL = _build_base_cells()

# dense lookup arrays: [face, i, j, k] -> cell / rot (-1 = unreachable)
_BC_CELL = np.full((20, 3, 3, 3), -1, dtype=np.int64)
_BC_ROT = np.zeros((20, 3, 3, 3), dtype=np.int64)
for (_f, (_i, _j, _k)), (_cid, _rot) in _FIJK_TO_CELL.items():
    _BC_CELL[_f, _i, _j, _k] = _cid
    _BC_ROT[_f, _i, _j, _k] = _rot

_IS_PENT = np.zeros(122, dtype=bool)
for _cid, (_hf, _hijk, _p) in enumerate(_BASE_DATA):
    _IS_PENT[_cid] = _p

_FACE_CENTER_XYZ = np.array(
    [_geo_to_xyz(float(la), float(lo)) for la, lo in FACE_CENTER_GEO]
)

# Pentagon orientation tables (per-face ccwRot60 + cw-offset faces),
# DERIVED BY TILING CONSISTENCY (jobs/h3_pentagon_fit.py): exhaustive
# search over all 6^4 rotation assignments x 2^5 cw subsets per
# pentagon, scored by id-agreement of near-coincident point pairs
# across icosa-face seams (collision-free micro-buckets, far-from-
# vertex pairs only). Every pentagon converges to a unique optimum
# with ~0.9 raw pair agreement (residual = genuine cell-boundary
# pairs) and the exact published cell count (286 res-3 cells per
# pentagon). The geometric 60°-quantized rotation guess is NOT valid
# for pentagons (faces sit 72° apart around a vertex), hence this
# override of the generator values. The fitted cw-offset pairs for
# pentagons 14/24/38/49/72 independently match the baseCells.c
# fragments recalled in review ({2,6}, {1,5}, {3,7}, {0,9}, {12,16}).
_PENTAGON_FIT = {
    4:   {"rots": {0: 0, 1: 1, 2: 2, 3: 3, 4: 4},      "cw": ()},
    14:  {"rots": {1: 0, 2: 1, 6: 3, 7: 3, 11: 0},     "cw": (2, 6)},
    24:  {"rots": {0: 0, 1: 1, 5: 3, 6: 3, 10: 0},     "cw": (1, 5)},
    38:  {"rots": {2: 0, 3: 1, 7: 3, 8: 3, 12: 0},     "cw": (3, 7)},
    49:  {"rots": {0: 0, 4: 4, 5: 2, 9: 2, 14: 4},     "cw": (0, 9)},
    58:  {"rots": {3: 0, 4: 1, 8: 3, 9: 3, 13: 0},     "cw": (4, 8)},
    63:  {"rots": {6: 0, 10: 3, 11: 3, 15: 1, 16: 0},  "cw": (11, 15)},
    72:  {"rots": {7: 0, 11: 3, 12: 3, 16: 1, 17: 0},  "cw": (12, 16)},
    83:  {"rots": {5: 0, 10: 3, 14: 3, 15: 0, 19: 1},  "cw": (10, 19)},
    97:  {"rots": {8: 0, 12: 3, 13: 3, 17: 1, 18: 0},  "cw": (13, 17)},
    107: {"rots": {9: 0, 13: 3, 14: 3, 18: 1, 19: 0},  "cw": (14, 18)},
    117: {"rots": {15: 0, 16: 4, 17: 3, 18: 2, 19: 1}, "cw": ()},
}

# patch pentagon rotations into the dense lookup (the hexagon entries
# keep their geometric derivation, which res-1-count selfchecks pin)
for _cid, _fit in _PENTAGON_FIT.items():
    for (_f, _ijk), (_c, _r) in _FIJK_TO_CELL.items():
        if _c == _cid:
            _BC_ROT[_f, _ijk[0], _ijk[1], _ijk[2]] = _fit["rots"][_f]

_CW_OFFSET = {cid: fit["cw"] for cid, fit in _PENTAGON_FIT.items()}


# ------------------------------------------------ vectorized IJK math

def _ijk_normalize_vec(i, j, k):
    """coordijk.c `_ijkNormalize`, vectorized. The C sequence (three
    negativity folds then subtract the positive min) is identically
    ``v - min(v)`` elementwise — each fold subtracts one coordinate
    from all three, so only the final min matters. (The SQL twin uses
    the same identity; equivalence is pinned by the bit-exact
    cross-engine checks.)"""
    m = np.minimum(np.minimum(i, j), k)
    return i - m, j - m, k - m


def _hex2d_to_ijk_vec(x, y):
    """coordijk.c `_hex2dToCoordIJK`, vectorized: fractional hex2d →
    nearest IJK+ lattice point."""
    a1 = np.abs(x)
    a2 = np.abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = np.floor(x1).astype(np.int64)
    m2 = np.floor(x2).astype(np.int64)
    r1 = x1 - m1
    r2 = x2 - m2

    i_a = m1
    j_a = np.where(r2 < (1.0 + r1) / 2.0, m2, m2 + 1)
    j_b = np.where(r2 < (1.0 - r1), m2, m2 + 1)
    i_b = np.where(((1.0 - r1) <= r2) & (r2 < 2.0 * r1), m1 + 1, m1)
    j_c = np.where(r2 < (1.0 - r1), m2, m2 + 1)
    i_c = np.where((2.0 * r1 - 1.0 < r2) & (r2 < 1.0 - r1), m1, m1 + 1)
    i_d = m1 + 1
    j_d = np.where(r2 < r1 / 2.0, m2, m2 + 1)

    lo = r1 < 0.5
    i = np.where(lo, np.where(r1 < 1.0 / 3.0, i_a, i_b),
                 np.where(r1 < 2.0 / 3.0, i_c, i_d))
    j = np.where(lo, np.where(r1 < 1.0 / 3.0, j_a, j_b),
                 np.where(r1 < 2.0 / 3.0, j_c, j_d))

    # fold across the axes (j still non-negative here)
    xneg = x < 0.0
    jeven = (j % 2) == 0
    i = np.where(xneg & jeven, i - 2 * (i - j // 2), i)
    i = np.where(xneg & ~jeven, i - (2 * (i - (j + 1) // 2) + 1), i)
    yneg = y < 0.0
    i = np.where(yneg, i - (2 * j + 1) // 2, i)
    j = np.where(yneg, -j, j)
    return _ijk_normalize_vec(i, j, np.zeros_like(i))


def _up_ap7_vec(i, j, k, rotrev: bool):
    """coordijk.c `_upAp7` (ccw, rotrev=False) / `_upAp7r` (cw):
    parent cell coords one aperture-7 resolution up. lround halves
    cannot occur ((3i−j)/7 etc. are never exact halves), so rint is
    exact."""
    di = i - k
    dj = j - k
    if rotrev:
        ni = np.rint((2.0 * di + dj) / 7.0).astype(np.int64)
        nj = np.rint((3.0 * dj - di) / 7.0).astype(np.int64)
    else:
        ni = np.rint((3.0 * di - dj) / 7.0).astype(np.int64)
        nj = np.rint((di + 2.0 * dj) / 7.0).astype(np.int64)
    return _ijk_normalize_vec(ni, nj, np.zeros_like(ni))


def _down_ap7_vec(i, j, k, rotrev: bool):
    """coordijk.c `_downAp7`/`_downAp7r`: child-center coords one
    aperture-7 resolution down."""
    if rotrev:
        ni = 3 * i + 0 * j + 1 * k
        nj = 1 * i + 3 * j + 0 * k
        nk = 0 * i + 1 * j + 3 * k
    else:
        ni = 3 * i + 1 * j + 0 * k
        nj = 0 * i + 3 * j + 1 * k
        nk = 1 * i + 0 * j + 3 * k
    return _ijk_normalize_vec(ni, nj, nk)


def _apply_rot_table(digits, mask, table):
    """Apply a digit-rotation lookup to all digit columns of `digits`
    for the rows selected by `mask`."""
    digits[mask] = table[digits[mask]]
    return digits


def _leading_nonzero(digits):
    """Per-row first nonzero digit (0 if none) — h3Index.c
    `_h3LeadingNonZeroDigit`."""
    if digits.shape[1] == 0:  # res 0: no digits
        return np.zeros(digits.shape[0], dtype=np.int64)
    nz = digits != 0
    first = np.argmax(nz, axis=1)
    has = nz.any(axis=1)
    lead = digits[np.arange(digits.shape[0]), first]
    return np.where(has, lead, 0)


def latlng_to_cell(lon, lat, res: int = 8, _cw_offset=None) -> np.ndarray:
    """Vectorized (lon°, lat°) → H3 cell index at ``res`` (int64).

    Follows faceijk.c `_geoToFaceIjk` + `_faceIjkToH3` exactly; see
    the module docstring for the provenance of each stage.
    ``_cw_offset`` overrides the pentagon cw-offset-face table (used
    only by the consistency derivation in selfcheck/tests).
    """
    if not 0 <= res <= 15:
        raise ValueError(f"res must be 0..15, got {res}")
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    phi = np.radians(lat)
    lam = np.radians(lon)
    cosphi = np.cos(phi)
    px = cosphi * np.cos(lam)
    py = cosphi * np.sin(lam)
    pz = np.sin(phi)

    # closest icosa face by squared chord distance — streamed per face
    # (identical FP expression per element as the (n, 20) matrix form,
    # so ids are bit-stable; ties keep the LOWEST face, matching both
    # np.argmin and the SQL twin's ORDER BY sqd, face)
    sqd = np.full(len(px), np.inf)
    face = np.zeros(len(px), dtype=np.int64)
    for f in range(20):
        fx, fy, fz = _FACE_CENTER_XYZ[f]
        d = (px - fx) ** 2 + (py - fy) ** 2 + (pz - fz) ** 2
        better = d < sqd
        face[better] = f
        np.minimum(sqd, d, out=sqd)

    r = np.arccos(np.clip(1.0 - sqd / 2.0, -1.0, 1.0))
    flat0 = FACE_CENTER_GEO[face, 0]
    flng0 = FACE_CENTER_GEO[face, 1]
    # geo azimuth face-center → point (bearing convention)
    dl = phi  # alias for readability below
    az = np.arctan2(
        np.cos(dl) * np.sin(lam - flng0),
        np.cos(flat0) * np.sin(dl)
        - np.sin(flat0) * np.cos(dl) * np.cos(lam - flng0),
    )
    theta = _pos_angle(FACE_AXES_AZ_I[face] - _pos_angle(az))
    if res % 2 == 1:  # Class III
        theta = _pos_angle(theta - M_AP7_ROT_RADS)
    rs = np.tan(r) / RES0_U_GNOMONIC * (M_SQRT7 ** res)
    hx = rs * np.cos(theta)
    hy = rs * np.sin(theta)
    near = r < 1e-16
    hx = np.where(near, 0.0, hx)
    hy = np.where(near, 0.0, hy)

    i, j, k = _hex2d_to_ijk_vec(hx, hy)

    # aperture-7 up-travel, one digit per resolution
    n = len(i)
    digits = np.zeros((n, res), dtype=np.int64)
    for rr in range(res - 1, -1, -1):
        class3 = (rr + 1) % 2 == 1
        li, lj, lk = i, j, k
        i, j, k = _up_ap7_vec(i, j, k, rotrev=not class3)
        ci, cj, ck = _down_ap7_vec(i, j, k, rotrev=not class3)
        di, dj, dk = _ijk_normalize_vec(li - ci, lj - cj, lk - ck)
        digits[:, rr] = 4 * di + 2 * dj + dk

    if (i > 2).any() or (j > 2).any() or (k > 2).any():
        bad = np.nonzero((i > 2) | (j > 2) | (k > 2))[0][:3]
        raise AssertionError(
            f"res-0 coords out of base-cell range at rows {bad.tolist()}"
        )
    bc = _BC_CELL[face, i, j, k]
    if (bc < 0).any():
        raise AssertionError("unreachable (face, ijk) base-cell lookup")
    rot = _BC_ROT[face, i, j, k]

    pent = _IS_PENT[bc]
    if pent.any() and res > 0:
        # deleted-K-subsequence fix BEFORE canonical rotation
        lead = _leading_nonzero(digits)
        fix = pent & (lead == _K)
        if fix.any():
            cw_table = _CW_OFFSET if _cw_offset is None else _cw_offset
            is_cw = np.zeros(n, dtype=bool)
            for row in np.nonzero(fix)[0]:
                is_cw[row] = int(face[row]) in cw_table[int(bc[row])]
            digits = _apply_rot_table(digits, fix & is_cw, _ROT_CW)
            digits = _apply_rot_table(digits, fix & ~is_cw, _ROT_CCW)
    # canonical base-cell rotations
    for t in range(1, 6):
        m = rot >= t
        if not m.any():
            continue
        mp = m & pent
        mh = m & ~pent
        if mh.any():
            digits = _apply_rot_table(digits, mh, _ROT_CCW)
        if mp.any():
            # _h3RotatePent60ccw: rotate, then if leading == K rotate again
            digits = _apply_rot_table(digits, mp, _ROT_CCW)
            lead = _leading_nonzero(digits)
            again = mp & (lead == _K)
            if again.any():
                digits = _apply_rot_table(digits, again, _ROT_CCW)

    idx = (
        np.int64(1) << np.int64(59)
    ) | (np.int64(res) << np.int64(52)) | (bc.astype(np.int64) << np.int64(45))
    for rr in range(res):
        idx = idx | (digits[:, rr] << np.int64(3 * (14 - rr)))
    if res < 15:
        idx = idx | np.int64((1 << (3 * (15 - res))) - 1)
    return idx


def cell_to_string(cid) -> "np.ndarray":
    """int64 H3 index → canonical lowercase hex string (h3 text form)."""
    cid = np.asarray(cid, dtype=np.int64)
    return np.array([format(int(c) & 0xFFFFFFFFFFFFFFFF, "x") for c in cid.ravel()]).reshape(cid.shape)


# ------------------------------------------------- hierarchy + inverse

def cell_to_parent(cid, parent_res: int) -> np.ndarray:
    """Exact H3 parent: set the res field and pad child digits with 7
    (pure bit math — identical to h3's cellToParent)."""
    cid = np.asarray(cid, dtype=np.int64)
    res = (cid >> np.int64(52)) & np.int64(0xF)
    if (parent_res > res).any():
        raise ValueError("parent_res must be <= cell res")
    out = (cid & ~np.int64(0xF << 52)) | (np.int64(parent_res) << np.int64(52))
    # set digits parent_res+1 .. 15 to 7
    mask = (np.int64(1) << (np.int64(3) * (np.int64(15) - np.int64(parent_res)))) - np.int64(1)
    return out | mask


def cell_to_children(cid: int, child_res: int) -> np.ndarray:
    """Exact H3 children enumeration: every digit combination at the
    intermediate resolutions (pentagon cells skip the deleted K digit
    at their center path, mirroring h3's cellToChildren)."""
    cid = int(cid)
    res = (cid >> 52) & 0xF
    if not res <= child_res <= 15:
        raise ValueError(f"child_res must be in [{res}, 15], got {child_res}")
    bc = (cid >> 45) & 0x7F
    cells = [cid]
    for r in range(res + 1, child_res + 1):
        nxt = []
        shift = 3 * (15 - r)
        for c in cells:
            base = (c & ~(0xF << 52)) | (r << 52)
            base &= ~(0x7 << shift)  # clear this res digit (was 7)
            # the K digit is deleted ONLY along the all-zero path from
            # the pentagon BASE CELL: check every digit 1..r-1 of the
            # candidate child, including the input cell's own digits
            # (round-4 review finding — checking only the expansion
            # digits dropped a real child under every pentagon bc)
            lead_is_center = all(
                ((c >> (3 * (15 - rr))) & 7) in (0, 7)
                for rr in range(1, r)
            )
            pent_center = _IS_PENT[bc] and lead_is_center
            for d in range(7):
                if pent_center and d == _K:
                    continue  # deleted K subsequence under a pentagon
                nxt.append(base | (d << shift))
        cells = nxt
    return np.asarray(cells, dtype=np.int64)


# ------------------------------------------- face-neighbor overage
# The published algorithm (faceijk.c `_adjustOverageClassII`,
# `faceNeighbors`, `adjacentFaceDir`) re-anchors coordinates that
# "overage" past a face's indexing region onto the adjacent icosa
# face. The 20×4 `faceNeighbors` table (neighbor face, ccw 60°
# rotation count, translation vector per crossing quadrant) is NOT
# shipped as data here: it is DERIVED at import from the res-0
# base-cell anchors (`_FIJK_TO_CELL`), which record every base cell's
# appearance on every face it touches. For each face f and quadrant,
# the three out-of-range anchor positions (sum > 2) and the same
# cells' canonical positions on the neighbor face pin the unique
# lattice isometry (rotation n ∈ 0..5 + translation) — two anchors
# determine it, the third verifies it, and the derivation asserts
# exactly one consistent fit exists per (face, quadrant).

_NO_OVERAGE, _FACE_EDGE, _NEW_FACE = 0, 1, 2
_IJ_QUAD, _KI_QUAD, _JK_QUAD = 1, 2, 3  # faceNeighbors row indices


def _rot60ccw_ijk(v):
    """coordijk.c `_ijkRotate60ccw` (i→i+j, j→j+k axes images):
    (i,j,k) → (i+k, i+j, j+k), caller normalizes."""
    i, j, k = v
    return (i + k, i + j, j + k)


def _rot60cw_ijk(v):
    i, j, k = v
    return (i + j, j + k, i + k)


def _norm_ijk(v):
    m = min(v)
    return (v[0] - m, v[1] - m, v[2] - m)


def _derive_face_neighbors():
    quad_anchors = {
        _IJ_QUAD: [(2, 2, 0), (2, 1, 0), (1, 2, 0)],  # k == 0
        _KI_QUAD: [(2, 0, 2), (2, 0, 1), (1, 0, 2)],  # k > 0, j == 0
        _JK_QUAD: [(0, 2, 2), (0, 2, 1), (0, 1, 2)],  # k > 0, j > 0
    }
    # cell -> {face: ijk} canonical appearances
    cell_faces: dict = {}
    for (f, ijk), (cid, _rot) in _FIJK_TO_CELL.items():
        cell_faces.setdefault(cid, {})[f] = ijk

    fn_face = np.full((20, 4), -1, dtype=np.int64)
    fn_rot = np.zeros((20, 4), dtype=np.int64)
    fn_trans = np.zeros((20, 4, 3), dtype=np.int64)
    for f in range(20):
        fn_face[f, 0] = f  # quadrant 0: the face itself, identity
        for quad, anchors in quad_anchors.items():
            cids = [_FIJK_TO_CELL[(f, a)][0] for a in anchors]
            # candidate neighbor faces: host ALL three quadrant cells
            cand_faces = set.intersection(
                *[set(cell_faces[c]) for c in cids]
            ) - {f}
            fits = []
            for f2 in sorted(cand_faces):
                for n in range(6):
                    rot = lambda v: v
                    for _ in range(n):
                        prev = rot
                        rot = lambda v, p=prev: _rot60ccw_ijk(p(v))
                    r0 = rot(anchors[0])
                    t = tuple(
                        cell_faces[cids[0]][f2][x] - r0[x] for x in range(3)
                    )
                    ok = all(
                        _norm_ijk(tuple(rot(a)[x] + t[x] for x in range(3)))
                        == cell_faces[c][f2]
                        for a, c in zip(anchors, cids)
                    )
                    if ok:
                        fits.append((f2, n, t))
            if len(fits) != 1:
                raise AssertionError(
                    f"face-neighbor fit not unique: face {f} quad {quad} "
                    f"→ {fits}"
                )
            f2, n, t = fits[0]
            fn_face[f, quad] = f2
            fn_rot[f, quad] = n
            fn_trans[f, quad] = t
    adj_dir = np.zeros((20, 20), dtype=np.int64)  # 0 = not adjacent/self
    for f in range(20):
        for quad in (1, 2, 3):
            adj_dir[f, fn_face[f, quad]] = quad
    return fn_face, fn_rot, fn_trans, adj_dir


_FN_FACE, _FN_ROT, _FN_TRANS, _ADJ_FACE_DIR = _derive_face_neighbors()


def _adjust_overage_class_ii(face, ijk, res, pent_leading4, substrate):
    """faceijk.c `_adjustOverageClassII` (scalar): if (face, ijk) at
    Class-II resolution ``res`` overages past the face's indexing
    region, re-anchor onto the adjacent face. Returns
    (overage_code, face, ijk) with normalized coords."""
    max_dim = 2 * 7 ** (res // 2)
    if substrate:
        max_dim *= 3
    i, j, k = ijk
    s = i + j + k
    if substrate and s == max_dim:
        return _FACE_EDGE, face, ijk
    if s <= max_dim:
        return _NO_OVERAGE, face, ijk
    if k > 0:
        if j > 0:
            quad = _JK_QUAD
        else:
            quad = _KI_QUAD
            if pent_leading4:
                # translate origin to the pentagon center, rotate cw
                # to skip the deleted subsequence, translate back
                tmp = (i - max_dim, j, k)
                tmp = _rot60cw_ijk(tmp)
                i, j, k = (tmp[0] + max_dim, tmp[1], tmp[2])
    else:
        quad = _IJ_QUAD
    new_face = int(_FN_FACE[face, quad])
    v = (i, j, k)
    for _ in range(int(_FN_ROT[face, quad])):
        v = _rot60ccw_ijk(v)
    unit_scale = 7 ** (res // 2)
    if substrate:
        unit_scale *= 3
    t = _FN_TRANS[face, quad]
    v = _norm_ijk(
        (v[0] + int(t[0]) * unit_scale,
         v[1] + int(t[1]) * unit_scale,
         v[2] + int(t[2]) * unit_scale)
    )
    if substrate and sum(v) == max_dim:
        return _FACE_EDGE, new_face, v
    return _NEW_FACE, new_face, v


def _descend_digits(start_ijk, digits):
    """Aperture-7 digit descent from a res-0 position: one `_downAp7`/
    `_downAp7r` (by resolution class) + digit-neighbor step per digit.
    Pure INT lattice math (the numpy single-element version cost ~30 µs
    per call — round-5 bulk profile), frame = the start face."""
    i, j, k = start_ijk
    for r, d in enumerate(digits, start=1):
        if r % 2 == 0:  # Class II: _downAp7r
            i, j, k = 3 * i + k, i + 3 * j, j + 3 * k
        else:  # Class III: _downAp7
            i, j, k = 3 * i + j, 3 * j + k, i + 3 * k
        i += (d >> 2) & 1
        j += (d >> 1) & 1
        k += d & 1
        m = min(i, j, k)
        i, j, k = i - m, j - m, k - m
    return (i, j, k)


def _pent_rotate_cw(digits):
    """Inverse of the forward `_h3RotatePent60ccw` digit rotation:
    rotate every digit cw; if the leading digit lands on K, rotate cw
    once more (mirrors the forward double-rotation rule)."""
    out = [int(_ROT_CW[d]) for d in digits]
    if next((d for d in out if d != 0), 0) == _K:
        out = [int(_ROT_CW[d]) for d in out]
    return out


def _pent_face_ijk(c, res, bc, digits):
    """Exact inverse for PENTAGON base-cell descendants under THIS
    repo's fitted digit convention (see `_PENTAGON_FIT`): rather than
    recalling uber/h3's pentLeading4 overage fix — which is pinned to
    h3's own home-face/cw-offset conventions and does not transfer —
    invert the forward map directly. For each of the pentagon's 5
    member faces, undo that face's canonical rotations (pentagon-cw
    ×rot) and the deleted-K-subsequence fix (both pre-images), descend
    the candidate face-frame digits on that face, and keep the
    candidate whose inverse projection FORWARD-MAPS back to the cell —
    exact by construction because the winning candidate reproduces the
    precise lattice position `latlng_to_cell` up-travels for interior
    points of the cell. ≤ 5 faces × 2 digit variants, pentagon base
    cells only (12 of 122)."""
    best = None
    for _r2, f, pos in _pent_face_positions(c, res, bc, digits):
        if best is None or _r2 < best[0]:
            best = (_r2, f, pos)
    if best is None:
        raise AssertionError(
            f"pentagon inverse found no consistent face for cell {c:x}"
        )
    return best[1], best[2], res


def _pent_face_positions(c, res, bc, digits):
    """All (hex2d_radius², face, ijk) frames in which a pentagon
    descendant's position round-trips — one per member face whose
    sector the cell touches (see `_pent_face_ijk` for the inversion
    scheme). Boundary construction consumes every valid frame."""
    members = [
        (f, ijk) for (f, ijk), (cid, _r) in _FIJK_TO_CELL.items() if cid == bc
    ]
    # collect every candidate first, verify with ONE batched
    # latlng_to_cell call (the per-candidate single-point calls were
    # ~10× the kernel's cost in bulk workloads — round-5 profile)
    cand_rows = []  # (f, pos, r2, lon_deg, lat_deg)
    for f, ijk_f in sorted(members):
        m = int(_BC_ROT[f, ijk_f[0], ijk_f[1], ijk_f[2]])
        base = list(digits)
        for _ in range(m):
            base = _pent_rotate_cw(base)
        cands = []
        if next((d for d in base if d != 0), 0) != _K:
            cands.append(base)
        # pre-image of the deleted-K fix (applied forward when the
        # face-frame leading digit was K): cw-offset faces rotated cw,
        # others ccw — undo with the opposite rotation
        is_cw = f in _CW_OFFSET[bc]
        table = _ROT_CCW if is_cw else _ROT_CW
        pre = [int(table[d]) for d in base]
        if next((d for d in pre if d != 0), 0) == _K:
            cands.append(pre)
        for cand in cands:
            pos = _descend_digits(ijk_f, cand)
            x, y = _ijk_to_hex2d(*pos)
            lat, lng = _hex2d_to_geo(f, x, y, res)
            cand_rows.append(
                (f, pos, x * x + y * y,
                 math.degrees(lng), math.degrees(lat))
            )
    if not cand_rows:
        return []
    back = latlng_to_cell(
        np.array([r[3] for r in cand_rows]),
        np.array([r[4] for r in cand_rows]), res,
    )
    best = {}
    for (f, pos, r2, _lo, _la), b in zip(cand_rows, back.tolist()):
        if int(b) == c and (f not in best or r2 < best[f][0]):
            best[f] = (r2, f, pos)
    return list(best.values())


def _h3_to_face_ijk(c: int):
    """h3Index.c `_h3ToFaceIjk` (scalar, exact): cell → canonical
    (face, ijk) at the cell's own resolution. Hexagon base cells use
    the published overage re-anchor with the DERIVED face-neighbor
    tables; pentagon base cells use the convention-free forward-map
    inversion (`_pent_face_ijk`). No probe/snapping heuristics."""
    c = int(c)
    res = (c >> 52) & 0xF
    bc = (c >> 45) & 0x7F
    digits = [(c >> (3 * (15 - r))) & 7 for r in range(1, res + 1)]
    if _IS_PENT[bc]:
        return _pent_face_ijk(c, res, bc, digits)
    home_face, home_ijk, _ = _BASE_DATA[bc]
    face = home_face
    i, j, k = _descend_digits(home_ijk, digits)
    # center base cells (home ijk 0,0,0) never overage
    if res == 0 or home_ijk == (0, 0, 0):
        return face, (i, j, k), res
    orig = (i, j, k)
    adj_res = res
    ijk = orig
    if res % 2 == 1:  # Class III: drop into the finer Class II grid
        i2, j2, k2 = ijk
        i2, j2, k2 = 3 * i2 + k2, i2 + 3 * j2, j2 + 3 * k2
        m = min(i2, j2, k2)
        ijk = (i2 - m, j2 - m, k2 - m)
        adj_res += 1
    ov, face, ijk = _adjust_overage_class_ii(face, ijk, adj_res, False, False)
    if ov != _NO_OVERAGE:
        if adj_res != res:
            i2, j2, k2 = ijk
            di, dj = i2 - k2, j2 - k2
            ni = round((2.0 * di + dj) / 7.0)
            nj = round((3.0 * dj - di) / 7.0)
            m = min(ni, nj, 0)
            ijk = (ni - m, nj - m, -m)
    elif adj_res != res:
        ijk = orig
    return face, ijk, res


def cell_to_latlng(cid) -> "tuple[np.ndarray, np.ndarray]":
    """Cell → (lon°, lat°) of the EXACT H3 cell center, via the
    published inverse path (`_h3ToFaceIjk` + `_faceIjkToGeo`): digit
    descent from the base cell's home face, then face-neighbor overage
    re-anchoring with the derived `faceNeighbors` tables. Bit-stable
    and total — every cell round-trips (`latlng_to_cell(center) ==
    cell`, asserted at 100% in tests), replacing the round-4
    probe/fixpoint approximation (99.9% roundtrip) this round."""
    cid = np.asarray(cid, dtype=np.int64)
    flat = cid.ravel()
    out_lat = np.zeros(len(flat), dtype=np.float64)
    out_lon = np.zeros(len(flat), dtype=np.float64)
    for n, c in enumerate(flat):
        face, ijk, res = _h3_to_face_ijk(int(c))
        x, y = _ijk_to_hex2d(*ijk)
        lat, lng = _hex2d_to_geo(face, x, y, res)
        out_lat[n] = math.degrees(lat)
        out_lon[n] = math.degrees(lng)
    return out_lon.reshape(cid.shape), out_lat.reshape(cid.shape)


# ------------------------------------------------- cell boundary
# (faceijk.c `_faceIjkToCellBoundary`): vertices live on a "substrate"
# grid — the cell grid scaled by aperture 3·3r (net: coords ×3, no
# rotation), plus one cw aperture 7 for Class III resolutions. The
# vertex offset tables are DERIVED from one geometrically-pinned seed
# each ((2,1,0): radius √3 at 30° = the circumvertex of a unit cell in
# ×3 substrate units; (5,4,0): the same vertex in the 7r-rotated
# Class III substrate) by successive 60° ccw lattice rotations.

_M_SQRT3_2 = math.sqrt(3.0) / 2.0


def _derive_vert_tables():
    tabs = {}
    for class3, seed in ((False, (2, 1, 0)), (True, (5, 4, 0))):
        verts = [seed]
        for _ in range(5):
            verts.append(_norm_ijk(_rot60ccw_ijk(verts[-1])))
        tabs[class3] = verts
    return tabs


_VERT_TABLES = _derive_vert_tables()


def _substrate_center(ijk, res):
    """Cell-grid coords → substrate-grid coords (+ adjusted res)."""
    i, j, k = 3 * ijk[0], 3 * ijk[1], 3 * ijk[2]
    adj_res = res
    if res % 2 == 1:  # Class III: one cw aperture 7 to Class II
        i, j, k = 3 * i + k, i + 3 * j, j + 3 * k
        m = min(i, j, k)
        i, j, k = i - m, j - m, k - m
        adj_res += 1
    return (i, j, k), adj_res


def _seg_intersect(p0, p1, q0, q1):
    """Line-line intersection (faceijk.c `_v2dIntersect` semantics:
    treats both segments as infinite lines)."""
    s1x, s1y = p1[0] - p0[0], p1[1] - p0[1]
    s2x, s2y = q1[0] - q0[0], q1[1] - q0[1]
    den = -s2x * s1y + s1x * s2y
    t = (s2x * (p0[1] - q0[1]) - s2y * (p0[0] - q0[0])) / den
    return (p0[0] + t * s1x, p0[1] + t * s1y)


def _face_corners_2d(max_dim):
    """The icosa-face triangle corners in substrate hex2d units (C's
    v0/v1/v2): radius 3·maxDim at 0°/120°/240° — the res-0 corner
    cells (2,0,0)/(0,2,0)/(0,0,2) scaled into the substrate grid."""
    return (
        (3.0 * max_dim, 0.0),
        (-1.5 * max_dim, 3.0 * _M_SQRT3_2 * max_dim),
        (-1.5 * max_dim, -3.0 * _M_SQRT3_2 * max_dim),
    )


def _edge_for_quad(corners, quad):
    if quad == _IJ_QUAD:
        return corners[0], corners[1]
    if quad == _JK_QUAD:
        return corners[1], corners[2]
    return corners[2], corners[0]  # KI


def _cell_boundary_hex(c, face, ijk, res):
    class3 = res % 2 == 1
    center, adj_res = _substrate_center(ijk, res)
    vt = _VERT_TABLES[class3]
    fverts = [
        _norm_ijk((center[0] + v[0], center[1] + v[1], center[2] + v[2]))
        for v in vt
    ]
    out = []
    last_face = -1
    last_ov = _NO_OVERAGE
    for vert in range(7):  # 6 + 1 re-check for a last-edge crossing
        v = vert % 6
        ov, f2, coord2 = _adjust_overage_class_ii(
            face, fverts[v], adj_res, False, True
        )
        # Class III cell edges crossing an icosa edge bend at the
        # crossing (each face is its own projection plane): insert the
        # intersection of the RAW (center-face-frame) edge with the
        # face edge toward the other face
        if class3 and vert > 0 and f2 != last_face and last_ov != _FACE_EDGE:
            lastv = (v + 5) % 6
            p0 = _ijk_to_hex2d(*fverts[lastv])
            p1 = _ijk_to_hex2d(*fverts[v])
            max_dim = 2 * 7 ** (adj_res // 2)
            corners = _face_corners_2d(max_dim)
            face2 = f2 if last_face == face else last_face
            quad = int(_ADJ_FACE_DIR[face, face2])
            if quad != 0:
                e0, e1 = _edge_for_quad(corners, quad)
                inter = _seg_intersect(p0, p1, e0, e1)
                at_vert = (
                    math.hypot(inter[0] - p0[0], inter[1] - p0[1]) < 1e-9
                    or math.hypot(inter[0] - p1[0], inter[1] - p1[1]) < 1e-9
                )
                if not at_vert:
                    lat, lng = _hex2d_to_geo(
                        face, inter[0], inter[1], adj_res, substrate=True
                    )
                    out.append((math.degrees(lng), math.degrees(lat)))
        if vert < 6:
            x, y = _ijk_to_hex2d(*coord2)
            lat, lng = _hex2d_to_geo(f2, x, y, adj_res, substrate=True)
            out.append((math.degrees(lng), math.degrees(lat)))
        last_face = f2
        last_ov = ov
    return out


def _change_frame(coords, from_face, to_face, unit_scale):
    """Express lattice coords of ``from_face``'s frame in ``to_face``'s
    frame via the derived faceNeighbors isometry (valid globally — it
    is the change-of-basis between the two adjacent face grids)."""
    quad = int(_ADJ_FACE_DIR[from_face, to_face])
    if quad == 0:
        raise AssertionError(f"faces {from_face},{to_face} not adjacent")
    v = tuple(coords)
    for _ in range(int(_FN_ROT[from_face, quad])):
        v = _rot60ccw_ijk(v)
    t = _FN_TRANS[from_face, quad]
    return _norm_ijk(
        (v[0] + int(t[0]) * unit_scale,
         v[1] + int(t[1]) * unit_scale,
         v[2] + int(t[2]) * unit_scale)
    )


def _cell_boundary_pent(c, res, bc, digits):
    """Pentagon cell boundary: per member face, the cell center
    descends in that face's frame (`_pent_face_positions`); the
    substrate vertices that do NOT overage out of the face are exact
    boundary vertices in that frame. Merging the ≤ 5 frames yields the
    5 distinct vertices; Class III edges between vertices on different
    faces additionally bend at the icosa-edge crossing, found by
    intersecting the edge (both endpoints expressed in one face's
    frame via the faceNeighbors change-of-basis) with that face's
    triangle edge."""
    class3 = res % 2 == 1
    frames = _pent_face_positions(c, res, bc, digits)
    vt = _VERT_TABLES[class3]
    raw = []  # (face, substrate coords, lon, lat)
    adj_res = None
    for _r2, f, pos in frames:
        center, adj_res = _substrate_center(pos, res)
        for vtab in vt:
            coord = _norm_ijk(
                (center[0] + vtab[0], center[1] + vtab[1],
                 center[2] + vtab[2])
            )
            ov, f2, coord2 = _adjust_overage_class_ii(
                f, coord, adj_res, False, True
            )
            if f2 != f:
                continue  # overages re-anchor: visible from another frame
            x, y = _ijk_to_hex2d(*coord2)
            lat, lng = _hex2d_to_geo(f, x, y, adj_res, substrate=True)
            raw.append((f, coord2, math.degrees(lng), math.degrees(lat)))
    # dedup physically-identical vertices seen from two frames (points
    # on icosa edges agree exactly between the two projections);
    # center from the min-radius frame directly (no re-solve)
    _r2b, fb, posb = min(frames)
    xb, yb = _ijk_to_hex2d(*posb)
    latb, lngb = _hex2d_to_geo(fb, xb, yb, res)
    clon, clat = math.degrees(lngb), math.degrees(latb)
    seen = {}
    for f, coord, lon, lat in raw:
        key = (round(lon, 7), round(lat, 7))
        if key not in seen:
            seen[key] = (f, coord, lon, lat)
    verts = list(seen.values())
    if len(verts) != 5:
        raise AssertionError(
            f"pentagon boundary: {len(verts)} distinct vertices for {c:x}"
        )
    # ccw order by azimuth around the (exact) center
    coslat = max(0.05, math.cos(math.radians(clat)))

    def _az(v):
        dlon = (v[2] - clon + 180.0) % 360.0 - 180.0
        return math.atan2(v[3] - clat, dlon * coslat)

    verts.sort(key=_az)
    out = []
    n = len(verts)
    for idx in range(n):
        f0, c0, lon0, lat0 = verts[idx]
        out.append((lon0, lat0))
        f1, c1, lon1, lat1 = verts[(idx + 1) % n]
        if class3 and f1 != f0:
            # express both endpoints in f0's frame, intersect with the
            # f0 triangle edge toward f1
            unit_scale = 3 * 7 ** (adj_res // 2)
            c1_in_f0 = _change_frame(c1, f1, f0, unit_scale)
            p0 = _ijk_to_hex2d(*c0)
            p1 = _ijk_to_hex2d(*c1_in_f0)
            max_dim = 2 * 7 ** (adj_res // 2)
            quad = int(_ADJ_FACE_DIR[f0, f1])
            if quad != 0:
                e0, e1 = _edge_for_quad(_face_corners_2d(max_dim), quad)
                inter = _seg_intersect(p0, p1, e0, e1)
                at_vert = (
                    math.hypot(inter[0] - p0[0], inter[1] - p0[1]) < 1e-9
                    or math.hypot(inter[0] - p1[0], inter[1] - p1[1]) < 1e-9
                )
                if not at_vert:
                    lat2, lng2 = _hex2d_to_geo(
                        f0, inter[0], inter[1], adj_res, substrate=True
                    )
                    out.append((math.degrees(lng2), math.degrees(lat2)))
    return out


def cell_to_boundary(c: int) -> np.ndarray:
    """Cell → boundary vertices as an (n, 2) array of (lon°, lat°) in
    ccw order. Hexagon cells: 6 vertices plus one icosa-edge-crossing
    vertex per Class III edge that changes projection face (the
    published distortion-vertex rule). Pentagon cells: 5 vertices plus
    Class III crossings. Vertices are EXACT (substrate-grid lattice
    points of the published construction, overage re-anchored)."""
    c = int(c)
    res = (c >> 52) & 0xF
    bc = (c >> 45) & 0x7F
    digits = [(c >> (3 * (15 - r))) & 7 for r in range(1, res + 1)]
    if _IS_PENT[bc] and all(d == 0 for d in digits):
        # an actual pentagon CELL (the all-zero digit path under a
        # pentagon base cell); other descendants are ordinary hexagons
        return np.array(_cell_boundary_pent(c, res, bc, digits))
    face, ijk, _ = _h3_to_face_ijk(c)
    return np.array(_cell_boundary_hex(c, face, ijk, res))


# --------------------------------------------------- neighbors / disk

def _neighbors(c: int) -> list:
    """The cells sharing an edge with ``c`` (6 for hexagons, 5 for
    pentagons). FAST PATH: the digit-space walk (`_neighbor_fast`,
    ~100× cheaper) whenever no pentagon base cell is involved — the
    overwhelming majority at scale (110/122 base cells). Fallback (and
    the validation oracle the fast path is tested against): probe just
    beyond each boundary-edge midpoint and classify with
    `latlng_to_cell`. The probe sits ~13% of an edge inside the
    neighbor — orders of magnitude above FP noise and far below any
    real distortion — and is validated against sampling adjacency +
    mutual-adjacency invariants in tests."""
    c = int(c)
    fast = [_neighbor_fast(c, d) for d in range(1, 7)]
    if all(f is not None for f in fast):
        out = []
        for x in fast:
            if x not in out:
                out.append(x)
        return out
    b = cell_to_boundary(c)
    res = (int(c) >> 52) & 0xF
    clon, clat = cell_to_latlng(np.array([c]))
    clon, clat = float(clon[0]), float(clat[0])
    n = len(b)
    # 3D spherical probes: chord midpoint of each edge pushed 15% of
    # the center→midpoint offset outward, all on the unit sphere —
    # robust at the poles and the antimeridian (a planar lon/lat
    # tangent frame is NOT: a polar cell's edge midpoint computed in
    # dlon-space can land back inside the cell — round-5 bug found by
    # the digit-space walk disagreeing near the north pole)
    ctr = np.array(_geo_to_xyz(math.radians(clat), math.radians(clon)))
    verts = np.array([
        _geo_to_xyz(math.radians(la), math.radians(lo)) for lo, la in b
    ])
    lons, lats = [], []
    for i in range(n):
        mid = verts[i] + verts[(i + 1) % n]
        mid /= np.linalg.norm(mid)
        p = mid + 0.15 * (mid - ctr)
        p /= np.linalg.norm(p)
        lats.append(math.degrees(math.asin(max(-1.0, min(1.0, p[2])))))
        lons.append(math.degrees(math.atan2(p[1], p[0])))
    cells = latlng_to_cell(
        np.array(lons), np.clip(np.array(lats), -90.0, 90.0), res
    )
    out = []
    for x in cells.tolist():
        if x != c and x not in out:
            out.append(x)
    return out


def grid_disk(c: int, k: int) -> "dict[int, int]":
    """All cells within grid distance ``k`` of ``c`` → {cell: ring}.
    BFS over exact edge-neighbors (`_neighbors`), the safe published
    semantics (`gridDiskDistances`): pentagon-aware (a pentagon in the
    disk simply contributes 5 neighbors), no unsafe digit arithmetic."""
    c = int(c)
    dist = {c: 0}
    frontier = [c]
    for ring in range(1, k + 1):
        nxt = []
        for cur in frontier:
            for nb in _neighbors(cur):
                if nb not in dist:
                    dist[nb] = ring
                    nxt.append(nb)
        frontier = nxt
    return dist


# --------------------------------------------------- small public API

def string_to_cell(s) -> np.ndarray:
    """Canonical lowercase-hex H3 string(s) → int64 index (inverse of
    `cell_to_string`)."""
    arr = np.asarray(s)
    flat = [int(x, 16) for x in arr.ravel()]
    return np.array(
        [v - (1 << 64) if v >= (1 << 63) else v for v in flat],
        dtype=np.int64,
    ).reshape(arr.shape)


def get_resolution(cid) -> np.ndarray:
    """Resolution field (0-15) of int64 H3 ids."""
    cid = np.asarray(cid, dtype=np.int64)
    return ((cid >> np.int64(52)) & np.int64(0xF)).astype(np.int64)


def is_pentagon(cid) -> np.ndarray:
    """True for the 12 pentagon cells per res (pentagon base cell AND
    all-zero digit path)."""
    cid = np.asarray(cid, dtype=np.int64)
    res = (cid >> np.int64(52)) & np.int64(0xF)
    bc = (cid >> np.int64(45)) & np.int64(0x7F)
    out = _IS_PENT[bc].copy()
    for r in range(1, 16):
        digit = (cid >> np.int64(3 * (15 - r))) & np.int64(7)
        out &= (r > res) | (digit == 0)
    return out


_EARTH_RADIUS_KM = 6371.007180918475  # h3's authalic Earth radius


def cell_area_km2(cid) -> np.ndarray:
    """Spherical area of each cell in km² (boundary triangulation from
    the exact center; L'Huilier excess × R²). The per-res SUM over a
    full enumeration equals the sphere's area (tested to 1e-12)."""
    cid = np.asarray(cid, dtype=np.int64)
    out = np.zeros(len(cid.ravel()), dtype=np.float64)

    def _xyz(lon, lat):
        la, lo = math.radians(lat), math.radians(lon)
        return np.array(
            [math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo),
             math.sin(la)]
        )

    def _tri(a, b, c):
        def ang(u, v):
            return math.atan2(
                float(np.linalg.norm(np.cross(u, v))), float(np.dot(u, v))
            )
        A, B, C = ang(b, c), ang(a, c), ang(a, b)
        sp = (A + B + C) / 2
        t = (math.tan(sp / 2) * math.tan((sp - A) / 2)
             * math.tan((sp - B) / 2) * math.tan((sp - C) / 2))
        return 4 * math.atan(math.sqrt(max(t, 0.0)))

    lons, lats = cell_to_latlng(cid.ravel())
    for i, c in enumerate(cid.ravel()):
        b = cell_to_boundary(int(c))
        ctr = _xyz(float(lons[i]), float(lats[i]))
        vs = [_xyz(lo, la) for lo, la in b]
        out[i] = sum(
            _tri(ctr, vs[j], vs[(j + 1) % len(vs)]) for j in range(len(vs))
        ) * _EARTH_RADIUS_KM ** 2
    return out.reshape(cid.shape)


# ------------------------------------------- digit-space neighbor walk
# The fast path for `_neighbors`/`grid_disk`: the published
# h3NeighborRotations digit arithmetic (algos.c), with every table
# DERIVED rather than recalled:
# - digit-transition tables (`NEW_DIGIT`/`NEW_ADJUSTMENT` per class):
#   pure aperture-7 lattice arithmetic — child+unit(dir) → up-travel →
#   (new digit, parent carry); no convention content at all.
# - base-cell neighbor tables: home-face position + unit(dir), overage
#   re-anchored with the derived faceNeighbors isometry; the digit
#   rotation into the neighbor's canonical frame = coord-rotation count
#   + the anchor table's ccwRot60. Hexagon rows only; anything touching
#   a PENTAGON base cell (source or target — the deleted-subsequence
#   digit fixes are convention-sensitive) routes to the probe-based
#   boundary path, which is exact by construction.
# Validated: full res-1 enumeration + random samples at res 2-8 agree
# with the probe path cell-for-cell (tests), and the hexagon base-cell
# neighbor sets equal the geometric nearest-center sets exactly.

def _derive_digit_transition_tables():
    unit = {1: (0, 0, 1), 2: (0, 1, 0), 3: (0, 1, 1),
            4: (1, 0, 0), 5: (1, 0, 1), 6: (1, 1, 0)}

    def up7(v, rotrev):
        i, j, k = v
        di, dj = i - k, j - k
        if rotrev:
            return _norm_ijk((round((2 * di + dj) / 7),
                              round((3 * dj - di) / 7), 0))
        return _norm_ijk((round((3 * di - dj) / 7),
                          round((di + 2 * dj) / 7), 0))

    def down7(v, rotrev):
        i, j, k = v
        if rotrev:
            return _norm_ijk((3 * i + k, i + 3 * j, j + 3 * k))
        return _norm_ijk((3 * i + j, 3 * j + k, i + 3 * k))

    def dnum(v):
        v = _norm_ijk(v)
        return 4 * v[0] + 2 * v[1] + v[2]

    out = {}
    for rotrev in (False, True):
        nd = np.zeros((7, 7), dtype=np.int64)
        na = np.zeros((7, 7), dtype=np.int64)
        for d in range(7):
            child = unit.get(d, (0, 0, 0))
            for dirc in range(1, 7):
                pos = (child[0] + unit[dirc][0], child[1] + unit[dirc][1],
                       child[2] + unit[dirc][2])
                parent = up7(pos, rotrev)
                dp = down7(parent, rotrev)
                nd[d][dirc] = dnum((pos[0] - dp[0], pos[1] - dp[1],
                                    pos[2] - dp[2]))
                na[d][dirc] = dnum(parent) if parent != (0, 0, 0) else 0
            nd[d][0] = d
        out[rotrev] = (nd, na)
    return out


_DIGIT_TRANS = _derive_digit_transition_tables()


def _derive_base_cell_neighbors():
    unit = {1: (0, 0, 1), 2: (0, 1, 0), 3: (0, 1, 1),
            4: (1, 0, 0), 5: (1, 0, 1), 6: (1, 1, 0)}
    bcn = np.full((122, 7), -1, dtype=np.int64)
    bcr = np.zeros((122, 7), dtype=np.int64)
    for bc in range(122):
        if _IS_PENT[bc]:
            continue  # pentagon sources use the probe path
        f, ijk, _ = _BASE_DATA[bc]
        bcn[bc][0] = bc
        for d in range(1, 7):
            p = _norm_ijk((ijk[0] + unit[d][0], ijk[1] + unit[d][1],
                           ijk[2] + unit[d][2]))
            n_extra = 0
            f2, q = f, p
            if sum(q) > 2:
                _ov, f2, q = _adjust_overage_class_ii(f, q, 0, False, False)
                if f2 != f:
                    n_extra = int(_FN_ROT[f, _ADJ_FACE_DIR[f, f2]])
            cell = int(_BC_CELL[f2, q[0], q[1], q[2]])
            if cell < 0:
                raise AssertionError(f"bad base-cell neighbor {bc} dir {d}")
            bcn[bc][d] = cell
            bcr[bc][d] = (n_extra + int(_BC_ROT[f2, q[0], q[1], q[2]])) % 6
    return bcn, bcr


_BCN, _BCR = _derive_base_cell_neighbors()


def _neighbor_fast(c: int, dirc: int):
    """One grid step from a canonical cell in direction ``dirc`` via
    digit arithmetic. Returns the neighbor id, or None when a pentagon
    base cell is involved (caller falls back to the probe path)."""
    res = (c >> 52) & 0xF
    bc = (c >> 45) & 0x7F
    if _IS_PENT[bc]:
        return None
    digits = [(c >> (3 * (15 - r))) & 7 for r in range(1, res + 1)]
    d = dirc
    r = res
    new_bc = bc
    rots = 0
    while r >= 1:
        nd, na = _DIGIT_TRANS[r % 2 == 0]
        old = digits[r - 1]
        digits[r - 1] = int(nd[old][d])
        adj = int(na[old][d])
        if adj == 0:
            break
        d = adj
        r -= 1
    else:  # carried past the base cell: switch base cells
        new_bc = int(_BCN[bc][d])
        rots = int(_BCR[bc][d])
    if _IS_PENT[new_bc]:
        return None
    for _ in range(rots):
        digits = [int(_ROT_CCW[x]) for x in digits]
    out = (1 << 59) | (res << 52) | (new_bc << 45)
    for rr in range(res):
        out |= digits[rr] << (3 * (15 - rr - 1))
    out |= (1 << (3 * (15 - res))) - 1
    return out
