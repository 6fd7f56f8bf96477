"""Seeded input generator for the benchmark workloads.

Everything the program sees is written here as parquet: pages in the
``geo:node/way/relation`` text microformat (the 16 reference fixture
pages plus seeded filler pages). The generator also keeps a driver-side
model of the elements, from which it predicts feature counts and draws
the query and changeset sequences from the same seed.

Filler shape, per page kind:

- point nodes: one of four kept tag sets or untagged (untagged nodes
  classify as place.other and are dropped, so they never become
  features); a per-workload share lands in one hot area;
- ways: three dedicated untagged nodes each; closed triangles tagged
  ``leisure=park`` (areas) or open ``highway=residential`` lines;
- relations: ``type=multipolygon|natural=water`` over one dedicated,
  untagged, closed outer way.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the reference's ingest fixture (12 nodes, 3 ways, 1 relation); four of
# its elements become features (tests/ingest.rs golden)
FIXTURE_NODES = [
    (1312, "13.02", "37.0", "amenity=cafe"),
    (1313, "13.0", "37.0", ""),
    (1314, "13.01", "37.01", ""),
    (1315, "13.02", "37.0", ""),
    (2000, "13.03", "37.03", "amenity=bus_station"),
    (9000, "5.0", "-10.0", ""),
    (9001, "5.0", "-10.01", ""),
    (9002, "5.01", "-10.01", ""),
    (9003, "5.01", "-10.0", ""),
    (9004, "5.005", "-10.003", ""),
    (9005, "5.006", "-10.004", ""),
    (9006, "5.007", "-10.003", ""),
]
FIXTURE_WAYS = [
    (555, [1313, 1314, 1315, 1313], "leisure=park|name=triangle park"),
    (600, [9000, 9001, 9002, 9003, 9000], ""),
    (601, [9004, 9005, 9006, 9004], ""),
]
FIXTURE_RELATIONS = [
    (700, [("way", "outer", 600), ("way", "inner", 601)],
     "type=multipolygon|natural=water|name=cool lake"),
]
FIXTURE_FEATURE_OSM_IDS = {0: {1312, 2000}, 1: {555}, 2: {700}}

NODE_BASE = 100_000
WAY_BASE = 50_000_000
REL_BASE = 90_000_000

# kept point tags, and their feature-type names
NODE_TAGS = {
    "amenity=cafe": "amenity.cafe",
    "highway=bus_stop": "highway.bus_stop",
    "natural=tree|name=t": "natural.tree",
    "shop=bakery": "shop.bakery",
}
AREA_TAGS = "leisure=park"
LINE_TAGS = "highway=residential"
REL_TAGS = "type=multipolygon|natural=water"

# a 0.02° box (the hot cluster shape of sources/pages.py)
HOT_BOX = (2.34, 48.85, 2.36, 48.87)
# the centre of one H3 res-8 cell; points within ±0.0015° lon and
# ±0.001° lat of it all fall in that cell
HOT_CELL_CENTER = (2.347668, 48.862204)
HOT_CELL_HALF = (0.0015, 0.001)

TS0 = 1_580_000_000


def _fmt(v: float) -> str:
    """Six decimals, exact through CAST(string AS DOUBLE)."""
    return f"{v:.6f}"


@dataclass
class Elements:
    """Driver-side element model: id → definition, in the page text's
    own terms (coordinates as 6-decimal strings, tags as ``k=v|k=v``)."""

    nodes: dict = field(default_factory=dict)      # id → (lon_s, lat_s, tags)
    ways: dict = field(default_factory=dict)       # id → (refs, tags)
    relations: dict = field(default_factory=dict)  # id → (members, tags)
    hot_ids: set = field(default_factory=set)      # point nodes placed in the hot area

    def page_texts(self) -> list[tuple[str, str]]:
        out = []
        for nid, (lon, lat, tags) in self.nodes.items():
            out.append((f"https://bench.test/node/{nid}",
                        f"geo:node id={nid} lon={lon} lat={lat} tags={tags}"))
        for wid, (refs, tags) in self.ways.items():
            out.append((f"https://bench.test/way/{wid}",
                        f"geo:way id={wid} refs={','.join(map(str, refs))} tags={tags}"))
        for rid, (members, tags) in self.relations.items():
            m = ";".join(f"{t}:{r}:{ref}" for t, r, ref in members)
            out.append((f"https://bench.test/relation/{rid}",
                        f"geo:relation id={rid} members={m} tags={tags}"))
        return out

    # ---------------------------------------------------- predictions

    def node_feature_ids(self) -> set:
        return {i for i, (_, _, t) in self.nodes.items() if t}

    def way_feature_ids(self) -> set:
        return {
            i for i, (refs, t) in self.ways.items()
            if t and len({r for r in refs if r in self.nodes}) >= 2
        }

    def relation_feature_ids(self) -> set:
        out = set()
        for rid, (members, tags) in self.relations.items():
            kv = dict(p.split("=", 1) for p in tags.split("|") if p)
            if kv.get("type") not in ("multipolygon", "boundary"):
                continue
            if set(kv) - {"type", "name"} == set():
                continue  # only type/name → place.other
            nodes = set()
            for mtype, role, ref in members:
                if mtype == "way" and role in ("inner", "outer") and ref in self.ways:
                    nodes |= {r for r in self.ways[ref][0] if r in self.nodes}
            if len(nodes) >= 2:
                out.add(rid)
        return out

    def expected_counts(self) -> dict:
        return {
            0: len(self.node_feature_ids()),
            1: len(self.way_feature_ids()),
            2: len(self.relation_feature_ids()),
        }


def _fixture(el: Elements) -> None:
    for nid, lon, lat, tags in FIXTURE_NODES:
        el.nodes[nid] = (lon, lat, tags)
    for wid, refs, tags in FIXTURE_WAYS:
        el.ways[wid] = (list(refs), tags)
    for rid, members, tags in FIXTURE_RELATIONS:
        el.relations[rid] = (list(members), tags)


class IdSpace:
    def __init__(self) -> None:
        self.node = NODE_BASE
        self.way = WAY_BASE
        self.rel = REL_BASE

    def next_node(self) -> int:
        self.node += 1
        return self.node

    def next_way(self) -> int:
        self.way += 1
        return self.way

    def next_rel(self) -> int:
        self.rel += 1
        return self.rel


def _rand_point(rng: np.random.Generator) -> tuple[float, float]:
    return float(rng.uniform(-179.0, 179.0)), float(rng.uniform(-80.0, 80.0))


def _hot_point(rng: np.random.Generator, hot: str) -> tuple[float, float]:
    if hot == "cell":
        (cx, cy), (hx, hy) = HOT_CELL_CENTER, HOT_CELL_HALF
        return float(cx + rng.uniform(-hx, hx)), float(cy + rng.uniform(-hy, hy))
    x0, y0, x1, y1 = HOT_BOX
    return float(rng.uniform(x0, x1)), float(rng.uniform(y0, y1))


def add_way(el: Elements, ids: IdSpace, rng: np.random.Generator,
            closed: bool, tags: str, anchor=None) -> int:
    """A way over three dedicated untagged nodes near ``anchor``."""
    x, y = anchor if anchor is not None else _rand_point(rng)
    offs = [(0.0, 0.0), (0.002, 0.0), (0.0, 0.002)] if closed else \
        [(0.0, 0.0), (0.002, 0.001), (0.004, 0.0)]
    refs = []
    for dx, dy in offs:
        nid = ids.next_node()
        el.nodes[nid] = (_fmt(x + dx), _fmt(y + dy), "")
        refs.append(nid)
    if closed:
        refs.append(refs[0])
    wid = ids.next_way()
    el.ways[wid] = (refs, tags)
    return wid


def build_elements(seed: int, n_pages: int, hot: str, hot_share: float
                   ) -> tuple[Elements, IdSpace]:
    """Fixture + filler elements totalling ``n_pages`` pages.

    ``hot`` is ``"cell"`` (one H3 res-8 cell; ``hot_share`` of all node
    pages) or ``"box"`` (the 0.02° box; ``hot_share`` of point nodes)."""
    rng = np.random.default_rng(seed)
    el = Elements()
    _fixture(el)
    ids = IdSpace()
    n_filler = n_pages - 16
    n_rel = n_filler // 100
    n_way = n_filler // 25
    # pages: relations + their outer ways (1 way + 3 nodes each) +
    # ways (1 + 3 nodes each) + point nodes
    n_point = n_filler - n_rel * 5 - n_way * 4
    if n_point <= 0:
        raise ValueError(f"n_pages={n_pages} too small")
    for _ in range(n_rel):
        wid = add_way(el, ids, rng, closed=True, tags="")
        el.relations[ids.next_rel()] = ([("way", "outer", wid)], REL_TAGS)
    for i in range(n_way):
        add_way(el, ids, rng, closed=(i % 2 == 0),
                tags=AREA_TAGS if i % 2 == 0 else LINE_TAGS)
    n_nodes_total = len(el.nodes) + n_point
    n_hot = (round(hot_share * n_nodes_total) if hot == "cell"
             else round(hot_share * n_point))
    n_hot = min(n_hot, n_point)
    tag_choices = list(NODE_TAGS) + [""]
    tag_idx = rng.integers(0, len(tag_choices), n_point)
    for i in range(n_point):
        x, y = _hot_point(rng, hot) if i < n_hot else _rand_point(rng)
        nid = ids.next_node()
        el.nodes[nid] = (_fmt(x), _fmt(y), tag_choices[tag_idx[i]])
        if i < n_hot:
            el.hot_ids.add(nid)
    return el, ids


def write_pages(el: Elements, path: str, n_files: int = 8) -> int:
    """Write the pages table as ``n_files`` parquet files; returns rows."""
    rows = el.page_texts()
    os.makedirs(path, exist_ok=True)
    per = math.ceil(len(rows) / n_files)
    for f in range(n_files):
        chunk = rows[f * per:(f + 1) * per]
        if not chunk:
            continue
        urls = [u for u, _ in chunk]
        texts = [t for _, t in chunk]
        html = [
            f"<html><head><title>{u}</title></head><body><article>{t}"
            "</article></body></html>".encode()
            for u, t in chunk
        ]
        base = f * per
        table = pa.table({
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(
                [(TS0 + (base + i) % 86_400) * 1_000_000 for i in range(len(chunk))],
                pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(chunk), pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
    return len(rows)


# ------------------------------------------------------------ queries

@dataclass
class Request:
    kind: str
    box: tuple | None = None
    z: int | None = None
    polygons: list | None = None
    queries: list | None = None
    k: int = 5


# one block of the closed-loop mix: shares fixed per block so that p50
# sits inside the bbox band (ranks 1-60 of 100) and p90 inside the
# tile-count band (ranks 81-95)
BLOCK = ["bbox"] * 12 + ["bbox_indexed"] * 4 + ["tile_count"] * 3
# the heavy slot cycles with the period of the measured window, so any
# five consecutive blocks hold the same requests kinds: 2 PIP, 2 vector
# tiles, 1 kNN (about as slow as the other nineteen requests together)
HEAVY = ["pip", "vector_tiles", "knn", "pip", "vector_tiles"]


def _box(rng: np.random.Generator, lo: float, hi: float, hot_p: float) -> tuple:
    size = float(math.exp(rng.uniform(math.log(lo), math.log(hi))))
    if rng.random() < hot_p:
        cx = (HOT_BOX[0] + HOT_BOX[2]) / 2 + rng.uniform(-0.01, 0.01)
        cy = (HOT_BOX[1] + HOT_BOX[3]) / 2 + rng.uniform(-0.01, 0.01)
    else:
        cx, cy = rng.uniform(-170.0, 170.0), rng.uniform(-70.0, 70.0)
    h = size / 2
    return (round(cx - h, 6), round(max(cy - h, -85.0), 6),
            round(cx + h, 6), round(min(cy + h, 85.0), 6))


def _polygon(rng: np.random.Generator, pid: int, hot: bool) -> dict:
    if hot:
        cx = (HOT_BOX[0] + HOT_BOX[2]) / 2 + rng.uniform(-0.005, 0.005)
        cy = (HOT_BOX[1] + HOT_BOX[3]) / 2 + rng.uniform(-0.005, 0.005)
        r = rng.uniform(0.002, 0.01)
    else:
        cx, cy = rng.uniform(-170.0, 170.0), rng.uniform(-70.0, 70.0)
        r = rng.uniform(0.5, 8.0)
    n = int(rng.integers(3, 9))
    angles = np.sort(rng.uniform(0, 2 * math.pi, n))
    radii = r * rng.uniform(0.4, 1.0, n)
    ring = [(round(cx + float(a) * math.cos(t), 6), round(cy + float(a) * math.sin(t), 6))
            for a, t in zip(radii, angles)]
    return {"polygon_id": pid, "ring": ring}


def request(rng: np.random.Generator, kind: str) -> Request:
    if kind == "bbox":
        return Request(kind, box=_box(rng, 0.01, 20.0, 0.3))
    if kind == "bbox_indexed":
        # the cell-cover prefilter is for small boxes: its driver-side
        # cover grows with the box area (about 1 s at 0.3°)
        return Request(kind, box=_box(rng, 0.01, 0.1, 0.3))
    if kind == "tile_count":
        return Request(kind, box=_box(rng, 1.0, 60.0, 0.3), z=6)
    if kind == "pip":
        return Request(kind, polygons=[_polygon(rng, i, hot=(i % 2 == 0))
                                       for i in range(int(rng.integers(2, 5)))])
    if kind == "knn":
        qs = []
        for q in range(int(rng.integers(2, 9))):
            x, y = (_hot_point(rng, "box") if q % 2 == 0 else
                    _rand_point(rng))
            qs.append((q, round(x, 6), round(y, 6)))
        return Request(kind, queries=qs, k=5)
    if kind == "vector_tiles":
        return Request(kind, box=_box(rng, 0.05, 0.5, 0.5), z=10)
    raise ValueError(kind)


def query_blocks(seed: int):
    """Endless seeded request stream, one shuffled block at a time."""
    rng = np.random.default_rng([seed, 2])
    b = 0
    while True:
        kinds = BLOCK + [HEAVY[b % len(HEAVY)]]
        for i in rng.permutation(len(kinds)):
            yield request(rng, kinds[int(i)])
        b += 1


# ---------------------------------------------------------- changesets

@dataclass
class ChangeSpec:
    """One changeset in element terms plus what it should do to the
    features (feature id = osm id × 3 + kind)."""

    nodes_upsert: list = field(default_factory=list)      # (id, lon_s, lat_s, tags)
    ways_upsert: list = field(default_factory=list)       # (id, refs, tags)
    relations_upsert: list = field(default_factory=list)  # (id, members, tags)
    way_deletes: list = field(default_factory=list)
    expect_points: dict = field(default_factory=dict)     # fid → (lon_s, lat_s, class)
    expect_present: set = field(default_factory=set)      # fids
    expect_gone: set = field(default_factory=set)         # fids
    hot_box: tuple | None = None                          # box around hot changes

    @property
    def n_elements(self) -> int:
        return (len(self.nodes_upsert) + len(self.ways_upsert)
                + len(self.relations_upsert) + len(self.way_deletes))


class ChangeStream:
    """Seeded changesets over a live element model. Each touches at
    most 1 % of the elements: node moves and retags (half in the hot
    box), way creates and deletes, and on every third cycle, the first
    included, one relation member change."""

    def __init__(self, el: Elements, ids: IdSpace, seed: int):
        self.el, self.ids = el, ids
        self.rng = np.random.default_rng([seed, 3])
        self.cycle = 0
        self.tagged = sorted(i for i, (_, _, t) in el.nodes.items()
                             if t and i > NODE_BASE)
        self.hot = [i for i in self.tagged if i in el.hot_ids]
        self.cold = [i for i in self.tagged if i not in el.hot_ids]
        members = {ref for ms, _ in el.relations.values() for _, _, ref in ms}
        self.deletable = sorted(w for w, (_, t) in el.ways.items()
                                if t and w > WAY_BASE and w not in members)

    def budget(self) -> int:
        return max(1, (len(self.el.nodes) + len(self.el.ways) + len(self.el.relations)) // 100)

    def next(self) -> ChangeSpec:
        rng, el = self.rng, self.el
        spec = ChangeSpec()
        budget = self.budget()
        n_move = max(2, budget * 2 // 5)
        n_retag = max(1, budget // 10)
        n_create = max(1, budget // 30)
        n_delete = max(1, budget // 30)
        touched: set = set()
        hot_pts = []

        def pick(pool, n):
            idx = rng.choice(len(pool), size=min(n, len(pool)), replace=False)
            return [pool[int(i)] for i in idx if pool[int(i)] not in touched]

        for i, nid in enumerate(pick(self.hot, n_move // 2) + pick(self.cold, n_move - n_move // 2)):
            touched.add(nid)
            hot = nid in el.hot_ids
            x, y = _hot_point(rng, "box") if hot else _rand_point(rng)
            lon, lat, tags = _fmt(x), _fmt(y), el.nodes[nid][2]
            el.nodes[nid] = (lon, lat, tags)
            spec.nodes_upsert.append((nid, lon, lat, tags))
            spec.expect_points[nid * 3] = (lon, lat, NODE_TAGS[tags])
            if hot:
                hot_pts.append((x, y))
        kinds = list(NODE_TAGS)
        for nid in pick(self.hot, n_retag // 2 + 1) + pick(self.cold, n_retag // 2):
            touched.add(nid)
            lon, lat, tags = el.nodes[nid]
            tags = kinds[(kinds.index(tags) + 1 + int(rng.integers(0, 3))) % len(kinds)]
            el.nodes[nid] = (lon, lat, tags)
            spec.nodes_upsert.append((nid, lon, lat, tags))
            spec.expect_points[nid * 3] = (lon, lat, NODE_TAGS[tags])
            if nid in el.hot_ids:
                hot_pts.append((float(lon), float(lat)))
        for _ in range(n_create):
            self._create_way(spec, AREA_TAGS)
        for wid in pick(self.deletable, n_delete):
            touched.add(wid)
            self.deletable.remove(wid)
            del el.ways[wid]
            spec.way_deletes.append(wid)
            spec.expect_gone.add(wid * 3 + 1)
        if self.cycle % 3 == 0:
            rels = sorted(r for r in el.relations if r > REL_BASE)
            rid = rels[int(rng.integers(0, len(rels)))]
            wid = self._create_way(spec, "", expect=False)
            members, tags = el.relations[rid]
            members = [("way", "outer", wid)]
            el.relations[rid] = (members, tags)
            spec.relations_upsert.append((rid, members, tags))
            spec.expect_present.add(rid * 3 + 2)
        if hot_pts:
            xs, ys = zip(*hot_pts)
            spec.hot_box = (min(xs) - 1e-4, min(ys) - 1e-4, max(xs) + 1e-4, max(ys) + 1e-4)
        self.cycle += 1
        return spec

    def _create_way(self, spec: ChangeSpec, tags: str, expect: bool = True) -> int:
        before = set(self.el.nodes)
        wid = add_way(self.el, self.ids, self.rng, closed=True, tags=tags)
        for nid in sorted(set(self.el.nodes) - before):
            lon, lat, t = self.el.nodes[nid]
            spec.nodes_upsert.append((nid, lon, lat, t))
        spec.ways_upsert.append((wid, self.el.ways[wid][0], tags))
        if expect:
            spec.expect_present.add(wid * 3 + 1)
            self.deletable.append(wid)
        return wid


def _tag_pairs(tags: str) -> list:
    return [tuple(p.split("=", 1)) for p in tags.split("|") if p]


def write_changeset(spec: ChangeSpec, path: str) -> None:
    """The element upserts as parquet in the element tables' schemas."""
    os.makedirs(path, exist_ok=True)
    tags_t = pa.map_(pa.string(), pa.string())
    n = spec.nodes_upsert
    pq.write_table(pa.table({
        "id": pa.array([r[0] for r in n], pa.int64()),
        "lon": pa.array([float(r[1]) for r in n], pa.float64()),
        "lat": pa.array([float(r[2]) for r in n], pa.float64()),
        "tags": pa.array([_tag_pairs(r[3]) for r in n], tags_t),
    }), os.path.join(path, "nodes.parquet"))
    w = spec.ways_upsert
    pq.write_table(pa.table({
        "id": pa.array([r[0] for r in w], pa.int64()),
        "refs": pa.array([r[1] for r in w], pa.list_(pa.int64())),
        "tags": pa.array([_tag_pairs(r[2]) for r in w], tags_t),
    }), os.path.join(path, "ways.parquet"))
    member_t = pa.struct([("ref", pa.int64()), ("role", pa.string()), ("mtype", pa.string())])
    r = spec.relations_upsert
    pq.write_table(pa.table({
        "id": pa.array([x[0] for x in r], pa.int64()),
        "members": pa.array([[{"ref": m[2], "role": m[1], "mtype": m[0]} for m in x[1]]
                             for x in r], pa.list_(member_t)),
        "tags": pa.array([_tag_pairs(x[2]) for x in r], tags_t),
    }), os.path.join(path, "relations.parquet"))
