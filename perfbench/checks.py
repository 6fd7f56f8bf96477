"""Output checks: the operation ledger and the DuckDB oracles.

Every operation the benchmark attempts is entered in a ``Ledger``. An
operation fails if it raised or if any output check attached to it
failed; ``failed_frac`` is failed ÷ attempted, and no check is ever
dropped from the count.

The oracles answer the query-mix requests with DuckDB over the same
committed parquet the program wrote, outside the timed window. Their
arithmetic mirrors the program's documented formulas operation by
operation (degree-Euclidean kNN with ties broken by id, the even-odd
ray cast with its exact intercept order, web-mercator tiles), so the
comparisons are exact.
"""

from __future__ import annotations

import math
import traceback
from dataclasses import dataclass, field

import duckdb


@dataclass
class Op:
    name: str
    failures: list = field(default_factory=list)


class Ledger:
    def __init__(self) -> None:
        self.ops: list[Op] = []

    def begin(self, name: str) -> Op:
        op = Op(name)
        self.ops.append(op)
        return op

    def run(self, op: Op, fn):
        """Call ``fn()``; an exception fails ``op`` and returns None."""
        try:
            return fn()
        except Exception:  # an operation that raises is counted, not fatal
            op.failures.append("raised: " + traceback.format_exc(limit=3))
            return None

    @staticmethod
    def check(op: Op, what: str, ok: bool, detail: str = "") -> bool:
        if not ok:
            op.failures.append(f"{what}: {detail}"[:2000])
        return ok

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if o.failures)

    def failures(self) -> list[dict]:
        return [{"op": o.name, "failures": o.failures} for o in self.ops if o.failures]


# ------------------------------------------------------------ DuckDB


def connect(features_glob: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute(
        "CREATE VIEW feats AS SELECT id, kind, "
        "CAST(minx AS DOUBLE) AS minx, CAST(miny AS DOUBLE) AS miny, "
        "CAST(maxx AS DOUBLE) AS maxx, CAST(maxy AS DOUBLE) AS maxy, encoded "
        f"FROM read_parquet('{features_glob}')"
    )
    con.execute(
        "CREATE VIEW pts AS SELECT id, minx AS lon, miny AS lat FROM feats WHERE kind = 0"
    )
    return con


_BBOX = "maxx >= ? AND minx <= ? AND maxy >= ? AND miny <= ?"


def _bbox_args(box):
    x0, y0, x1, y1 = box
    return [x0, x1, y0, y1]


def bbox_ids(con, box) -> list[int]:
    rows = con.execute(f"SELECT id FROM feats WHERE {_BBOX} ORDER BY id",
                       _bbox_args(box)).fetchall()
    return [r[0] for r in rows]


def _tile_sql(z: int) -> str:
    """with_tile_xyz on (minx, miny): Java's toRadians multiplies by
    the constant, so the radians step is spelled out the same way."""
    n = float(2 ** z)
    lat = "greatest(-85.05112878, least(85.05112878, miny))"
    phi = f"({lat} * 0.017453292519943295)"
    tx = f"floor((minx + 180.0) / 360.0 * {n!r})"
    ty = (f"floor((1.0 - ln(tan({phi}) + 1.0 / cos({phi})) / {math.pi!r}) "
          f"/ 2.0 * {n!r})")
    hi = int(n) - 1
    return (f"CAST(greatest(0, least({hi}, {tx})) AS INTEGER) AS tile_x, "
            f"CAST(greatest(0, least({hi}, {ty})) AS INTEGER) AS tile_y")


def tile_counts(con, box, z: int) -> list[tuple]:
    rows = con.execute(
        f"SELECT tile_x, tile_y, count(*) FROM (SELECT {_tile_sql(z)} FROM feats "
        f"WHERE {_BBOX}) GROUP BY ALL ORDER BY 1, 2", _bbox_args(box)).fetchall()
    return [tuple(r) for r in rows]


def vector_tiles(con, box, z: int) -> dict:
    """(z, x, y) → (n_features, payload): payloads of the tile's
    features in id order, each behind a 4-byte little-endian length."""
    rows = con.execute(
        f"SELECT tile_x, tile_y, id, encoded FROM (SELECT id, encoded, {_tile_sql(z)} "
        f"FROM feats WHERE {_BBOX}) ORDER BY tile_x, tile_y, id",
        _bbox_args(box)).fetchall()
    out: dict = {}
    for x, y, _id, enc in rows:
        n, buf = out.get((z, x, y), (0, b""))
        b = bytes(enc)
        out[(z, x, y)] = (n + 1, buf + len(b).to_bytes(4, "little") + b)
    return out


def pip_pairs(con, polygons: list[dict]) -> list[tuple]:
    """(point id, polygon id) pairs by the even-odd rule, bbox-prefiltered."""
    edges = []
    for p in polygons:
        xs = [float(a) for a, _ in p["ring"]]
        ys = [float(b) for _, b in p["ring"]]
        n = len(xs)
        for i in range(n):
            j = n - 1 if i == 0 else i - 1
            edges.append((p["polygon_id"], xs[i], ys[i], xs[j], ys[j],
                          min(xs), min(ys), max(xs), max(ys)))
    con.execute("CREATE OR REPLACE TEMP TABLE edges (pid BIGINT, cx DOUBLE, cy DOUBLE, "
                "px DOUBLE, py DOUBLE, pminx DOUBLE, pminy DOUBLE, pmaxx DOUBLE, "
                "pmaxy DOUBLE)")
    con.executemany("INSERT INTO edges VALUES (?,?,?,?,?,?,?,?,?)", edges)
    rows = con.execute(
        "SELECT pts.id, e.pid FROM pts JOIN edges e ON pts.lon >= e.pminx AND "
        "pts.lon <= e.pmaxx AND pts.lat >= e.pminy AND pts.lat <= e.pmaxy "
        "GROUP BY pts.id, e.pid HAVING sum(CASE WHEN ((e.cy > pts.lat) <> (e.py > pts.lat)) "
        "AND pts.lon < (e.px - e.cx) * (pts.lat - e.cy) / (e.py - e.cy) + e.cx "
        "THEN 1 ELSE 0 END) % 2 = 1 ORDER BY 1, 2").fetchall()
    return [tuple(r) for r in rows]


def pip_candidates(con, polygons: list[dict]) -> int:
    """Pairs that pass the bbox prefilter (the ray cast's inputs)."""
    n = 0
    for p in polygons:
        xs = [a for a, _ in p["ring"]]
        ys = [b for _, b in p["ring"]]
        n += con.execute(
            "SELECT count(*) FROM pts WHERE lon >= ? AND lon <= ? AND lat >= ? AND lat <= ?",
            [min(xs), max(xs), min(ys), max(ys)]).fetchone()[0]
    return n


def knn(con, queries: list[tuple], k: int) -> list[tuple]:
    """Brute-force ranking: (qid, rank, id) by (distance, id)."""
    con.execute("CREATE OR REPLACE TEMP TABLE q (qid BIGINT, qx DOUBLE, qy DOUBLE)")
    con.executemany("INSERT INTO q VALUES (?,?,?)", queries)
    rows = con.execute(
        "SELECT qid, rnk, id FROM (SELECT q.qid, pts.id, row_number() OVER ("
        "PARTITION BY q.qid ORDER BY sqrt((pts.lon - q.qx) * (pts.lon - q.qx) + "
        "(pts.lat - q.qy) * (pts.lat - q.qy)), pts.id) AS rnk FROM q CROSS JOIN pts) "
        f"WHERE rnk <= {int(k)} ORDER BY 1, 2").fetchall()
    return [tuple(r) for r in rows]
