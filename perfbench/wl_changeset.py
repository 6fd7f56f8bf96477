"""The changeset stream, run as a traced segment of ``query_mix``.

The base feature and tile tables are committed through
``IcebergMetadataBackend``. A cycle applies one seeded changeset:
``apply_changeset`` → ``with_cells`` → ``merge_overwrite`` of the
features → ``retile_incremental`` → a merge of the tiles keyed on a
tile key derived here. ``read_where`` then reads the changed hot box
back. Checks: changed ids read back with their new values, deleted ids
are gone, and after the segment the feature and tile tables equal a
full rebuild from the final element tables (an ``id`` + ``encoded``
digest).

``apply_changeset`` cannot take a table that already carries
``hex_cell``/``s2_cell`` (it raises UNRESOLVED_COLUMN hex_cell), so the
cycle runs on the cell-free columns and re-applies ``with_cells`` to
the changed rows.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ingest_spark.functions import tags as tg
from ingest_spark.operators import extract, spatial, tiling
from ingest_spark.operators.changeset import Changeset, apply_changeset
from ingest_spark.operators.features import FEATURE_COLS, build_features
from ingest_spark.plans.iceberg import CommitConflict, IcebergMetadataBackend

from . import gen
from .common import Ctx, median

TILE_Z = 6
BASE_FILES = 8
CYCLES = 1
TILE_COLS = ["tile_z", "tile_x", "tile_y"]


def tile_key():
    return (F.col("tile_z").cast("long") * F.lit(1 << 40)
            + F.col("tile_x").cast("long") * F.lit(1 << 20)
            + F.col("tile_y").cast("long")).alias("tile_key")


def digest(df: DataFrame, cols: list[str]) -> tuple:
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")).first()
    return int(row["n"]), str(row["h"])


class _Instrumented(IcebergMetadataBackend):
    """Counts commit retries and scan pruning; spans around publishes."""

    def __init__(self, tracer):
        super().__init__()
        self.tracer = tracer
        self.retries = 0
        self.scans: list[tuple[int, int]] = []

    def _publish(self, path, md):
        with self.tracer.span("iceberg.commit"):
            try:
                return super()._publish(path, md)
            except CommitConflict:
                self.retries += 1
                raise

    def plan_scan(self, path, filters=None, snapshot_id=None, md=None):
        kept, skipped = super().plan_scan(path, filters, snapshot_id, md)
        self.scans.append((len(kept), len(skipped)))
        return kept, skipped


def run_segment(ctx: Ctx, st: dict) -> dict:
    spark, tr, L = ctx.spark, ctx.tracer, ctx.ledger
    be = _Instrumented(tr)
    feats_path, tiles_path = ctx.path("ice", "features"), ctx.path("ice", "tiles")
    base = spark.read.parquet(os.path.join(st["root"], "ingest"))
    with tr.span("op.changeset_setup", op="changeset_setup"):
        be.commit(base.repartitionByRange(BASE_FILES, "id"), feats_path)
        tiles = tiling.vector_tiles(base.select(*FEATURE_COLS), TILE_Z)
        be.commit(tiles.select("*", tile_key()).repartitionByRange(BASE_FILES, "tile_key"),
                  tiles_path)
    elements = spark.read.parquet(os.path.join(st["root"], "extract"))
    nodes, ways, rels = (d.localCheckpoint(eager=True) for d in extract.element_views(elements))
    el, ids = gen.build_elements(ctx.seed, st["n_pages"], "box", st["hot_share"])
    stream = gen.ChangeStream(el, ids, ctx.seed)
    out: dict = {"rewritten": [], "repacked": [], "recomputed": []}
    for c in range(CYCLES):
        spec = stream.next()
        cs_dir = ctx.path("changesets", str(c))
        gen.write_changeset(spec, cs_dir)
        op = L.begin(f"changeset#{c}")
        with tr.span("op.changeset", op=f"changeset#{c}"):
            res = L.run(op, lambda: _cycle(ctx, be, spec, cs_dir, feats_path, tiles_path,
                                           nodes, ways, rels, out))
        if res is None:
            break
        nodes, ways, rels = res
        L.run(op, lambda: _check_cycle(ctx, op, be, feats_path, spec, el))
        op2 = L.begin(f"read_after_write#{c}")
        with tr.span("op.read_after_write", op=f"read_after_write#{c}"):
            with tr.span("iceberg.read_where"):
                rows = L.run(op2, lambda: _read_back(ctx, be, feats_path, spec))
        if rows is not None:
            _check_read_back(L, op2, rows, spec)
    final = L.begin("changeset_rebuild")
    L.run(final, lambda: _check_rebuild(ctx, final, be, feats_path, tiles_path,
                                        nodes, ways, rels, el))
    md = be.current_metadata(feats_path)
    return {
        "changeset.apply_s": tr.median_duration("changeset.apply"),
        "changeset.rows_recomputed": median(out["recomputed"]),
        "spatial.with_cells_s": tr.median_duration("spatial.with_cells"),
        "iceberg.merge_overwrite_s": tr.median_duration("iceberg.merge_overwrite"),
        "iceberg.files_rewritten_frac": median(out["rewritten"]),
        "iceberg.commit_s": tr.median_duration("iceberg.commit"),
        "iceberg.commit_retries": be.retries,
        "iceberg.read_where_s": tr.median_duration("iceberg.read_where"),
        "iceberg.files_scanned_frac": median(k / (k + s) for k, s in be.scans if k + s),
        "iceberg.metadata_versions": md["_version"],
        "tiling.retile_incremental_s": tr.median_duration("tiling.retile_incremental"),
        "tiling.tiles_repacked_frac": median(out["repacked"]),
        "changeset.cycle_s": tr.median_duration("op.changeset"),
        "changeset.read_after_write_s": tr.median_duration("op.read_after_write"),
    }


def _cycle(ctx, be, spec, cs_dir, feats_path, tiles_path, nodes, ways, rels, out):
    spark, tr = ctx.spark, ctx.tracer
    old = be.read(spark, feats_path).drop("hex_cell", "s2_cell")
    cs = Changeset(
        nodes_upsert=spark.read.parquet(os.path.join(cs_dir, "nodes.parquet")),
        ways_upsert=spark.read.parquet(os.path.join(cs_dir, "ways.parquet")),
        relations_upsert=(spark.read.parquet(os.path.join(cs_dir, "relations.parquet"))
                          if spec.relations_upsert else None),
        way_deletes=list(spec.way_deletes),
    )
    with tr.span("changeset.apply"):
        merged, n2, w2, r2 = apply_changeset(spark, old, nodes, ways, rels, cs)
        merged = merged.localCheckpoint(eager=True)
    with tr.span("bench.diff"):
        delta = merged.join(old, FEATURE_COLS, "left_anti").localCheckpoint(eager=True)
        gone = old.select("id").join(merged.select("id"), "id", "left_anti")
        changed = delta.select("id").unionByName(gone).localCheckpoint(eager=True)
        out["recomputed"].append(delta.count())
    with tr.span("spatial.with_cells"):
        inserts = spatial.with_cells(delta).localCheckpoint(eager=True)
    with tr.span("iceberg.merge_overwrite", table="features"):
        be.merge_overwrite(spark, feats_path, changed, inserts)
    out["rewritten"].append(_rewritten_frac(be, feats_path))
    old_tiles = be.read(spark, tiles_path)
    with tr.span("tiling.retile_incremental"):
        touched = (old.join(changed, "id", "left_semi")
                   .unionByName(merged.join(changed, "id", "left_semi")))
        affected = (tiling.with_tile_xyz(touched, TILE_Z).select(*TILE_COLS).distinct()
                    .localCheckpoint(eager=True))
        tiles = tiling.retile_incremental(old_tiles.drop("tile_key"), old, merged, changed,
                                          TILE_Z)
        repacked = (tiles.join(affected, TILE_COLS, "left_semi").select("*", tile_key())
                    .localCheckpoint(eager=True))
    n_tiles = old_tiles.count()
    out["repacked"].append(affected.count() / n_tiles if n_tiles else 0.0)
    with tr.span("iceberg.merge_overwrite", table="tiles"):
        be.merge_overwrite(spark, tiles_path, affected.select(tile_key()), repacked,
                           key="tile_key")
    with tr.span("bench.elements"):
        return tuple(d.localCheckpoint(eager=True) for d in (n2, w2, r2))


def _rewritten_frac(be, path) -> float:
    s = be.current_metadata(path)["snapshots"][-1].get("summary", {})
    rw, carried = int(s.get("rewritten-data-files", 0)), int(s.get("carried-data-files", 0))
    return rw / (rw + carried) if rw + carried else 0.0


def _f32(v) -> float:
    return float(np.float32(float(v)))


def _check_cycle(ctx, op, be, feats_path, spec, el) -> None:
    L = ctx.ledger
    cur = be.read(ctx.spark, feats_path)
    want_ids = set(spec.expect_points) | spec.expect_present | spec.expect_gone
    rows = {r["id"]: r for r in cur.where(F.col("id").isin(sorted(want_ids)))
            .select("id", "minx", "miny", "feature_type", "hex_cell").collect()}
    for fid, (lon, lat, cls) in spec.expect_points.items():
        r = rows.get(fid)
        L.check(op, f"feature {fid} updated", r is not None and r["minx"] == _f32(lon)
                and r["miny"] == _f32(lat) and r["feature_type"] == tg.get_type(cls)
                and r["hex_cell"] is not None, repr(r))
    for fid in spec.expect_present:
        L.check(op, f"feature {fid} present", fid in rows, "missing")
    for fid in spec.expect_gone:
        L.check(op, f"feature {fid} deleted", fid not in rows, "still present")
    n, want = cur.count(), sum(el.expected_counts().values())
    L.check(op, "feature count", n == want, f"{n} != {want}")


def _read_back(ctx, be, feats_path, spec):
    if spec.hot_box is None:
        return []
    x0, y0, x1, y1 = spec.hot_box
    df = be.read_where(ctx.spark, feats_path, [
        ("maxx", ">=", x0), ("minx", "<=", x1), ("maxy", ">=", y0), ("miny", "<=", y1)])
    return df.select("id", "minx", "miny", "feature_type").collect()


def _check_read_back(L, op, rows, spec) -> None:
    got = {r["id"]: r for r in rows}
    x0, y0, x1, y1 = spec.hot_box or (0, 0, -1, -1)
    for fid, (lon, lat, cls) in spec.expect_points.items():
        x, y = _f32(lon), _f32(lat)
        if not (x0 <= x <= x1 and y0 <= y <= y1):
            continue
        r = got.get(fid)
        L.check(op, f"read-after-write {fid}", r is not None and r["minx"] == x
                and r["miny"] == y and r["feature_type"] == tg.get_type(cls), repr(r))


def _check_rebuild(ctx, op, be, feats_path, tiles_path, nodes, ways, rels, el) -> None:
    L, spark = ctx.ledger, ctx.spark
    rebuilt = build_features(nodes, ways, rels, spark).localCheckpoint(eager=True)
    table = be.read(spark, feats_path)
    a, b = digest(table, ["id", "encoded"]), digest(rebuilt, ["id", "encoded"])
    L.check(op, "features equal a full rebuild", a == b, f"{a} != {b}")
    got = {r["kind"]: r["count"] for r in rebuilt.groupBy("kind").count().collect()}
    L.check(op, "rebuild counts match the model", got == el.expected_counts(),
            f"{got} != {el.expected_counts()}")
    cols = TILE_COLS + ["n_features", "payload"]
    ta = digest(be.read(spark, tiles_path), cols)
    tb = digest(tiling.vector_tiles(rebuilt, TILE_Z), cols)
    L.check(op, "tiles equal a full rebuild", ta == tb, f"{ta} != {tb}")
