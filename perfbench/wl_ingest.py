"""Workload ``ingest_skewed``: the bulk ingest job and its resume.

Each operation runs ``run_ingest(optimize_grid=None)`` on a fresh
out_root with the default parquet backend (as ``jobs/ingest_job.py``
does), then ``run_ingest(optimize_grid=(4, 4))`` on the same root: the
resume path of a killed run plus the separate optimize pass. Half of
the node pages sit in one H3 res-8 cell, so the quadtree divide and the
hot-cell salting have real work.
"""

from __future__ import annotations

import os
import time
from contextlib import ExitStack, nullcontext

import numpy as np
from pyspark.sql import functions as F

from ingest_spark.config import EngineConfig
from ingest_spark.functions import georender as gr
from ingest_spark.functions import tags as tg
from ingest_spark.operators import assemble, extract, features as feat_mod, spatial, tiling
from ingest_spark.plans import checkpoint, pipeline
from ingest_spark.plans.metrics import MetricsCollector

from . import gen
from .common import Ctx, force, median, patched, rmtree, spanned
from .sparkstats import python_crossings

N_PAGES = 5_000
SETUP_REPEATS = 3
# the first warm operation runs about 30 % slower than the next ones
# (JIT), so it is not measured; a run then measures MIN_SAMPLES warm
# operations and reports their median
WARMUP = 1
MIN_SAMPLES = 2
# stolen cores; ingest_spark.benchutil.timed_median gates at 0.25, but
# here 0.1-0.2 stolen cores already slowed a 4-core run by about 15 %
STEAL_GATE = 0.1
MAX_RETRIES = 1
# the reference's 50k bucket bound is sized for planet-scale cells; at
# this input size 1k makes the hot cell split into several buckets and
# several salts
CFG = EngineConfig(bucket_max_records=1_000)
SALT_SPREAD = 2  # hash salting keeps each (cell, salt) group within 2× the bound

# goldens pinned by tests/test_golden_ingest.py (reference tests/ingest.rs)
GOLDEN_IDS_TYPES = [
    (555 * 3 + 1, "leisure.park"),
    (700 * 3 + 2, "natural.water"),
    (1312 * 3 + 0, "amenity.cafe"),
    (2000 * 3 + 0, "amenity.bus_station"),
]
GOLDEN_LAKE_CELLS = [0, 1, 4, 5, 4, 1, 3, 0, 4, 6, 5, 1, 3, 4, 6, 6, 1, 2, 2, 3, 6]
GOLDEN_PARK_POSITIONS = [13.00, 37.00, 13.01, 37.01, 13.02, 37.00]
GOLDEN_LAKE_POSITIONS = [5.000, -10.000, 5.000, -10.010, 5.010, -10.010, 5.010, -10.000,
                         5.005, -10.003, 5.006, -10.004, 5.007, -10.003]
GOLDEN_LABELS = {555 * 3 + 1: b"\x0e=triangle park\x00", 700 * 3 + 2: b"\x0a=cool lake\x00",
                 1312 * 3: b"\x00", 2000 * 3: b"\x00"}
GOLDEN_POINTS = {1312 * 3: (13.02, 37.00), 2000 * 3: (13.03, 37.03)}
GOLDEN_BBOX = {555 * 3 + 1: (13.00, 37.00, 13.02, 37.01),
               700 * 3 + 2: (5.000, -10.010, 5.010, -10.000)}


def f32(vals) -> list:
    return [float(np.float32(v)) for v in vals]


def setup(ctx: Ctx) -> dict:
    pages_dir = ctx.path("pages")
    walls = []
    for _ in range(SETUP_REPEATS):
        rmtree(pages_dir)
        t0 = time.perf_counter()
        el, _ = gen.build_elements(ctx.seed, N_PAGES, "cell", 0.5)
        n_pages = gen.write_pages(el, pages_dir)
        walls.append(time.perf_counter() - t0)
    ctx.notes["setup_parts_s"] = {"session": ctx.session_s, "inputs_median": median(walls)}
    hot_tagged = sum(1 for i in el.hot_ids if el.nodes[i][2])
    return {"el": el, "pages_dir": pages_dir, "n_pages": n_pages,
            "hot_tagged": hot_tagged, "setup_s": ctx.session_s + median(walls)}


# ------------------------------------------------------------- checks

def check_ingest(ctx: Ctx, op, st: dict, root: str) -> None:
    L = ctx.ledger
    feats = ctx.spark.read.parquet(os.path.join(root, "ingest"))
    got = {r["kind"]: r["count"] for r in feats.groupBy("kind").count().collect()}
    want = st["el"].expected_counts()
    L.check(op, "per-kind feature counts", got == want, f"got {got} want {want}")
    rows = {r["id"]: r for r in feats.where(F.col("id").isin([i for i, _ in GOLDEN_IDS_TYPES]))
            .collect()}
    check_goldens(L, op, rows)
    hot = (feats.where(F.col("kind") == 0).groupBy("hex_cell").count()
           .agg(F.max("count")).first()[0])
    L.check(op, "hot cell holds the generated hot nodes", hot == st["hot_tagged"],
            f"largest cell {hot}, generated {st['hot_tagged']}")


def check_goldens(L, op, rows: dict) -> None:
    ok = sorted(rows) == [i for i, _ in GOLDEN_IDS_TYPES]
    L.check(op, "golden ids", ok, f"got {sorted(rows)}")
    if not ok:
        return
    for fid, name in GOLDEN_IDS_TYPES:
        r = rows[fid]
        d = gr.decode(bytes(r["encoded"]))
        L.check(op, f"golden {fid} id/type", d["id"] == fid and
                d["feature_type"] == tg.get_type(name) and r["feature_type"] == d["feature_type"],
                f"{d['id']} {d['feature_type']}")
        L.check(op, f"golden {fid} labels", d["labels"] == GOLDEN_LABELS[fid], repr(d["labels"]))
        if fid in GOLDEN_POINTS:
            L.check(op, f"golden {fid} point", list(d["point"]) == f32(GOLDEN_POINTS[fid])
                    and r["minx"] == r["maxx"] and r["miny"] == r["maxy"], repr(d["point"]))
        else:
            pos = GOLDEN_PARK_POSITIONS if fid == 555 * 3 + 1 else GOLDEN_LAKE_POSITIONS
            L.check(op, f"golden {fid} area", d["geom_kind"] == gr.GEOM_AREA
                    and d["positions"] == f32(pos), repr(d.get("positions")))
            bx = f32(GOLDEN_BBOX[fid])
            L.check(op, f"golden {fid} bbox",
                    [r["minx"], r["miny"], r["maxx"], r["maxy"]] == bx,
                    f"{r['minx']} {r['miny']} {r['maxx']} {r['maxy']}")
    lake = gr.decode(bytes(rows[700 * 3 + 2]["encoded"]))
    L.check(op, "golden lake cells", lake["cells"] == GOLDEN_LAKE_CELLS, repr(lake["cells"]))


def check_resume(ctx: Ctx, op, before: dict, after: dict, root: str) -> None:
    L = ctx.ledger
    for stage in ("extract", "scan", "ingest"):
        L.check(op, f"resume keeps {stage} snapshot",
                before.get(stage) is not None and before.get(stage) == after.get(stage),
                f"{before.get(stage)} -> {after.get(stage)}")
    opt = ctx.spark.read.parquet(os.path.join(root, "optimize"))
    worst = opt.groupBy("hex_cell", "salt").count().agg(F.max("count")).first()[0]
    bound = SALT_SPREAD * CFG.bucket_max_records
    L.check(op, "salted groups within bucket bound", worst is not None and worst <= bound,
            f"largest (cell, salt) group {worst} > {bound}")


def _snapshots(root: str) -> dict:
    m = checkpoint.Manifest.load(root)
    return {s: m.snapshot_of(s) for s in m.stages}


# ------------------------------------------------------------ measure

def _instrumented(ctx: Ctx):
    """Spans around the checkpoint, pipeline and metrics entry points."""
    tr = ctx.tracer
    stack = ExitStack()
    stack.enter_context(patched(pipeline, "pages_fingerprint",
                                spanned(tr, "pipeline.fingerprint")))
    stack.enter_context(patched(
        pipeline, "run_stage",
        spanned(tr, "checkpoint.run_stage", lambda *a, **k: {"stage": a[2]})))
    stack.enter_context(patched(checkpoint.ParquetManifestBackend, "commit",
                                spanned(tr, "checkpoint.commit")))
    stack.enter_context(patched(MetricsCollector, "record_stage",
                                spanned(tr, "metrics.record_stage")))
    return stack


def _one(ctx: Ctx, st: dict, i: int, traced: bool, resume: bool = True
         ) -> tuple[float | None, float | None, float]:
    """One operation on a fresh root; returns the ingest and resume
    walls (None when not run or raised) and the most cores stolen."""
    L, spark, tr = ctx.ledger, ctx.spark, ctx.tracer
    root = ctx.path("out", str(i))
    rmtree(root)
    pages = spark.read.parquet(st["pages_dir"])
    tr.enabled = traced
    t_ing = t_res = None
    with (_instrumented(ctx) if traced else nullcontext()):
        op = L.begin(f"ingest#{i}")
        with tr.span("op.ingest", op=f"ingest#{i}"):
            dt, res = ctx.timed(f"ingest#{i}", lambda: L.run(op, lambda: pipeline.run_ingest(
                spark, pages, root, cfg=CFG, optimize_grid=None)))
        steal = ctx.anchors.ops[-1]["steal_cores"]
        if res is not None:
            t_ing = dt
            before = _snapshots(root)
            L.run(op, lambda: check_ingest(ctx, op, st, root))
        if res is not None and resume:
            op2 = L.begin(f"resume#{i}")
            with tr.span("op.resume", op=f"resume#{i}"):
                dt, res2 = ctx.timed(f"resume#{i}", lambda: L.run(op2, lambda: pipeline.run_ingest(
                    spark, pages, root, cfg=CFG, optimize_grid=(4, 4))))
            steal = max(steal, ctx.anchors.ops[-1]["steal_cores"])
            if res2 is not None:
                t_res = dt
                L.run(op2, lambda: check_resume(ctx, op2, before, _snapshots(root), root))
    tr.enabled = ctx.traced
    ctx.rss.sample()
    if i > 0:
        rmtree(ctx.path("out", str(i - 1)))
    return t_ing, t_res, steal


def measure(ctx: Ctx, st: dict) -> dict:
    """The cold ingest (no resume) and ``WARMUP`` warm operations, run
    and checked but not measured; then measured operations until
    ``--seconds`` have passed and ``MIN_SAMPLES`` of them are clean. A
    sample taken while the hypervisor stole more than ``STEAL_GATE``
    cores is set aside and retried, at most ``MAX_RETRIES`` times, as in
    ``ingest_spark.benchutil.timed_median``; when too few are clean, the
    least stolen ones are used. Traced runs measure one untraced and
    then one traced operation, under the same rule. Every operation's
    outputs are checked."""
    samples = []  # (i, traced, ingest_s, resume_s, stolen cores)

    def run(i: int, traced: bool, resume: bool = True) -> bool:
        a, b, steal = _one(ctx, st, i, traced, resume)
        samples.append((i, traced, a, b, steal))
        return a is not None and b is not None and steal <= STEAL_GATE

    run(0, False, resume=False)
    for i in range(1, 1 + WARMUP):
        run(i, False)
    i = 1 + WARMUP
    t0 = time.perf_counter()
    # a traced run needs only the untraced reference for its overhead
    need = 1 if ctx.traced else MIN_SAMPLES
    clean = tries = 0
    while ((clean < need and tries < need + MAX_RETRIES)
           or time.perf_counter() - t0 < ctx.seconds):
        clean += run(i, False)
        tries += 1
        i += 1
    if ctx.traced:
        for _ in range(1 + MAX_RETRIES):
            if run(i, True):
                break
            i += 1

    def pick(traced: bool) -> list:
        """The clean samples; when too few are clean, the least stolen."""
        done = [x for x in samples if x[0] > WARMUP and x[1] == traced and x[2] is not None
                and x[3] is not None]
        clean = [x for x in done if x[4] <= STEAL_GATE]
        n = 1 if traced else need
        return clean if len(clean) >= n else sorted(done, key=lambda x: x[4])[:n]

    warm = pick(False)
    n_feat = sum(st["el"].expected_counts().values())
    ingest_s = median(x[2] for x in warm)
    resume_s = median(x[3] for x in warm)
    out = {
        "cold": {"ingest_cold_s": samples[0][2] or 0.0},
        "ingest_s": ingest_s,
        "resume_optimize_s": resume_s,
        "features_per_s": n_feat / (ingest_s + resume_s) if warm else 0.0,
        "info": {"pages": st["n_pages"], "features": n_feat, "warm_samples": len(warm),
                 "warm_discarded_for_steal": sum(1 for x in samples if x[0] > WARMUP
                                                 and x[4] > STEAL_GATE),
                 "cold_steal_cores": round(samples[0][4], 3)},
    }
    if ctx.traced:
        traced = pick(True)
        out["traced_op_s"] = median(x[2] + x[3] for x in traced)
        out["untraced_op_s"] = ingest_s + resume_s
        # the latest root is the only one kept; every root holds the same output
        out["last_root"] = ctx.path("out", str(samples[-1][0]))
    return out


def end_to_end(st: dict, m: dict) -> dict:
    return {
        "op_p50_s": m["ingest_s"],
        "op_aux_s": m["resume_optimize_s"],
        "ops_per_s": m["features_per_s"],
    }


# --------------------------------------------------- traced layers

def layers(ctx: Ctx, st: dict, m: dict) -> dict:
    """Self times of each layer, inputs materialized first: the
    committed stage outputs of the last traced operation."""
    spark, tr = ctx.spark, ctx.tracer
    root = m["last_root"]
    pages = spark.read.parquet(st["pages_dir"])
    elements = spark.read.parquet(os.path.join(root, "extract"))
    nodes, ways, rels = extract.element_views(elements)
    out: dict = {}
    with tr.span("extract.parse_all", op="layers") as s:
        df = extract.parse_all(pages)
        out["extract.rows_out"] = force(df, count=True)
    out["extract.parse_all_s"] = tr.duration(s)
    out["extract.py_crossings"] = python_crossings(df)

    with tr.span("assemble.ways", op="layers") as s:
        asm = assemble.assemble_ways(ways, nodes)
        force(asm)
    out["assemble.ways_s"] = tr.duration(s)
    resolved = asm.agg(F.sum(F.size("xs"))).first()[0] or 0
    total = ways.agg(F.sum(F.size("refs"))).first()[0] or 0
    out["assemble.refs_resolved_frac"] = resolved / total if total else 0.0
    with tr.span("assemble.relations", op="layers") as s:
        force(assemble.assemble_relations(rels, ways, nodes))
    out["assemble.relations_s"] = tr.duration(s)

    rows = 0
    with tr.span("features.node", op="layers") as s:
        rows += force(feat_mod.node_features(nodes, spark), count=True)
    out["features.node_s"] = tr.duration(s)
    with tr.span("features.way", op="layers") as s:
        rows += force(feat_mod.way_features(ways, nodes, spark), count=True)
    out["features.way_s"] = tr.duration(s) - out["assemble.ways_s"]
    with tr.span("features.relation", op="layers") as s:
        rows += force(feat_mod.relation_features(rels, ways, nodes, spark), count=True)
    out["features.relation_s"] = tr.duration(s) - out["assemble.relations_s"]
    out["features.rows_out"] = rows
    out["features.kept_frac"] = rows / out["extract.rows_out"] if out["extract.rows_out"] else 0.0
    out["features.py_crossings"] = python_crossings(
        feat_mod.build_features(nodes, ways, rels, spark))

    committed = spark.read.parquet(os.path.join(root, "ingest"))
    with tr.span("spatial.with_cells", op="layers") as s:
        force(spatial.with_cells(committed.drop("hex_cell", "s2_cell"), CFG))
    out["spatial.with_cells_s"] = tr.duration(s)
    with tr.span("tiling.quadtree_partition", op="layers") as s:
        force(tiling.quadtree_partition(committed, CFG, gx=4, gy=4))
    out["tiling.quadtree_partition_s"] = tr.duration(s)
    qt = spark.read.parquet(os.path.join(root, "optimize")).drop(
        "salt", "tile_z", "tile_x", "tile_y")
    with tr.span("tiling.salt_hot_cells", op="layers") as s:
        force(tiling.salt_hot_cells(qt, "hex_cell", CFG))
    out["tiling.salt_hot_cells_s"] = tr.duration(s)

    # pipeline-level spans of the traced operations
    ing_ops = tr.named("op.ingest")
    res_ops = tr.named("op.resume")

    def under(op_span, name):
        ids = {s["id"] for s in tr.subtree(op_span)}
        return [s for s in tr.named(name) if s["id"] in ids]

    for stage in ("extract", "scan", "ingest"):
        out[f"checkpoint.run_stage.{stage}_s"] = median(
            tr.duration(s) for op in ing_ops for s in under(op, "checkpoint.run_stage")
            if s["attrs"]["stage"] == stage)
    out["checkpoint.run_stage.optimize_s"] = median(
        tr.duration(s) for op in res_ops for s in under(op, "checkpoint.run_stage")
        if s["attrs"]["stage"] == "optimize")
    commit, digest, record, reused = [], [], [], []
    for op in ing_ops:
        c = sum(tr.duration(s) for s in under(op, "checkpoint.commit"))
        r = sum(tr.duration(s) for s in under(op, "metrics.record_stage"))
        rs = sum(tr.duration(s) for s in under(op, "checkpoint.run_stage"))
        commit.append(c)
        record.append(r)
        digest.append(rs - c - r)
    for op in res_ops:
        runs = under(op, "checkpoint.run_stage")
        commits = {s["parent"] for s in under(op, "checkpoint.commit")}
        reused.append(sum(1 for s in runs if s["id"] not in commits))
    out["checkpoint.commit_s"] = median(commit)
    out["checkpoint.digest_s"] = median(digest)
    out["checkpoint.stages_reused"] = median(reused)
    out["metrics.record_stage_s"] = median(record)
    out["pipeline.fingerprint_s"] = median(tr.duration(s) for s in tr.named("pipeline.fingerprint"))
    out["pipeline.run_ingest_cold_s"] = m["cold"]["ingest_cold_s"]
    opt_commit = [s for op in res_ops for s in under(op, "checkpoint.commit")]
    out["tiling.task_rows_groups"] = [s["group"] for s in opt_commit]
    return out


def finish_layers(ctx: Ctx, out: dict, store) -> dict:
    """Fill the layer figures that need the status store's counters."""
    tr = ctx.tracer
    jobs = []
    for op in tr.named("op.ingest"):
        ids = {s["id"] for s in tr.subtree(op)}
        jobs.append(sum(s.get("counters", {}).get("jobs", 0) for s in tr.named("metrics.record_stage")
                        if s["id"] in ids))
    out["metrics.jobs"] = median(jobs)
    ratios = []
    for g in out.pop("tiling.task_rows_groups", []):
        rows = [r for r in store.task_rows_written(g) if r > 0]
        if rows:
            ratios.append(max(rows) / median(rows))
    out["tiling.task_rows_max_over_median"] = median(ratios)
    return out
