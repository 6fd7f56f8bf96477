"""One workload run: session, set-up, measured loop, checks, report."""

from __future__ import annotations

import importlib
import json
import os

import pyspark

from . import host, metrics as M
from .checks import Ledger
from .common import Ctx, jvm_pid, median, rmtree, start_session, stop_session
from .sparkstats import COUNTERS, StatusStore
from .trace import Tracer

MODULES = {
    "ingest_skewed": "perfbench.wl_ingest",
    "query_mix": "perfbench.wl_query",
}


def run_workload(workload: str, seed: int, seconds: float, traced: bool,
                 work: str, out_dir: str) -> tuple[dict, list[str]]:
    wl = importlib.import_module(MODULES[workload])
    rmtree(work)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    spark, session_s = start_session(work, traced)
    try:
        rss = host.PeakRss(jvm_pid(spark))
        rss.sample()
        ctx = Ctx(spark=spark, work=work, seed=seed, seconds=seconds, traced=traced,
                  session_s=session_s, tracer=Tracer(spark, traced), ledger=Ledger(),
                  anchors=host.Anchors(pyspark.__version__), rss=rss)
        st = wl.setup(ctx)
        m = wl.measure(ctx, st)
        rss.sample()
        ctx.notes["peak_rss_by_pid_mb"] = rss.by_process_mb()
        e2e = {"setup_s": st["setup_s"], "peak_rss_mb": rss.total_mb(),
               **wl.end_to_end(st, m)}
        layer = _layers(ctx, wl, st, m) if traced else None
        L = ctx.ledger
        report = {
            "workload": workload, "seed": seed, "seconds": seconds, "traced": traced,
            "end_to_end": e2e, "cold": m["cold"],
            "info": m.get("info", {}), "per_layer": layer,
            "attempted": L.attempted, "failed": L.failed, "failures": L.failures(),
            "host": ctx.anchors.report(), "notes": ctx.notes,
        }
        name = f"{workload}-seed{seed}-trace{int(traced)}.json"
        if traced:
            ctx.tracer.dump(os.path.join(out_dir, "spans-" + name), {"report": report})
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(report, f, indent=1, default=str)
    finally:
        stop_session(spark)
        rmtree(work)

    if traced:
        values = {n: (layer[n], u) for n, u, _ in M.PER_LAYER}
    else:
        values = {n: (e2e[n], u) for n, u, _, _ in M.END_TO_END}
    result = {
        "correct": L.failed == 0,
        "attempted": L.attempted,
        "failed": L.failed,
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in values.items()},
    }
    return result, _summary(workload, report)


def _layers(ctx: Ctx, wl, st: dict, m: dict) -> dict:
    out = wl.layers(ctx, st, m)
    store = StatusStore(ctx.spark)
    tr = ctx.tracer
    tr.attach_counters(store.by_group())
    if hasattr(wl, "finish_layers"):
        out = wl.finish_layers(ctx, out, store)
    ops = [s for s in tr.spans if s["parent"] is None and s["name"].startswith("op.")]
    for c in COUNTERS:
        out[f"spark.{c}"] = median(tr.subtree_counters(s).get(c, 0) for s in ops)
    out["trace.overhead_frac"] = (m["traced_op_s"] / m["untraced_op_s"] - 1.0
                                  if m.get("untraced_op_s") else 0.0)
    out["host.steal_cores"] = ctx.anchors.run_steal_cores()
    # a layer this workload does not call reads 0 (README lists which apply)
    return {n: float(out.get(n, 0.0) or 0.0) for n, _, _ in M.PER_LAYER}


def _summary(workload: str, report: dict) -> list[str]:
    names = M.WORKLOAD_NAMES[workload]
    lines = [f"[{workload}] seed={report['seed']} traced={report['traced']} "
             f"attempted={report['attempted']} failed={report['failed']} "
             f"failed_frac={report['failed'] / max(report['attempted'], 1):.4f}"]
    units = {n: u for n, u, _, _ in M.END_TO_END}
    for n, v in report["end_to_end"].items():
        alias = names.get(n, n)
        lines.append(f"  {alias} = {v:.6g} {M.NAMED_UNITS.get(alias, units[n])}")
    for n, v in report["cold"].items():
        lines.append(f"  {n} = {v:.6g} s")
    for k, v in report["info"].items():
        lines.append(f"  ({k} = {v})")
    for f in report["failures"][:5]:
        lines.append(f"  FAILED {f['op']}: {f['failures'][0][:300]}")
    return lines
