#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The workload builds its inputs from
``--seed``, measures for at least ``--seconds`` seconds on
``local[nproc]``, checks every output, and prints one JSON object as
the last line of standard output: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. ``--workload
all`` runs every workload in its own process and prints each one's
metrics under the names README.md uses. Scratch files go to
``.perfbench_work/`` and trace files to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_skewed", "query_mix")


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "ingest_spark", "plans", "pipeline.py"))


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args) -> int:
    from perfbench import metrics as M

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w}: exited {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        print("\n".join(lines[:-1]))
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{w}.{M.WORKLOAD_NAMES[w].get(k, k)}"] = v
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    if not _program_present():
        print("perfbench: ingest_spark/ not found beside perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    from perfbench.driver import run_workload

    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    t0 = time.perf_counter()
    result, summary = run_workload(args.workload, args.seed, args.seconds,
                                   bool(args.trace), work, out_dir)
    for line in summary:
        print(line)
    print(f"wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
