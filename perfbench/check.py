#!/usr/bin/env python3
"""Repeatability check: runs the benchmark once per seed on each workload,
in two sets one after the other, and holds every end-to-end metric of
BENCHMARK.json to its bound. Run it from the repository root:

    python3 perfbench/check.py --seeds 1-10 [--workloads noise_join] [--sets 1]

Per set, workload and metric it prints the median and the spread between
the first and third quartile as a share of the median (the spread should
stay below a third of the bound). It exits 1 when a run fails or reports
incorrect output, when a spread reaches its bound, or when a median of
the second set is worse than the first set's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def run_set(spec: dict, names: list[str], seed_list: list[int], label: str) -> tuple[dict, bool]:
    runs: dict[str, list[dict]] = {}
    ok = True
    for w in names:
        for seed in seed_list:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            wall = time.monotonic() - t0
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                res = {"correct": False, "metrics": {}}
            res["wall_s"] = wall
            runs.setdefault(w, []).append(res)
            good = p.returncode == 0 and res["correct"] and not res.get("failed")
            ok &= good
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{label} {w} seed {seed}: {'ok' if good else 'FAILED'} {wall:.0f}s {vals}", flush=True)
            if not good:
                print(p.stderr[-3000:], flush=True)
    return runs, ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    sets, ok = [], True
    for k in range(args.sets):
        runs, good = run_set(spec, names, seeds(args.seeds), f"set {k + 1}")
        sets.append(runs)
        ok &= good

    print(f"{'set':3s} {'workload':12s} {'metric':12s} {'median':>10s} {'spread':>7s} "
          f"{'shift':>7s} {'bound':>5s}")
    for w in names:
        first: dict[str, float] = {}
        for k, runs in enumerate(sets):
            rs = runs[w]
            for m in spec["end_to_end"]:
                vals = [r["metrics"][m["name"]]["value"] for r in rs if m["name"] in r["metrics"]]
                if len(vals) < 2:
                    ok = False
                    continue
                med, sp = spread(vals)
                flag = "" if sp < m["bound"] / 3 else ("  spread > bound/3" if sp < m["bound"] else "  SPREAD > BOUND")
                ok &= sp < m["bound"]
                # how much worse this set's median is than the first set's
                sign = 1 if m["better"] == "lower" else -1
                base = first.setdefault(m["name"], med)
                shift = sign * (med - base) / base
                if shift > m["bound"]:
                    ok, flag = False, flag + "  MEDIAN SHIFT > BOUND"
                print(f"{k + 1:<3d} {w:12s} {m['name']:12s} {med:10.5g} {sp:7.3f} {shift:7.3f} "
                      f"{m['bound']:5.2f}{flag}")
            print(f"{k + 1:<3d} {w:12s} {'run wall s':12s} {statistics.median(r['wall_s'] for r in rs):10.1f}")
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
