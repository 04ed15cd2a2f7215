#!/usr/bin/env python3
"""Traced A/B of two commits on one benchmark workload: which layer moved.

    python3 tools/trace_ab.py --workload analytics_mix
        [--parent REV] [--change REV] [--seed 1]

Exports the parent (default HEAD~1) and the change (default HEAD) the
way tools/ab_bench.py does, runs one

    python3 perfbench/run.py --workload W --seed s --seconds S --trace 1

in each checkout (parent first), with S the run_seconds of
BENCHMARK.json, and prints every per-layer metric of BENCHMARK.json as
parent -> change with the change/parent ratio, then the same table as
one JSON object. One traced run per side: a layer that moved by less
than the run-to-run spread (see ab_bench for the end-to-end figures)
is not a finding.

Nothing under perfbench/ and no BENCHMARK.json is written; the
exported trees are removed before exit. Exit code 0 when both runs
were correct, else 1.
"""
import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_bench  # noqa: E402


def fmt(x, spec=".4g"):
    return "-" if x is None else format(x, spec)


def report(a, revs, spec, got, ok):
    """Every per-layer metric as parent -> change with the ratio, as a
    table and then as one JSON object."""
    rows = {}
    print()
    print(f"{'metric':<34} {'unit':<6} {'parent':>12} {'change':>12} {'ratio':>7}")
    for m in spec:
        name = m["name"]
        par = (got["parent"] or {}).get(name)
        chg = (got["change"] or {}).get(name)
        r = chg / par if par and chg is not None else None
        rows[name] = {"unit": m["unit"], "better": m["better"],
                      "parent": par, "change": chg, "ratio": r}
        print(f"{name:<34} {m['unit']:<6} {fmt(par):>12} {fmt(chg):>12} "
              f"{fmt(r, '.3f'):>7}")
    print(json.dumps({"workload": a.workload, "revs": revs, "seed": a.seed,
                      "correct": ok, "metrics": rows}), flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ab_bench.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    revs = {"parent": ab_bench.git("rev-parse", a.parent),
            "change": ab_bench.git("rev-parse", a.change)}
    base, trees = ab_bench.export(revs)
    got, ok = {}, {}
    try:
        print(f"parent {revs['parent']}  change {revs['change']}  "
              f"workload {a.workload}  seed {a.seed}  traced", flush=True)
        for side in ("parent", "change"):
            got[side], ok[side] = ab_bench.run_once(
                trees[side], a.workload, a.seed, bench["run_seconds"], trace=1)
            print(json.dumps({"side": side, "correct": ok[side]}), flush=True)
        report(a, revs, bench["per_layer"], got, ok)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    sys.exit(0 if all(ok.values()) else 1)


if __name__ == "__main__":
    main()
