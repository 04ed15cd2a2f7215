#!/usr/bin/env python3
"""A/B comparison of two commits on one benchmark workload.

    python3 tools/ab_bench.py --workload analytics_mix
        [--parent REV] [--change REV] [--pairs 10]

Exports the parent (default HEAD~1) and the change (default HEAD) with
`git archive` into a fresh temporary directory (under $TMPDIR when
set), then runs

    python3 perfbench/run.py --workload W --seed s --seconds S --trace 0

in each checkout for N pairs, with S the run_seconds of BENCHMARK.json.
Pair i runs seed i + 1 on both sides; even pairs run the parent first,
odd pairs the change first, so drift in machine load falls on both
sides alike. Every run's JSON line is
echoed as it finishes. At the end, for each end-to-end metric of
BENCHMARK.json, it prints each side's median and quartiles, the pairs
the change won (ties count for neither side), whether the gain rule
holds (the change wins at least 9/10 of the pairs and the medians are
further apart than the parent's own quartile distance) and the
no-regression verdict against the metric's `bound`:

    unresolved  the parent's (q3 - q1) / median is above the bound and
                not every change run beats every parent run
    regressed   the change's median is worse than the parent's by more
                than bound x the parent's median
    ok          otherwise

The last line is the same summary as one JSON object.

Runs are measured on the committed files only: nothing under
perfbench/ and no BENCHMARK.json is written, and the exported trees
are removed on exit. Exit code 0 when every run was correct, else 1.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def quantile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def export(revs):
    """`git archive` each side's revision into a fresh temporary
    directory (under $TMPDIR when set); returns (base, {side: tree}).
    The caller removes `base`."""
    base = tempfile.mkdtemp(prefix="ab_bench_")
    trees = {side: os.path.join(base, side) for side in revs}
    for side, rev in revs.items():
        os.makedirs(trees[side])
        archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", trees[side]],
                       stdin=archive.stdout, check=True)
        archive.stdout.close()
        if archive.wait() != 0:
            shutil.rmtree(base, ignore_errors=True)
            sys.exit(f"git archive {rev} failed")
    return base, trees


def run_once(checkout, workload, seed, seconds, trace=0):
    """One benchmark run; returns (metrics or None, correct)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None, False
    res = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    return metrics, p.returncode == 0 and res["correct"]


def verdict(par, chg, higher, bound):
    """No-regression verdict of the change's runs against the parent's."""
    med = quantile(par, 0.5)
    spread = (quantile(par, 0.75) - quantile(par, 0.25)) / abs(med)
    dominates = (min(chg) > max(par)) if higher else (max(chg) < min(par))
    if dominates:
        return "ok"
    if spread > bound:
        return "unresolved"
    worse = (med - quantile(chg, 0.5)) if higher else (quantile(chg, 0.5) - med)
    return "regressed" if worse > bound * abs(med) else "ok"


def summarize(spec, runs):
    """Per-metric medians, quartiles, pairs won by the change and the
    no-regression verdict."""
    out = {}
    for m in spec:
        name, higher = m["name"], m["better"] == "higher"
        pairs = [(r["parent"][name], r["change"][name]) for r in runs
                 if r["parent"] and r["change"]]
        if not pairs:
            continue
        par = [a for a, _ in pairs]
        chg = [b for _, b in pairs]
        won = sum(1 for a, b in pairs if (b > a if higher else b < a))
        lost = sum(1 for a, b in pairs if (b < a if higher else b > a))
        side = {k: {"q1": quantile(v, 0.25), "median": quantile(v, 0.5),
                    "q3": quantile(v, 0.75)}
                for k, v in (("parent", par), ("change", chg))}
        iqr = side["parent"]["q3"] - side["parent"]["q1"]
        diff = side["change"]["median"] - side["parent"]["median"]
        better = diff > 0 if higher else diff < 0
        out[name] = {"unit": m["unit"], "better": m["better"], **side,
                     "pairs": len(pairs), "won": won, "lost": lost,
                     "gain": (better and won * 10 >= 9 * len(pairs)
                              and abs(diff) > iqr),
                     "bound": m["bound"],
                     "verdict": verdict(par, chg, higher, m["bound"])}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    revs = {"parent": git("rev-parse", a.parent),
            "change": git("rev-parse", a.change)}
    base, trees = export(revs)
    runs = []
    try:
        print(f"parent {revs['parent']}  change {revs['change']}  "
              f"workload {a.workload}  {seconds:g} s per run", flush=True)
        for i in range(a.pairs):
            seed = i + 1
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                metrics, ok = run_once(trees[side], a.workload, seed, seconds)
                pair[side] = metrics if ok else None
                print(json.dumps({"pair": i, "seed": seed, "side": side,
                                  "correct": ok, "metrics": metrics}),
                      flush=True)
            runs.append(pair)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    summary = summarize(bench["end_to_end"], runs)
    print()
    print(f"{'metric':<16} {'side':<7} {'q1':>10} {'median':>10} {'q3':>10}"
          f"  won/lost/pairs  gain  verdict (bound)")
    for name, s in summary.items():
        for side in ("parent", "change"):
            q = s[side]
            tail = (f"  {s['won']}/{s['lost']}/{s['pairs']:<9}"
                    f"{'yes' if s['gain'] else 'no':<6}"
                    f"{s['verdict']} ({s['bound']:g})"
                    if side == "change" else "")
            print(f"{name:<16} {side:<7} {q['q1']:>10.4g} {q['median']:>10.4g}"
                  f" {q['q3']:>10.4g}{tail}")
    failed = sum(1 for r in runs for side in revs if r[side] is None)
    print(json.dumps({"workload": a.workload, "revs": revs,
                      "seconds": seconds, "failed_runs": failed,
                      "metrics": summary}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
