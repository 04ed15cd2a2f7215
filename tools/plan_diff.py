#!/usr/bin/env python3
"""Registry keys whose physical plans differ between two commits.

    python3 tools/plan_diff.py --parent REV --change REV
        [--sf DIR] [--save DIR] [keys...]

Exports both revisions with tools/ab_bench.py's `export`, builds each
with sbt (offline) and runs `graft.Plans DIR [keys...]` in it (every
`SparkEntry.queries` key when none is given; DIR defaults to
~/testdata/sf0.001). Both sides run with the same
SPARK_GRAFT_CPUS (default 4). Each key's formatted plan is normalised
before the comparison:

    expression ids      `name#123L`, `#45`          -> `#N`
    RDD ids             `MapPartitionsRDD[17]`       -> `RDD[N]`
    RDD call sites      `at Graph.scala:864`         -> `at Graph.scala:N`
    operator numbers    `(12)`, `[codegen id : 3]`  -> by first appearance
    plan ids            `plan_id=4`, `id=#7`         -> `N`
    export directories  the temporary checkout path -> `<tree>`
    temporary names     a UUID or `spark-…`/`graft…` temp dir suffix -> `<tmp>`
    lambdas, objects    `Foo$$$Lambda$6362/0x…@14f7dda6` -> `Foo$$$Lambda@<obj>`

A plan with a distinct-aggregate rewrite (its `Expand` adds a `gid`
column) orders the distinct groups, and so numbers them, by a hash of
expression ids, which differs from run to run; each line of such a plan
is compared as the sorted multiset of its tokens.

Prints the keys whose normalised plans differ, one a line, then a
count; a key present on one side only is reported as differing. With
--save, the normalised plans of both sides are kept under DIR/parent
and DIR/change (one file per key). Exit code 0 when no key differs, 1
when some key differs, 2 when a side failed to build or run.
"""
import argparse
import os
import re
import shutil
import subprocess
import sys

from ab_bench import ROOT, export, git

SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": ("-Dsbt.override.build.repos=true "
                 "-Dsbt.repository.config="
                 + os.path.expanduser("~/.sbt/repositories")
                 + " -Dsbt.offline=true -Xmx2g"),
}
MARK = "##PLAN## "


def run_plans(tree, sf, keys, cpus):
    """{key: raw plan text} printed by graft.Plans in `tree`."""
    env = dict(os.environ, **SBT_ENV, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM", "3g"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "runMain graft.Plans " + " ".join([sf, *keys])]
    p = subprocess.run(cmd, cwd=tree, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                       text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        print(f"graft.Plans failed in {tree}", file=sys.stderr)
        sys.exit(2)
    plans, key = {}, None
    for line in p.stdout.splitlines():
        # forked stdout comes back as `[info] ...`; everything else sbt
        # or Spark logs is not part of a plan
        if not line.startswith("[info] "):
            continue
        line = line[len("[info] "):]
        if line.startswith(MARK):
            key = line[len(MARK):].strip()
            plans[key] = []
        elif key is not None:
            plans[key].append(line)
    return {k: "\n".join(v).strip() for k, v in plans.items()}


def renumber(text, pattern, fmt):
    """Replace each distinct number captured by `pattern` with its rank
    of first appearance."""
    seen = {}

    def sub(m):
        n = seen.setdefault(m.group(1), len(seen) + 1)
        return fmt.format(n)
    return re.sub(pattern, sub, text)


def normalise(text, tree):
    text = text.replace(tree, "<tree>")
    text = re.sub(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                  r"[0-9a-f]{12}", "<tmp>", text)
    text = re.sub(r"\b((?:spark|graft|blockmgr)[-_][\w.-]*?)[-_]?\d{6,}\w*",
                  r"\1<tmp>", text)
    text = re.sub(r"\$Lambda\$\d+/0x[0-9a-f]+", "$Lambda", text)
    text = re.sub(r"@[0-9a-f]{4,8}\b", "@<obj>", text)
    text = re.sub(r"#\d+L?\b", "#N", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    text = re.sub(r"(\w+\.scala):\d+", r"\1:N", text)
    text = re.sub(r"\b(plan_id|id)=#?\d+", r"\1=N", text)
    text = renumber(text, r"\((\d+)\)", "({})")
    text = renumber(text, r"\[codegen id : (\d+)\]", "[codegen id : {}]")
    if "gid#N" in text:
        text = "\n".join(" ".join(sorted(re.findall(r"\w+|[^\w\s]", line)))
                         for line in text.splitlines())
    return text


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--sf",
                    default=os.path.expanduser("~/testdata/sf0.001"))
    ap.add_argument("--save")
    ap.add_argument("keys", nargs="*")
    a = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    revs = {"parent": git("rev-parse", a.parent),
            "change": git("rev-parse", a.change)}
    base, trees = export(revs)
    try:
        plans = {side: {k: normalise(v, trees[side]) for k, v in
                        run_plans(trees[side], os.path.abspath(a.sf), a.keys,
                                  cpus).items()}
                 for side in ("parent", "change")}
    finally:
        shutil.rmtree(base, ignore_errors=True)
    if a.save:
        for side, ps in plans.items():
            d = os.path.join(a.save, side)
            os.makedirs(d, exist_ok=True)
            for k, v in ps.items():
                with open(os.path.join(d, k + ".txt"), "w") as f:
                    f.write(v + "\n")
    keys = sorted(set(plans["parent"]) | set(plans["change"]))
    differ = [k for k in keys
              if plans["parent"].get(k) != plans["change"].get(k)]
    print(f"parent {revs['parent']}  change {revs['change']}  "
          f"{len(keys)} keys")
    for k in differ:
        print(k)
    print(f"{len(differ)} of {len(keys)} keys differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
