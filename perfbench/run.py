#!/usr/bin/env python3
"""Repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <cdc_stream|analytics_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the harness from source with sbt (offline), later runs reuse the build
while the sources are unchanged. Each run starts one JVM
(`perfbench.Main`) that generates its inputs from the seed, sets up,
measures for `--seconds`, checks its outputs and writes a result file;
this script adds the DuckDB oracle check for `analytics_mix`, prints
the generator's self-report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones,
and the traced run also writes its spans and per-layer table (with each
ratio's base) under `.perfbench/trace/`.

Exit codes: 0 ok, 1 a correctness check failed, 2 not a checkout or
the build failed, 3 the seed breaks a precondition of the code under
test (nothing is measured), 4 the harness JVM failed or timed out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("cdc_stream", "analytics_mix")
DEADLINE_S = 175.0
JVM_HEAP = "3g"
TABLES_SF = 0.02
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")
# Spark on JDK 17 needs these when started outside spark-submit; the
# same list as the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the
    runtime classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp_f, cp_f = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_f) and os.path.isfile(cp_f):
        with open(stamp_f) as a, open(cp_f) as b:
            if a.read() == stamp:
                return b.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(2, "build failed, see " + log)
    cp = lines[-1].strip()
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, a, out, started, props):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, os.path.join(WORK, "run")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    # a fixed young generation keeps the resident set (peak_rss_mb) from
    # following the collector's adaptive sizing
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn256m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={local}"] +
           [f"-D{k}={v}" for k, v in props.items()] + opts + ["-cp", cp, "perfbench.Main",
                   "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--work", os.path.join(WORK, "run"), "--out", out,
                   "--cores", str(cores())])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log = os.path.join(WORK, f"jvm-{a.workload}.log")
    left = DEADLINE_S - (time.time() - started)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, left))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(4, f"harness timed out, see {log}")
    return rc, log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail(2, f"{ROOT} is not a checkout of the engine (no src/main/scala/graft)")
    cp = build()
    started = time.time()  # the first run's build has its own budget
    out = os.path.join(WORK, f"result-{a.workload}.json")
    if os.path.exists(out):
        os.remove(out)
    props = {}
    if a.workload == "analytics_mix":
        import tables
        props["perfbench.tables"] = tables.ensure(WORK, TABLES_SF)
    rc, log = run_jvm(cp, a, out, started, props)
    if not os.path.isfile(out):
        fail(4, f"harness exited {rc} without a result, see {log}")
    with open(out) as f:
        res = json.load(f)
    if "refused" in res:
        fail(3, f"seed {a.seed} refused: {res['refused']}")
    if rc != 0:
        fail(4, f"harness exited {rc}, see {log}")

    failures = list(res["failures"])
    failed = res["failed"]
    if "oracle" in res:
        import oracle
        bad = oracle.check(res["oracle"], res["oracle_tables"])
        failures += bad
        failed += len(bad)
    for k, v in res["report"].items():
        print(f"report {k} = {json.dumps(v)}")
    for f in failures:
        print("FAIL " + f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    got = res["metrics"]
    if a.trace:
        # a layer the workload does not run reports zero work
        got = {m["name"]: got.get(m["name"], {"value": 0, "unit": m["unit"]}) for m in spec}
        layers = os.path.join(WORK, "trace", f"{a.workload}.layers.json")
        with open(layers, "w") as f:
            json.dump(got, f, indent=1)
        print(f"report trace_files = {json.dumps([layers, layers[:-len('layers.json')] + 'spans.jsonl'])}")
    missing = [m["name"] for m in spec
               if not isinstance(got.get(m["name"], {}).get("value"), (int, float))]
    if missing:
        fail(4, "harness did not measure " + ", ".join(missing))
    metrics = {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]} for m in spec}
    correct = not failures and failed == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
