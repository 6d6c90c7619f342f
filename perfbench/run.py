#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload wire_read --seed 1 --seconds 10 --trace 0

Workloads: wire_read and battery_core (the two in BENCHMARK.json), and
wire_write, which is run by hand (see perfbench/README.md).
--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics and the tracing overhead. The first run in a checkout builds the
program and the harness from source with sbt; later runs reuse the build.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("wire_read", "wire_write", "battery_core")
# fixed by the benchmark, never inherited from the environment
CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "n/a"


def build_inputs():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def ensure_built():
    """Compile the program and the harness once per source state; return
    the run-time class path."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(bdir, exist_ok=True)
    log("perfbench: building the program and the harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    with open(os.path.join(bdir, "sbt.log"), "w") as f:
        f.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith(os.sep) and "perfbench" in l]
    if p.returncode != 0 or not lines:
        sys.exit("perfbench: build failed, see " + os.path.join(bdir, "sbt.log"))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_harness(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "spark-warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--cores", str(CORES), "--plant", "1" if args.plant else "0"]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit("perfbench: the run did not end within %ds" % JVM_TIMEOUT_S)
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        sys.exit("perfbench: the harness failed (exit %d), see %s"
                 % (rc, os.path.join(run_dir, "jvm.log")))
    with open(result) as f:
        return json.load(f)


def oracle_check(inputs, results):
    """Each battery entry's first-pass rows against DuckDB running the
    entry's `SparkEntry.oracleSql` on the same parquet, by the program's
    own compare, scripts/check.py. Returns a list of problems."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), inputs, results],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=120)
    problems = ["oracle: " + l.strip() for l in p.stdout.splitlines() if l.startswith(" FAIL ")]
    if p.returncode != 0 and not problems:
        problems.append("oracle: scripts/check.py exited with code %d" % p.returncode)
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", action="store_true",
                    help="hand the checker one wrong answer (checker self-test)")
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: run from a checkout of the repository; "
                 "the program's sources were not found next to perfbench/")

    start = loadavg()
    cp = ensure_built()
    run_dir = os.path.join(WORK, "run-" + args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    res = run_harness(cp, args, run_dir)
    problems = list(res["problems"])
    rec = res["record"]
    if args.workload == "battery_core":
        problems += oracle_check(rec["battery_inputs"], rec["battery_results"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": res["attempted"], "failed": res["failed"],
        "correct": not problems, "problems": problems[:10],
        "loadavg_start": start, "loadavg_end": loadavg(),
        "cores": int(rec["cores"]), "shuffle_partitions": int(rec["shuffle_partitions"]),
        "heap_max_mb": int(rec["heap_max_mb"]), "wall_s": round(time.time() - t0, 3),
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", "%s-seed%d-trace%d-%d.json" % (
            args.workload, args.seed, args.trace, int(t0))), "w") as f:
        json.dump(record, f, indent=1)
    print("record: " + json.dumps(record))
    for p in problems[:10]:
        log("perfbench: check failed: " + p)
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in res["metrics"].items() if math.isfinite(v["value"])}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
