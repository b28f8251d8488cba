#!/usr/bin/env python3
"""Benchmark of the graft engine: the paper's ETL pipeline and the query sweep.

Usage, from the repository root:

    python3 perfbench/run.py --workload etl_week --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source with sbt when the sources
changed since the last build, runs one workload in a fresh JVM, checks its
outputs, prints every metric with its unit, and prints as the last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones. Everything
it writes stays under perfbench/out/. See perfbench/README.md.
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
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(OUT, "build")

WORKLOADS = ("etl_week", "query_sweep")
XMX = "1g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input to the build: engine and harness sources, build files."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top, every in ((os.path.join(ROOT, "src", "main"), True), (os.path.join(HERE, "src"), True),
                       (os.path.join(ROOT, "project"), False), (os.path.join(HERE, "project"), False)):
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if every or f.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine and harness; returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lf.write(p.stdout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"[perfbench] build failed (exit {p.returncode}), see {BUILD}/sbt.log")
    cps = [l.strip() for l in p.stdout.splitlines()
           if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        raise SystemExit("[perfbench] build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def run_jvm(cp, args, work, result):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(HERE, "data", "sf0.001"),
            "--expected", os.path.join(HERE, "expected", "query_sweep.tsv"),
            "--out", result]
    if args.record_expected:
        cmd += ["--record", "1"]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    jvm_log = result + ".log"
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    return code, jvm_log


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="query_sweep: write this commit's outputs as the expected file")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "etl", "Pipeline.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no engine sources here ({need} missing); run from a repository checkout")
            return 2

    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    result = os.path.join(OUT, f"result-{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    os.makedirs(work, exist_ok=True)
    try:
        code, jvm_log = run_jvm(cp, args, work, result)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        with open(jvm_log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        log(f"harness JVM exited {code}")
        return 1
    with open(result) as fh:
        r = json.load(fh)
    if args.record_expected:
        log("recorded expected outputs")
        return 0 if r["failed"] == 0 else 1

    info = r["info"]
    log("contract: " + ", ".join(f"{k}={info[k]}" for k in (
        "workload", "seed", "cpus", "spark_version", "heap_max_mb", "input") if k in info))
    for e in r["errors"]:
        log(f"FAILED CHECK: {e}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    want = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    source = r["per_layer"] if args.trace else r["end_to_end"]
    metrics, missing = {}, []
    for name, unit in want.items():
        v = source.get(name)
        if v is None or not math.isfinite(v):
            missing.append(name)
            continue
        metrics[name] = {"value": v, "unit": unit}
    for name in missing:
        log(f"metric {name} was not measured")
    attempted, failed = int(r["attempted"]), int(r["failed"])
    for name, m in metrics.items():
        print(f"{name:28s} {m['value']:14.6f} {m['unit']}")
    print(f"{'error_rate':28s} {failed / max(attempted, 1):14.6f} ratio"
          f"  ({failed} failed / {attempted} attempted)")
    print(json.dumps({
        "correct": failed == 0 and not missing and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 and not missing else 1


if __name__ == "__main__":
    sys.exit(main())
