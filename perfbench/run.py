#!/usr/bin/env python3
"""Repository benchmark: the GeoNet -> CloudTAK ETL and the query catalogue.

Run from the repository root:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Workloads: etl_batch, catalogue (see perfbench/WORKLOADS.md).
The first run builds the engine plus the harness with sbt into
.bench_build/ (rebuilt whenever a source file changes), and the catalogue
workload generates its tables there once. Each run starts one JVM with
Spark at local[4], prints every metric with its unit, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics BENCHMARK.json lists, --trace 1 its per-layer ones
(and writes the spans to .bench_build/traces/). The exit code is 0 only
for a complete result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175.0          # a run must end within 180 s ...
BUILD_DEADLINE_S = 890.0    # ... or 900 s when it has to build first
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile engine + harness once per source state; return the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classpath." + stamp[:16])
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            return fh.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Compile/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=BUILD_DEADLINE_S - 120)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = [ln for ln in out.stdout.splitlines() if ln.startswith("/")][-1]
    for old in os.listdir(BUILD):
        if old.startswith("classpath."):
            os.remove(os.path.join(BUILD, old))
    with open(stamp_file, "w") as fh:
        fh.write(cp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp, True


def tables():
    """The catalogue's fixed table set, generated once per generator version."""
    sys.path.insert(0, HERE)
    import gen_tables
    return gen_tables.ensure(BUILD)


def java(cp, work):
    """The JVM command line (up to the main class) for a run in `work`."""
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"]
            + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp])


def metric_spec(trace):
    """BENCHMARK.json's metric set for this mode, as name=unit,..."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("no BENCHMARK.json in the current directory")
    with open(path) as fh:
        spec = json.load(fh)
    return ",".join(f"{m['name']}={m['unit']}"
                    for m in spec["per_layer" if trace else "end_to_end"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_batch", "catalogue"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="catalogue: rewrite expected_catalogue.json from this "
                         "run (only after cross-checking the results)")
    a = ap.parse_args()
    start = time.time()
    metrics = metric_spec(a.trace == 1)
    cp, built = build()
    table_dir = tables() if a.workload == "catalogue" else ""
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java(cp, work) + [
        "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
        "--metrics", metrics,
        "--tables", table_dir,
        "--expected", os.path.join(HERE, "expected_catalogue.json"),
        "--record", "1" if a.record else "0"]
    budget = (BUILD_DEADLINE_S if built else DEADLINE_S) - (time.time() - start)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=max(budget, 1.0))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded its time limit")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    for ln in lines[:-1]:
        print(ln)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark process exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark process printed no result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
