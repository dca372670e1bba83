#!/usr/bin/env python3
"""Cross-check the catalogue mix against the DuckDB oracle.

    python3 perfbench/crosscheck.py

Runs graft.Verify over the catalogue tables for the queries named in
expected_catalogue.json (dumping each result to parquet), then
dev/compare.py, which runs each query's oracle SQL in DuckDB on the same
tables and diffs exactly. Run it before `run.py --record`.
"""
import json
import os
import shutil
import subprocess
import sys

import run

with open(os.path.join(run.HERE, "expected_catalogue.json")) as fh:
    names = list(json.load(fh))
cp, _ = run.build()
tables = run.tables()
work = os.path.join(run.BUILD, "crosscheck")
shutil.rmtree(work, ignore_errors=True)
os.makedirs(os.path.join(work, "tmp"))
env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_ONLY=",".join(names))
out = os.path.join(work, "out")
subprocess.run(run.java(cp, work) + ["graft.Verify", tables, out],
               cwd=work, env=env, check=True)
ok = subprocess.run([sys.executable, os.path.join(run.ROOT, "dev", "compare.py"),
                     tables, out] + names).returncode
shutil.rmtree(work, ignore_errors=True)
sys.exit(ok)
