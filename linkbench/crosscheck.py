#!/usr/bin/env python3
"""Cross-check the committed result digests against the DuckDB oracle.

    python3 linkbench/crosscheck.py

Run from the repository root. For every library query the benchmark runs,
this writes the query's result with graft.Verify, checks it against its
DuckDB oracle with tools/check_oracle.py, digests the checked result the
way the benchmark's sink does, and compares that digest with
linkbench/expected/digests.json. The ETL-chain stages have no oracle and
are skipped. Exit code 0 when every query passes both checks.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def main():
    run.build()
    data = run.data_dir()
    out = run.BUILD / "crosscheck"
    tmp = run.BUILD / "tmp"
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    java = run.java(tmp)
    queries = subprocess.run(java + ["linkbench.DigestParquet", "--queries"], check=True,
                             capture_output=True, text=True).stdout.split()
    env = dict(os.environ, SPARK_GRAFT_ONLY="^(" + "|".join(queries) + ")$",
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    subprocess.run(java + ["graft.Verify", str(data), str(out)], env=env, check=True,
                   stdout=sys.stderr)
    oracle = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check_oracle.py"),
                             str(out), str(data)],
                            env=dict(os.environ, CHECK_ONLY=",".join(queries)))
    got = subprocess.run(java + ["linkbench.DigestParquet", str(out), *queries],
                         check=True, capture_output=True, text=True).stdout.split("\n")
    want = json.loads(run.DIGESTS.read_text())[data.name]
    bad = 0
    for line in filter(None, got):
        op, rows, h = line.split()
        w = want.get(op, {})
        ok = int(rows) == w.get("rows") and ("hash" not in w or h == w["hash"])
        bad += not ok
        print(f"{op:28s} rows={rows:>8s} digest {'matches' if ok else 'DIFFERS'}")
    shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(1 if bad or oracle.returncode else 0)


if __name__ == "__main__":
    main()
