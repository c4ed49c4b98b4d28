#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload, one seed, one JSON line.

    python3 linkbench/run.py --workload link_serving --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run builds the library and the
benchmark from source with sbt (offline) into .bench_build/; later runs
start the JVM directly. Workloads and metrics are listed in
BENCHMARK.json; linkbench/README.md says what each one measures.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). Lines before it give each metric with its sample count and
the host context. The full run record, with every operation's span, is
written to .bench_build/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
LAUNCH = BUILD / "launch.txt"
DIGESTS = HERE / "expected" / "digests.json"
JVM_TIMEOUT_S = 170
WORKLOADS = ("kg_pipeline_cold", "link_serving")


def die(msg):
    print(f"linkbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads from the checkout."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return files


def build():
    """Compile the library and the benchmark unless the build is current."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("run from the repository root: the library sources are not here")
    newest = max(p.stat().st_mtime for p in sources())
    if LAUNCH.exists() and LAUNCH.stat().st_mtime >= newest:
        return
    # Offline resolution, as the repository's own test command sets it.
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g "
                   f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "writeLaunch"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not LAUNCH.exists():
        die(f"build failed (sbt exit {r.returncode})")
    LAUNCH.touch()


def data_dir():
    data = Path(os.environ.get("GRAFT_BENCH_DATA", Path.home() / "testdata" / "sf0.01"))
    if not (data / "lineitem.parquet").exists():
        die(f"fixture not found: {data} (set GRAFT_BENCH_DATA)")
    return data


def java(tmp, heap=None):
    """The JVM command line up to the main class: classpath and options
    from the build, temp files under `tmp`."""
    lines = LAUNCH.read_text().splitlines()
    opts = [o for o in lines[1:] if o and not (heap and o.startswith("-Xmx"))]
    return ["java", *([f"-Xmx{heap}"] if heap else []), f"-Djava.io.tmpdir={tmp}", *opts,
            "-cp", lines[0]]


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return f[7], sum(f)


def metric_names(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="record result digests into expected/digests.json instead of checking")
    args = ap.parse_args()

    if not (ROOT / "BENCHMARK.json").is_file():
        die("BENCHMARK.json not found in the working directory")
    data = data_dir()
    build()

    cpus = len(os.sched_getaffinity(0))
    tmp, local = BUILD / "tmp", BUILD / "spark-local"
    results = BUILD / "results"
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out, log = results / f"{stem}.json", results / f"{stem}.log"
    out.unlink(missing_ok=True)
    steal0, total0 = cpu_jiffies()
    # setup_s counts from here: the JVM's launch, after any build.
    launched_ms = int(time.time() * 1000)
    cmd = [*java(tmp, heap=os.environ.get("SPARK_DRIVER_MEM", "4g")), "linkbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(data), "--out", str(out), "--cpus", str(cpus),
           "--launched-ms", str(launched_ms), "--local-dir", str(local),
           "--digests", str(DIGESTS), "--record-digests", "1" if args.record_digests else "0"]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    steal1, total1 = cpu_jiffies()
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
    if code != 0 or not out.exists():
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"benchmark JVM failed (exit {code}); log: {log}")

    res = json.loads(out.read_text())
    res["host"]["cpu_steal"] = (steal1 - steal0) / max(total1 - total0, 1)
    out.write_text(json.dumps(res))
    if args.record_digests:
        record(res)
    got = res.get("per_layer" if args.trace else "end_to_end", {})
    metrics, missing = {}, []
    for name, unit in metric_names(args.trace):
        m = got.get(name)
        if m is None:
            # A per-layer metric of another workload's layer: no such work here.
            if not args.trace:
                missing.append(name)
            m = {"value": 0.0, "unit": unit, "n": 0}
        metrics[name] = {"value": m["value"], "unit": unit}
        print(f"{name:40s} {m['value']:>14.6g} {unit:6s} n={m['n']:g}")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    host = res["host"]
    print(f"# host nproc={host['nproc']} cpus={host['cpus']} loadavg=[{host['loadavg_start']}] "
          f"cpu_steal={host['cpu_steal']:.4f} calibration_probe_s={host['calibration_probe_s']} "
          f"(traced runs only; reference {host['calibration_ref_s']}, not gated) "
          f"fail_ratio={failed / max(attempted, 1):.4f} record={out}")
    for k, v in res.get("serving", {}).items():
        print(f"# serving {k}={v}")
    for f in res["failures"][:10]:
        print(f"# FAILED {f}")
    correct = failed == 0 and not missing and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def record(res):
    """Merge the run's observed digests into the committed file; the MLlib
    solver's output is checked by row count only."""
    table = json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}
    for key, ops in res.get("observed_digests", {}).items():
        for op, d in ops.items():
            if op == "ml_train_eval":
                d = {"rows": d["rows"]}
            table.setdefault(key, {})[op] = d
    DIGESTS.parent.mkdir(parents=True, exist_ok=True)
    DIGESTS.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
