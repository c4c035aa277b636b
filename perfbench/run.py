#!/usr/bin/env python3
"""Runs one benchmark run and prints its result as the last stdout line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt on first use
(outputs under target/ and perfbench/target/), then starts a fresh JVM
with a private temporary root under .perfbench/ that is deleted when
the run ends. Span traces of traced runs are kept in .perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
JVM_TIMEOUT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]:
        for d, _, files in os.walk(top):
            if os.sep + "target" in d:
                continue
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]:
        newest = max(newest, os.path.getmtime(f))
    return newest


def classpath():
    """The run classpath, building the program and harness when stale."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) > newest_source_mtime():
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building the program and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(args, cp):
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=work)
    os.makedirs(os.path.join(root, "tmp"))
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}"]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--bench", BENCH,
              "--root", root, "--traces", os.path.join(work, "traces")])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           text=True, timeout=JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise SystemExit(f"perfbench: the run printed no result (exit {p.returncode})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: no program sources next to the benchmark; "
                         "run it from the root of a full checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")

    conf = json.load(open(os.path.join(BENCH, "config.json")))["workloads"][args.workload]
    untouched = tuple(conf.get("untouched_layers", []))
    raw = run_jvm(args, classpath())
    for k, v in raw["notes"].items():
        log(f"{k} = {v}")
    got = raw["metrics"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    missing = []
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        elif args.trace and m["name"].startswith(untouched):
            # a layer the workload does not exercise did no work
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    if missing:
        log(f"metrics not measured: {missing}")
    correct = raw["failed"] == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"] + len(missing), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
