#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run starts one JVM in a
fresh working directory under perfbench/work/, which prints its notes
and its measurements; this script prints the notes, then as its last
line one JSON object with `correct`, `attempted`, `failed` and
`metrics` -- the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1. The exit status is 0 only when
every operation succeeded and every output was correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build: a change rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM, os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(stamp):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    print("# building the program and the benchmark with sbt", flush=True)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)


def classpath():
    stamp = source_stamp()
    current = os.path.exists(STAMP) and open(STAMP).read() == stamp
    if not current or not os.path.exists(CLASSPATH):
        build(stamp)
    return open(CLASSPATH).read()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="write the registry result digests instead of "
                         "checking them")
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM):
        fail(f"program sources not found at {os.path.relpath(PROGRAM)}")
    if not os.path.isfile(SPEC):
        fail("BENCHMARK.json not found")
    with open(SPEC) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {', '.join(names)}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = classpath()
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # registry queries open fixtures under data/ relative to the
    # working directory
    os.symlink(os.path.join(ROOT, "data"), os.path.join(work, "data"))
    gc_threads = max(1, len(os.sched_getaffinity(0)) // 2)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            # a stop-the-world collector on as many threads as task slots:
            # no concurrent collector threads competing with the tasks
            "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={gc_threads}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", os.path.join(HERE, "data")]
           + (["--record-digests"] if a.record_digests else []))
    env = dict(os.environ, GRAFT_LOGS_DIR=os.path.join(ROOT, "data", "logs"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True)
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                print(line, end="", flush=True)
    finally:
        proc.wait()
        timer.cancel()
    if proc.returncode < 0:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    if result is None:
        fail(f"the run printed no result (exit {proc.returncode})", 3)

    declared = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    unknown = sorted(set(result["metrics"]) - set(declared))
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {', '.join(unknown)}", 3)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"])
        if v is None:
            if not a.trace and result["correct"]:
                fail(f"end-to-end metric {m['name']} was not measured", 3)
            # a layer the workload does not exercise did no work
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
