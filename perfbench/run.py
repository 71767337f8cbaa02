#!/usr/bin/env python3
"""Pipeline benchmark: runs one workload of BENCHMARK.json against the engine.

    python3 perfbench/run.py --workload daily_publish --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine (`sbt compile`
in the root) and the harness (`sbt compile` in perfbench/) into their target
directories; later runs reuse the build while the sources are unchanged.
Each run starts one JVM on local[min(nproc, 4)], generates the workload's
inputs from the seed, sets up, runs one untimed warm-up op and then timed ops
in a closed loop for --seconds. Every op's output is checked. Everything the
run writes stays under .bench_build/ in the checkout.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The full run record, including the effective
Spark SQL configuration, is written to .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_digest():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, out, err=None):
    """Run cmd in its own process group and wait for it. The group is
    killed on timeout, or when this script is interrupted or terminated,
    so no process outlives the run. Returns the exit code, -1 on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                            stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(130)

    old = [signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)]
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1
    finally:
        signal.signal(signal.SIGTERM, old[0])
        signal.signal(signal.SIGINT, old[1])


def build(env):
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    benv = dict(env, COURSIER_MODE=env.get("COURSIER_MODE", "offline"))
    sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        for cwd in (ROOT, HERE):
            t0 = time.time()
            print(f"[perfbench] building {os.path.relpath(cwd, ROOT)}", file=sys.stderr)
            if run_group(sbt + ["compile"], cwd, benv, BUILD_TIMEOUT_S, log, subprocess.STDOUT) != 0:
                fail(f"build failed in {cwd}; see .bench_build/build.log", 3)
            print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest)


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}, spec


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources next to perfbench/: run from a full checkout")
    units, spec = declared(a.trace == 1)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    env = dict(os.environ)
    home = spark_home()
    env["SPARK_HOME"] = home
    build(env)

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cp = os.pathsep.join([
        os.path.join(ROOT, "target", "scala-2.13", "classes"),
        os.path.join(HERE, "target", "scala-2.13", "classes"),
        os.path.join(home, "jars", "*"),
    ])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log4j = os.path.join(HERE, "log4j2.properties")
    # C1 only: ops are bound by driver-side planning, which C2 keeps
    # speeding up for ~10 ops (ownership_graph: 6 s down to 3.8 s on a
    # 4-core VM), at a rate set by how much CPU its compiler threads get
    # on a shared host. C1 reaches its level within the warm-up op.
    cmd = ["java", "-XX:TieredStopAtLevel=1", "-Xms2g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={log4j}", *opens, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work-dir", work]
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            code = run_group(cmd, ROOT, env, RUN_TIMEOUT_S, out)
        lines = open(out_path).read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code == -1:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 5)
    tagged = {}
    for line in lines:
        tag, _, body = line.partition(" ")
        if tag in ("PERFBENCH_DETAIL", "PERFBENCH_RESULT"):
            tagged[tag] = json.loads(body)
    if "PERFBENCH_RESULT" not in tagged:
        fail("no result from the benchmark JVM", 5)
    res, detail = tagged["PERFBENCH_RESULT"], tagged.get("PERFBENCH_DETAIL", {})
    got = res["metrics"]
    if set(got) != set(units):
        fail(f"metric names differ from BENCHMARK.json: missing {sorted(set(units) - set(got))}, "
             f"extra {sorted(set(got) - set(units))}", 6)

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump({"result": res, "detail": detail}, fh, indent=1, sort_keys=True)

    walls = detail.get("op_walls_s", [])
    print(f"workload {a.workload}  seed {a.seed}  ops {len(walls)}  "
          f"error_rate {detail.get('error_rate', 0.0)} ratio  "
          f"shuffle_partitions {detail.get('shuffle_partitions')}")
    if len(walls) >= 2:
        q = statistics.quantiles(walls, n=4)
        print(f"op wall quartiles {q[0]:.4f} / {q[1]:.4f} / {q[2]:.4f} s over {len(walls)} ops")
    for name in sorted(got):
        print(f"{name} {got[name]} {units[name]}")
    print(json.dumps({
        "correct": bool(res["correct"]), "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": got[k], "unit": units[k]} for k in sorted(got)},
    }))


if __name__ == "__main__":
    main()
