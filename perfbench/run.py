#!/usr/bin/env python3
"""Repository benchmark: one workload run, printed as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and the
harness from source with the Scala compiler in Spark's jar directory; later
runs reuse the classes while the sources are unchanged. Inputs are generated from
--seed; outputs are checked; the last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1), each with its unit. Scratch files go to
.bench_build/perfbench/ in the checkout. See perfbench/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

RUN_LIMIT_S = 175  # a run (after any build) must end within this
BUILD_LIMIT_S = 840
# fixed heap size: the resident set then depends on the program, not on when
# the collector decides to grow the heap; 1 GB keeps it near 1.5 GB
JAVA_HEAP = "1g"
# C1 only: on a 4-core box the C2 compiler's background work competes with
# Spark's four task threads for minutes and moves single-run times by 15-35%;
# C1 reaches its steady state within the set-up, so runs repeat within a few %
JIT = "-XX:TieredStopAtLevel=1"
SPARK_JARS = "/opt/spark/jars"
# layers a workload does not exercise report 0 for their per-layer metrics
NOT_APPLICABLE = {
    "rollup_full": ("queries.",),
    "query_suite": ("pivot.", "codec.", "rollup.", "io.", "ckpt.", "retain."),
}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        raise BenchError("BENCHMARK.json not found in the working directory")
    with open(path) as f:
        return json.load(f)


def source_files(root):
    files = []
    for d in (os.path.join(root, "src", "main", "scala"), os.path.join(BENCH, "src", "main")):
        if not os.path.isdir(d):
            raise BenchError(f"sources not found: {d}")
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def spark_jars():
    if not os.path.isdir(SPARK_JARS):
        raise BenchError(f"Spark jars not found: {SPARK_JARS}")
    return sorted(os.path.join(SPARK_JARS, f) for f in os.listdir(SPARK_JARS) if f.endswith(".jar"))


def build(root, state):
    """Compile engine + harness with the Scala compiler that ships with Spark,
    unless the recorded source hash still matches. Nothing outside the
    checkout is written: no build tool, no dependency cache.
    """
    sources = source_files(root)
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(state, "build.stamp")
    classes = os.path.join(state, "classes")
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return classes
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BenchError(f"Scala compiler jars not found in {SPARK_JARS}")
    if os.path.isfile(stamp):
        os.remove(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    log(f"compiling {len(sources)} engine and harness sources")
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx1g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", fresh] + sources
    log_path = os.path.join(state, "build.log")
    with open(log_path, "w") as out:
        rc = run_child(cmd, root, dict(os.environ), out, BUILD_LIMIT_S)
    if rc != 0:
        raise BenchError(f"build failed (exit {rc}):\n{tail(log_path)}")
    os.rename(fresh, classes)
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def tail(path, lines=25):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-lines:])
    except OSError:
        return f"({path} not readable)"


def run_child(cmd, cwd, env, out, limit_s):
    """Run `cmd` in its own process group; kill the group after limit_s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} exceeded {limit_s:.0f} s and was stopped")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def assemble(spec, workload, trace, res, extra_checks):
    """The result line: declared metrics only, each with its declared unit."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    got = dict(res["metrics"])
    if not trace:
        got["setup_s"] = res["setup_s"]
    metrics = {}
    for m in declared:
        name = m["name"]
        if name in got:
            value = got[name]
        elif trace and name.startswith(NOT_APPLICABLE.get(workload, ())):
            value = 0.0
        else:
            raise BenchError(f"metric {name} missing from the {workload} run")
        if value is None:
            raise BenchError(f"metric {name} is not a number")
        metrics[name] = {"value": value, "unit": m["unit"]}
    checks = dict(res["checks"], **extra_checks)
    failed = int(res["failed"])
    return {
        "correct": bool(res["correct"]) and all(checks.values()) and failed == 0,
        "attempted": int(res["attempted"]),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec = load_spec(root)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        raise BenchError(f"unknown workload {args.workload}; expected one of {names}")
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    classes = build(root, state)

    work = os.path.join(state, f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t_start = time.time()
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work]
    tables = None
    if args.workload == "query_suite":
        import querydata
        tables = os.path.join(work, "tables")
        querydata.write(args.seed, tables)
        jvm_args += ["--tables", tables]

    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [JIT, "-XX:-UsePerfData", f"-Xms{JAVA_HEAP}", f"-Xmx{JAVA_HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
            "graft.perfbench.Main"] + jvm_args
    log(f"running {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    with open(os.path.join(work, "jvm.log"), "w") as out:
        rc = run_child(cmd, root, dict(os.environ), out, RUN_LIMIT_S - (time.time() - t_start))
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        raise BenchError(f"benchmark JVM failed (exit {rc}):\n{tail(os.path.join(work, 'jvm.log'))}")
    with open(result_path) as f:
        res = json.load(f)
    res["setup_s"] = res["setup_end_ms"] / 1000.0 - t_start

    extra = {}
    if tables is not None:
        import oracle
        for name, why in oracle.check(work, tables).items():
            extra[f"oracle:{name}"] = not why
            if why:
                log(f"oracle mismatch {name}: {why}")
    for k, v in sorted(dict(res["checks"], **extra).items()):
        if not v:
            log(f"check failed: {k}")
    log("facts " + json.dumps(res.get("facts", {}), sort_keys=True))
    print(json.dumps(assemble(spec, args.workload, args.trace == 1, res, extra)))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
