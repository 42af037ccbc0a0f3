#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 bench/run.py --workload tfidf_rank --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. Each run starts one JVM with a
fixed heap and at most three Spark task threads, which generates the seeded
corpus, checks every operation against its oracle and reports its metrics.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it is the run's record: host,
load, heap, Spark version, seed, input digest and sizes, samples and the
share of operations that failed or disagreed with the oracle.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "bench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")

HEAP = "1g"
MAX_TASK_THREADS = 3
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"timed out after {timeout}s: {cmd[0]}")
    return proc.returncode, out


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the engine's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("no Spark jars: build.sbt sets no unmanagedBase and SPARK_HOME is unset")


def build():
    """Compile engine + harness unless the sources are unchanged; return the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dgraftbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "wb") as lf:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf)
    lines = out.decode(errors="replace").splitlines()
    with open(log, "ab") as lf:
        lf.write(out)
    cps = [l.strip() for l in lines if "scala-2.13" in l and os.pathsep in l
           and not l.startswith("[")]
    if code != 0 or not cps:
        fail(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def metric_specs(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    units = metric_specs(a.trace)
    classpath = build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, tmp, results):
        os.makedirs(d, exist_ok=True)
    # one core stays free for the thread that plans and schedules jobs, the
    # JIT and the GC: on four cores, three task threads serve queries faster
    # and steadier than four
    threads = max(1, min(len(os.sched_getaffinity(0)) - 1, MAX_TASK_THREADS))
    # JIT thresholds at a tenth of the default: the per-operation planning and
    # scheduling code then reaches compiled speed within the warm-up
    # instead of drifting through the timed phase
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:CompileThresholdScaling=0.1"]
    for p in JDK17_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
             "-cp", classpath, "graftbench.Main",
             "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--data", os.path.join(run_dir, "data"),
             "--work", os.path.join(run_dir, "work")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(threads), SPARK_LOCAL_DIRS=local)
    log = os.path.join(results, f"{a.workload}-{a.seed}-t{a.trace}.log")
    t0 = time.time()
    try:
        with open(log, "wb") as lf:
            code, out = run_group(java, RUN_TIMEOUT_S, cwd=run_dir, env=env,
                                  stdout=subprocess.PIPE, stderr=lf)
        spans = os.path.join(results, f"{a.workload}-{a.seed}-spans.jsonl")
        if os.path.exists(os.path.join(run_dir, "work", "spans.jsonl")):
            shutil.move(os.path.join(run_dir, "work", "spans.jsonl"), spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [json.loads(l) for l in out.decode(errors="replace").splitlines()
             if l.startswith("{")]
    if code != 0 or len(lines) < 2 or "record" not in lines[-2]:
        fail(f"run failed (exit {code}); see {log}")
    record, result = lines[-2]["record"], lines[-1]
    values = result["values"]
    if set(values) != set(units):
        fail(f"metrics {sorted(set(values) ^ set(units))} disagree with BENCHMARK.json")
    record["wall_s"] = round(time.time() - t0, 3)
    if a.trace:
        record["spans"] = spans
    final = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in sorted(values)},
    }
    with open(os.path.join(results, f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"record": record, "result": final}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(final))


if __name__ == "__main__":
    main()
