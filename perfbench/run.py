#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness together
with graft's sources (sbt, offline); later runs reuse the build while the
sources are unchanged. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the full record of the run
(passes, calls, spans, canary, sizes) goes to perfbench/work/results/.

Options beyond the four above:
    --record   rewrite perfbench/expected/curation_heavy.tsv from this run
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl", "curation_heavy")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_digest():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(env):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "source-digest")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    # -XX:-UsePerfData: no JVM perf file outside the checkout
    env = dict(env, COURSIER_MODE=env.get("COURSIER_MODE", "offline"),
               SBT_OPTS=(env.get("SBT_OPTS", "") + " -XX:-UsePerfData").strip())
    print("[perfbench] building harness and graft (sbt compile)", file=sys.stderr)
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(os.path.join(classes, "graftbench", "Main.class")):
        fail(f"build failed (exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def run_group(cmd, timeout, stdout=None, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives this script."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdout=stdout, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    # a SIGTERM from the caller unwinds through run_group, which kills the
    # child process group before this script exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala; run from a graft checkout")
    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home)
    classes, digest = build(env)

    k = min(4, os.cpu_count() or 1)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(HERE, "work", "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")

    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                   os.path.join(home, "jars", "*")]),
           "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", os.path.join(work, "data"), "--out", out,
           "--expected", os.path.join(HERE, "expected")] + (["--record"] if a.record else [])
    env.update(SPARK_GRAFT_CPUS=str(k), SPARK_LOCAL_DIRS=f"{work}/spark-local",
               GRAFTBENCH_COMMIT=commit(), GRAFTBENCH_SOURCE_DIGEST=digest)
    t0 = time.time()
    stdout_path = os.path.join(work, "stdout")
    with open(stdout_path, "w") as so:
        rc = run_group(cmd, timeout=RUN_TIMEOUT_S, stdout=so, cwd=work, env=env)
    lines = [l for l in open(stdout_path).read().splitlines() if l.strip()]
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not lines:
        fail(f"{a.workload} run failed (exit {rc}) after {time.time() - t0:.1f} s")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
