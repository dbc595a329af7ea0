#!/usr/bin/env python3
"""Replication-task benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--cores <n>]

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt (once per source state; the classpath is cached under
$CARGO_TARGET_DIR, default .bench_build), then runs one workload in one JVM
and passes its output through. The last stdout line is the JSON result; any
failure exits nonzero without it. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(build_dir):
    """Compile with sbt when the sources changed; return the run classpath."""
    stamp = os.path.join(build_dir, "classpath.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fp:
                with open(cp_file) as f:
                    return f.read().strip()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        stdin=subprocess.DEVNULL)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"sbt build failed ({proc.returncode})")
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if ".jar" in l and ":" in l), None)
    if cp is None:
        sys.stderr.write(proc.stdout)
        raise SystemExit("sbt did not print a classpath")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"build done in {time.time() - t0:.0f}s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--cores", type=int, default=None)
    a = ap.parse_args()

    # the engine is built from the checkout this directory sits in
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources next to {HERE}: expected build.sbt and "
            "src/main/scala in the checkout root")
        return 2

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                                  ".bench_build"))
    cp = classpath(build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = a.cores or len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dlog4j2.configurationFile="
           + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Bench", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--work", work]
    # Spark's scratch space stays inside the work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, env=env,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S}s")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("".join(l + "\n" for l in lines if not l.startswith("{")))
        log(f"run failed (exit {proc.returncode})")
        return proc.returncode or 1
    sys.stdout.write("".join(l + "\n" for l in lines))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
