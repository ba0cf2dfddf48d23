#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
program and the harness from source (sbt, offline) and generates the
fixture; later runs start the harness JVM directly from the recorded
classpath. Spark's logs go to files under the build directory, so standard
output carries only the metric lines and, last, the result object.

Workloads: olap_zipf, ingest_cdc (see perfbench/README.md).
Exit status: 0 when every operation succeeded and every checked output was
correct; non-zero otherwise, or when the program's sources are missing.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("olap_zipf", "ingest_cdc")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the program's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(root, paths):
    """sha-256 over the relative names and bytes of every file under
    `paths`, skipping build output."""
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(root, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(full)
            for f in fs if "/target" not in d[len(full):] and "/project/project" not in d[len(full):])
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile program + harness once per source state; returns the
    runtime classpath."""
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    digest = tree_digest(root, ["build.sbt", "project/build.properties", "src/main",
                                os.path.relpath(HARNESS, root)])
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "wb") as lf:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.classpathOut={cp_file}",
             "compile", "writeClasspath"],
            cwd=HARNESS, env=env, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def fixture(out):
    """The generated sf0.1 fixture, made once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    digest = tree_digest(HERE, ["gen_data.py"])
    data = os.path.join(out, "data", digest[:16], "sf0.1")
    if not os.path.isdir(data):
        subprocess.run([sys.executable, gen, data], check=True, stdin=subprocess.DEVNULL,
                       timeout=300)
    return data


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no program source ({need}) here; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("needs sbt and java on PATH")

    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    data = fixture(out)

    start_ms = int(time.time() * 1000)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(out, "work", tag)
    logs = os.path.join(out, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dperfbench.log={os.path.join(logs, tag + '.spark.log')}",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--data", data, "--work", work,
        "--traces", os.path.join(out, "traces"), "--start-ms", str(start_ms)])
    err_log = os.path.join(logs, tag + ".stderr.log")
    try:
        with open(err_log, "wb") as ef:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=ef, stdin=subprocess.DEVNULL,
                               timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {err_log}", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = p.stdout.decode(errors="replace").splitlines()
    with open(err_log, errors="replace") as ef:
        for line in ef:
            if line.startswith("perfbench:"):
                print(line.rstrip(), file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"harness exited {p.returncode} without a result; see {err_log}", p.returncode or 4)
    print("\n".join(lines))
    sys.exit(0 if p.returncode == 0 and result["correct"] else (p.returncode or 1))


if __name__ == "__main__":
    main()
