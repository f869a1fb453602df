#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload corpus|curate|feed|all --seed N \
        --seconds S --trace 0|1

Run from the root of the checkout. The first run builds the program and the
harness with sbt (offline) into the checkout and caches the resulting
classpath under .bench_build/; later runs start the JVM directly. The build
is redone whenever a source or build file changes.

The JVM prints `metric ...` lines for readers and, as its last line, one JSON
object with the keys correct, attempted, failed and metrics; this script
relays them and exits with the JVM's exit code. Spark's own log goes to
.bench_build/logs/. Uses only the Python standard library.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BUILD = ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("corpus", "curate", "feed")

# Spark 4.x on JDK 17 outside spark-submit (same list as both build.sbt files)
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout} s: {cmd[0]}")
    return p.returncode, out


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src/main"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    # keep the build JVM's temporary files inside the checkout
    env["SBT_OPTS"] += " -XX:-UsePerfData -Djava.io.tmpdir=" + os.path.abspath(
        os.path.join(BUILD, "tmp"))
    log = os.path.join(BUILD, "logs", "build.log")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd="perfbench", env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    with open(log, "w") as f:
        f.write(out)
    cps = [l for l in out.splitlines() if l and not l.startswith("[") and ":" in l]
    if code != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_workload(cp, args, workload):
    """Run one workload in its own JVM; return its exit code and its result
    line, parsed and as printed (or None)."""
    log = os.path.join(BUILD, "logs", f"{workload}-seed{args.seed}-trace{args.trace}.log")
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
           "-Dspark.local.dir=" + os.path.join(BUILD, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(BUILD, "warehouse"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace)]
    with open(log, "w") as err:
        code, out = run_group(cmd, RUN_TIMEOUT_S, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=err, text=True)
    lines = out.rstrip("\n").splitlines()
    result = None
    if lines:
        try:
            result = (json.loads(lines[-1]), lines[-1])
            lines = lines[:-1]
        except ValueError:
            pass
    for l in lines:
        print(l)
    if code != 0 or result is None:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: {workload} exited {code}; Spark log in {log}", file=sys.stderr)
    return code, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a checkout of the program (no build.sbt / src/main/scala/graft here)")
    for d in ("logs", "tmp", "spark-local", "warehouse", "work"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cp = classpath()

    if args.workload != "all":
        code, result = run_workload(cp, args, args.workload)
        if result is None:
            sys.exit(code or 1)
        print(result[1])
        sys.exit(code)

    # every workload in turn; the last line merges their results
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        code, result = run_workload(cp, args, w)
        worst = worst or code
        if result is None:
            sys.exit(code or 1)
        result = result[0]
        merged["correct"] &= result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            merged["metrics"][f"{w}.{k}"] = v
    print(json.dumps(merged))
    sys.exit(worst)


if __name__ == "__main__":
    main()
