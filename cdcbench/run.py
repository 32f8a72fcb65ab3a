#!/usr/bin/env python3
"""Run one workload of the graft CDC benchmark.

    python3 cdcbench/run.py --workload <trickle_mor|query_suite> \
        --seed <n> --seconds <s> --trace <0|1> [--pin <file>]

Run from the repository root. The first run compiles the engine sources
(src/main) together with the harness in cdcbench/src through
cdcbench/build.sbt; later runs reuse the build while no source changed.
The measurement runs in one JVM (local[4]); its work directory,
cdcbench/work, is emptied before and removed after every run. The last line
of standard output is the result object; the exit code is 0 only when every
output check passed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_stamp():
    """Content hash of everything the build reads from the checkout."""
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


def build():
    """Compile with sbt (offline) unless the stamped build is current;
    returns the runtime classpath."""
    stamp_file = os.path.join(TARGET, "bench.stamp")
    cp_file = os.path.join(TARGET, "bench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env.setdefault("SBT_OPTS", " ".join(sbt_opts))
    os.makedirs(TARGET, exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=800)
    with open(os.path.join(TARGET, "build.log"), "w") as f:
        f.write(out.stdout)
    cps = [l.strip() for l in out.stdout.splitlines()
           if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed (log: cdcbench/target/build.log)")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["trickle_mor", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", help="write the query_suite fingerprints to this file")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found next to cdcbench/")

    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    cmd = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g",
           "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
           "-Dderby.system.home=" + WORK,
           "-Dspark.callstack.depth=200"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK,
            "--data", os.path.join(HERE, "data", "sf0.01")]
    if a.pin:
        cmd += ["--pin", os.path.abspath(a.pin)]
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
