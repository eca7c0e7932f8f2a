#!/usr/bin/env python3
"""Reconciliation-pipeline benchmark.

    python3 reconbench/run.py --workload recon_intraday --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the harness from
source with sbt on first use (or when a source changed), then runs one
benchmark JVM. The harness's report lines start with '#'; the last line
of standard output is the JSON result. See reconbench/README.md.
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
BUILD = os.path.join(HERE, "target", "bench-build")
WORK = os.path.join(HERE, "target", "work")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
# The heap starts small and may grow to a fixed maximum, so the resident
# high-water mark (peak_rss_mb) follows the heap the program touches. The
# serial collector grows the heap by a fixed free-space rule rather than
# by pause-time goals that depend on the host's speed at the moment, so
# that high-water mark is steady from run to run.
HEAP_START, HEAP_MAX = "256m", "2g"
GC = "-XX:+UseSerialGC"

# Sources whose change forces a rebuild: the program's and the harness's.
SOURCE_ROOTS = [
    os.path.join(ROOT, "src", "main"),
    os.path.join(ROOT, "build.sbt"),
    os.path.join(ROOT, "project", "build.properties"),
    os.path.join(HERE, "src", "main"),
    os.path.join(HERE, "build.sbt"),
    os.path.join(HERE, "project", "build.properties"),
]

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (the program's build.sbt sets the same).
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
    print(f"reconbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in SOURCE_ROOTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt starts its own JVM) and wait for it. Returns (returncode, stdout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None


def build():
    """Classpath of the compiled harness + program, rebuilding if stale."""
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f, open(CLASSPATH) as g:
            cp = g.read().strip()
            if f.read().strip() == digest and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        code, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}), log in {log}")
    cp = next((l for l in reversed(lines) if not l.startswith("[") and ".jar" in l), None)
    if cp is None:
        fail(f"build printed no classpath, log in {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft", "recon")):
        fail(f"program sources not found under {ROOT}; run from a full checkout")
    cp = build()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    cmd = ["java", f"-Xms{HEAP_START}", f"-Xmx{HEAP_MAX}", GC, f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "reconbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", WORK]

    log_path = os.path.join(BUILD, "last-run.log")
    started = time.monotonic()
    with open(log_path, "w") as log:
        code, out = run_group(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
    shutil.rmtree(WORK, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s, log in {log_path}")

    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if code != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited {code} after {time.monotonic() - started:.1f} s")
    print(lines[-1])


if __name__ == "__main__":
    main()
