#!/usr/bin/env python3
"""Repository benchmark: builds the program and the harness from source, then
runs one workload in one JVM and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <crawl_ingest|catalog> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The build (sbt, offline) happens once per
source state; its classpath is cached under .bench_build/. Every run works in
a fresh directory under .bench_build/runs/ and removes it when done. See
perfbench/NOTES.md for what each workload measures.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl_ingest", "catalog")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 780  # the first run, which builds, within 900 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, cwd, env, limit):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        return None, out, err
    return p.returncode, out, err


def build():
    """Compile program and harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("no program sources under src/main: run from the repository root")
    key = stamp()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building (sbt compile) ...")
    t0 = time.time()
    code, out, err = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        HERE, env, BUILD_LIMIT_S)
    if code != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit(f"build failed (exit {code})")
    lines = [l.strip() for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build printed no classpath")
    log(f"built in {time.time() - t0:.1f} s")
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", help="write this commit's expected results into DIR")
    a = ap.parse_args()

    classpath = build()
    t0 = time.time()
    # runs never overlap: whatever an earlier, killed run left goes now
    shutil.rmtree(os.path.join(BUILD, "runs"), ignore_errors=True)
    run_dir = os.path.join(BUILD, "runs", str(os.getpid()))
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", run_dir, "--cache", os.path.join(BUILD, "cache")])
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    try:
        code, out, err = run_group(cmd, ROOT, env, RUN_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stderr.write(err[-20000:] if code != 0 else "".join(
        l + "\n" for l in err.splitlines() if "[perfbench]" in l))
    if code is None:
        raise SystemExit(f"run exceeded {RUN_LIMIT_S} s and was killed")
    lines = out.splitlines()
    result = lines[-1] if lines else ""
    for l in lines[:-1]:
        print(l)
    if code != 0 or (not a.record and not valid_result(result)):
        if result:
            print(result, file=sys.stderr)
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    log(f"run took {time.time() - t0:.1f} s")
    print(result, flush=True)


if __name__ == "__main__":
    main()
