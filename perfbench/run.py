#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Builds the harness together with graft's sources on first use (cached
under perfbench/target, keyed by a digest of the sources), runs one
workload in a fresh JVM with all state under perfbench/out/, and prints
the JVM's JSON result as the last line of stdout. Exits non-zero
without a result if the build, the run, or the output check fails to
produce one.
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
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench.stamp")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# a failed op's latency is +Inf; the result line carries plain numbers
NON_FINITE = {"Infinity": 1e308, "-Infinity": -1e308, "NaN": None}

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


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    """Compile with sbt and cache the runtime classpath."""
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=BUILD_LIMIT_S, start_new_session=True)
        out.write(p.stdout)
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        fail(f"build failed (see {os.path.relpath(log, ROOT)})", 3)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)


def classpath():
    stamp = digest()
    cached = open(STAMP).read() if os.path.exists(STAMP) else ""
    if cached != stamp or not os.path.exists(CLASSPATH):
        build(stamp)
    return open(CLASSPATH).read().strip(), stamp


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    t_start = time.time()
    cp, stamp = classpath()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out = os.path.join(HERE, "out", run_id)
    work = os.path.join(out, "work")
    os.makedirs(work, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--commit", f"{commit()}+src:{stamp}"])

    budget = max(30.0, RUN_LIMIT_S - (time.time() - t_start))
    with open(os.path.join(out, "stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {budget:.0f} s (see {os.path.relpath(out, ROOT)}/stderr.log)", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if p.returncode != 0 or not lines:
        fail(f"run failed with code {p.returncode} (see {os.path.relpath(out, ROOT)}/stderr.log)", 5)
    result = json.loads(lines[-1], parse_constant=NON_FINITE.get)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
