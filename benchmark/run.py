#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 benchmark/run.py --workload recordings --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the program and
the harness with sbt and keeps the classpath in benchmark/.build; each run
then starts one fresh JVM. The query workloads read the testdata under
$SPARK_GRAFT_SF_DIR, by default where graft.Bench reads it. See README.md.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
# the testdata location graft.Bench defaults to (TESTDATA.md)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HEAP = "2g"
WORKLOADS = ("recordings", "query_mix")
# Spark 4 on JDK 17 outside spark-submit needs these, as in the program's build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program and harness unless the sources are unchanged; returns the classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's scratch files go under .build rather than /tmp
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
         "export harness/Runtime/fullClasspath"],
        timeout=850, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (sbt exit {rc})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected.tsv from one run of every query of query_mix")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit(f"no program sources under {ROOT}: run from the root of a full checkout")
    if a.workload != "recordings" and not os.path.isdir(SF_DIR):
        raise SystemExit(f"testdata not found at {SF_DIR} (set SPARK_GRAFT_SF_DIR)")

    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # no hsperfdata file: the JVM would write it under /tmp, outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-cp", cp, "graftbench.Main",
              "--workload", a.workload or "", "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", WORK, "--sf", SF_DIR,
              "--expected", os.path.join(HERE, "expected.tsv")]
           + (["--record", os.path.join(HERE, "expected.tsv")] if a.record else []))
    t = time.time()
    try:
        rc, out = run_group(cmd, timeout=900 if a.record else 170, cwd=WORK, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit("benchmark JVM timed out")
    log(f"jvm {time.time() - t:.2f} s")
    lines = out.strip().splitlines()
    if a.record and rc == 0:
        return
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result: {lines[-1]}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
