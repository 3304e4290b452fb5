#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload read_hot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into perfbench/target; later runs
reuse the build while no source file has changed. Scratch data, logs and
per-run artifacts go to perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("serve", "pipeline_batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

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
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    """Compile program + harness once per source state; return the classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    want = stamp()
    cp_file = os.path.join(bdir, "classpath")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(bdir, "sbt.log")
    with open(log, "wb") as fh:
        code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                               "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                              cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL)
    with open(log, errors="replace") as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    cp = lines[-1] if lines else ""
    if code != 0 or "classes" not in cp or cp.startswith("["):
        fail("build failed, see " + log)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def main():
    # a terminated run still stops its build or JVM (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found beside " + BENCH)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    artifact = os.path.join(out_dir, tag + ".json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--artifact", artifact])
    log = os.path.join(out_dir, tag + ".log")
    with open(log, "wb") as err:
        try:
            code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail("run exceeded %d s, see %s" % (RUN_TIMEOUT_S, log))
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.decode("utf-8", "replace").splitlines() if ln.strip()]
    if code != 0 or not lines:
        fail("run failed (exit %s), see %s" % (code, log))
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"} or res["attempted"] < 1:
        fail("malformed result line: " + lines[-1])
    print(json.dumps(res))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
