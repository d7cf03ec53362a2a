#!/usr/bin/env python3
"""Build graft with the benchmark harness, then run one workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine
(`src/main`) together with `perfbench/` through `perfbench/build.sbt`
(offline, Spark from the image) and caches the classpath under
`.bench_build/`; later runs reuse it until a source file changes. The
workload then runs in one JVM (local[nproc], 2g heap) whose last stdout
line is the result JSON. Exits non-zero without a
result when the build or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("serve", "analytics")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    """Every file the build reads from the checkout, in a stable order."""
    out = []
    for top in ("src/main", "perfbench/src/main", "perfbench/project"):
        base = os.path.join(root, top)
        for d, subdirs, files in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out + [os.path.join(root, "perfbench", "build.sbt")]


def tree_id(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, cwd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None


def build(root, build_dir, ident):
    """Compiles once per source tree; returns the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            tag, cp = f.read().split("\n", 1)
        if tag == ident:
            return cp.strip()
    log("building (sbt, offline) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.pop("SBT_OPTS", None)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true",
           "-Dsbt.global.base=" + os.path.join(build_dir, "sbt-global"),
           "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
           "-J-Xmx2g", "export Runtime/fullClasspath"]
    code, out = run_bounded(cmd, os.path.join(root, "perfbench"), BUILD_TIMEOUT_S, env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, text=True)
    with open(os.path.join(build_dir, "build.log"), "w") as f:
        f.write(out or "timed out\n")
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        log(f"build failed (exit {code}); see {os.path.join(build_dir, 'build.log')}")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(ident + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("perfbench/build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"{need} not found: run from the repository root")
            sys.exit(2)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    ident = tree_id(root)
    cp = build(root, build_dir, ident)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    details = os.path.join(build_dir, "results", tag + ".json")
    os.makedirs(os.path.dirname(details), exist_ok=True)
    # a fixed, pre-touched 2g heap: the inputs need far less, and heap
    # pages faulted in mid-run on a shared host made whole runs slower
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--details", details,
              "--expected", os.path.join(root, "perfbench", "expected", "analytics.json"),
              "--commit", ident])
    try:
        code, out = run_bounded(cmd, work, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
        sys.exit(4)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        log(f"run failed (exit {code})")
        sys.exit(code or 5)
    log(f"details: {details}")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
