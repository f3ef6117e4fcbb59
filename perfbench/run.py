#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload curate_batch --seed 1 --seconds 12 --trace 0

The first run in a checkout compiles the engine and the benchmark with sbt
(offline) and caches the resulting classpath under the build directory
(``$CARGO_TARGET_DIR`` if set, else ``.bench_build``). Later runs reuse it
unless a source or build file changed. The measurement itself runs in one
JVM (``perfbench.Main``); its last stdout line is the result JSON.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("curate_batch", "relational_batch", "crawl_stream")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            dirnames[:] = sorted(d for d in dirnames
                                 if d not in ("target", "project"))
            inputs += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(build_dir):
    """Compile with sbt once per source state; return the classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    log_path = os.path.join(build_dir, "build.log")
    print("[perfbench] building engine + benchmark with sbt", file=sys.stderr)
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"sbt build timed out; see {log_path}")
        log.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"sbt build failed ({proc.returncode}); see {log_path}")
    lines = [l.strip() for l in proc.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail(f"sbt printed no classpath; see {log_path}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/expected.tsv from this run's outputs")
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"no engine sources here (missing {need}); run from a "
                 "full checkout of the repository")

    out_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                                 ".bench_build"))
    cp = build(os.path.join(out_root, "perfbench"))
    work = os.path.join(out_root, "perfbench", "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            *(["--record"] if args.record else []),
            "--work", work, "--data", os.path.join(out_root, "perfbench", "data"),
            "--results", os.path.join(out_root, "perfbench",
                                                      "results")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark exceeded {RUN_TIMEOUT_S} s and was stopped")
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stdout.write(out)
        fail("last output line is not a result object")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
