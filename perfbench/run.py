#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first call compiles the engine's
sources together with the harness (an sbt build in this directory); later
calls reuse the classes while no source file has changed. Each run gets
its own temporary root under perfbench/out/, which holds the JVM's temp
dir, Spark's local dir, the warehouse, the generated fixtures and the ETL
output, and is deleted when the run ends.

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it carries
the run's detail (per-pass walls, failures, the tail percentile used,
bytes left in the temporary root).
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
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main")
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "bench.classpath")
STAMP_FILE = os.path.join(TARGET, "bench.stamp")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.tsv")
OUT = os.path.join(HERE, "out")
WORKLOADS = ["etl_weather", "stateful"]
RUN_LIMIT_S = 175.0

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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(deadline):
    """Compile if the sources changed; return the runtime classpath and
    whether this call compiled."""
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                with open(CP_FILE) as fh:
                    return fh.read().strip(), False
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.Popen(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    signal.signal(signal.SIGTERM, lambda signum, _f: (stop(proc), sys.exit(128 + signum)))
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out")
    sys.stderr.write(out[-4000:])
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as fh:
        fh.write(cp)
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    return cp, True


def stop(proc):
    """Stop a child and everything it started, and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=10)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    proc.wait()


def tree_bytes(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(d, n)).st_size
            except OSError:
                pass
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.isdir(DATA) or not os.path.exists(EXPECTED):
        fail("benchmark data or expectations missing")
    # the first run of a checkout may spend most of its time compiling
    cp, built = build(start + 840)

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    root = os.path.join(OUT, "run-" + tag)
    shutil.rmtree(root, ignore_errors=True)
    jtmp = os.path.join(root, "jtmp")
    os.makedirs(jtmp)
    os.makedirs(os.path.join(root, "local"))
    log_path = os.path.join(OUT, tag + ".log")
    trace_out = os.path.join(OUT, f"trace-{args.workload}-s{args.seed}.json")

    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", "run",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cores", str(cores), "--data", DATA, "--expected", EXPECTED,
            "--root", root]
    if args.trace == "1":
        cmd += ["--trace-out", trace_out]
        # deeper call sites, so module attribution finds the engine frame
        cmd.insert(1, "-Dspark.callstack.depth=64")

    limit = 890.0 if built else RUN_LIMIT_S
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)

        def on_signal(signum, _frame):
            stop(proc)
            shutil.rmtree(root, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, on_signal)
        signal.signal(signal.SIGINT, on_signal)
        try:
            out, _ = proc.communicate(timeout=max(5.0, limit - (time.time() - start)))
        except subprocess.TimeoutExpired:
            stop(proc)
            shutil.rmtree(root, ignore_errors=True)
            fail(f"run timed out; log: {log_path}")
    left = tree_bytes(root)
    shutil.rmtree(root, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}; log: {log_path}")
    os.remove(log_path)
    detail = json.loads(lines[-2])
    detail["detail"]["tmp_bytes_left_after_cleanup"] = tree_bytes(root) if os.path.exists(root) else 0
    detail["detail"]["tmp_bytes_before_cleanup"] = left
    detail["detail"]["wall_s"] = round(time.time() - start, 3)
    print(json.dumps(detail))
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
