#!/usr/bin/env python3
"""Run one workload of the lakehouse benchmark.

    python3 lakebench/run.py --workload nightly_refresh --seed 7 --seconds 10 --trace 0

The harness is an sbt build in this directory that compiles the engine's
sources from the enclosing checkout together with the harness code. The
first run in a checkout builds it (and again whenever a source changes);
every run then starts one JVM directly from the recorded classpath. The
last line of standard output is the result JSON; earlier lines carry the
run's configuration and a readable report.

A run with --trace 1 reports per-layer metrics and the tracing overhead
against the median op latency of this checkout's untraced runs of the
same workload; when there is none yet it makes one first.

Everything the benchmark writes stays under lakebench/.work and the sbt
target directories, inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("nightly_refresh", "bi_dashboard", "trickle_dml")
ENGINE_SOURCES = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170  # for all benchmark JVMs of one command, after the build
HEAP = "3g"
FAILURE = "lakebench failure: "  # how Main starts the header of a failed run
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """SHA-256 over every input of the build, in a fixed order."""
    h = hashlib.sha256()
    roots = [ENGINE_SOURCES, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def build(digest):
    """Compile the harness and the engine with sbt, offline, and record the
    runtime classpath."""
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env["LAKEBENCH_SPARK_JARS"] = spark_jars()
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # sbt's per-user state (compiled bridges, server socket) in the checkout
    opts += f" -Dsbt.global.base={os.path.join(WORK, 'sbt-global')} -Dsbt.server.autostart=false"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        print("\n".join(p.stdout.splitlines()[-40:]), file=sys.stderr)
        fail(f"build failed with exit code {p.returncode}")
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"lakebench build: {time.time() - t0:.1f} s", file=sys.stderr)


def ensure_built():
    if not os.path.isdir(os.path.join(ENGINE_SOURCES, "scala", "graft")):
        fail("engine sources not found next to the benchmark: run from a full checkout")
    digest = source_digest()
    current = open(STAMP).read().strip() if os.path.exists(STAMP) else None
    if current != digest or not os.path.exists(CLASSPATH):
        build(digest)
    return digest


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found: set JAVA_HOME or put java on PATH")
    return exe


def run_jvm(workload, seed, seconds, trace, extra, deadline):
    """One benchmark JVM, killed at `deadline`; returns the parsed result line."""
    run_dir = os.path.join(WORK, f"run-{workload}-{seed}-{trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = os.pathsep.join(l.strip() for l in f if l.strip())
    cmd = [java()] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "lakebench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", run_dir,
        "--commit", commit()] + extra
    log_path = os.path.join(WORK, "logs", f"{workload}-{seed}-{trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s; log: {log_path}")
    spans = [f for f in os.listdir(run_dir) if f.startswith("spans-")] if os.path.isdir(run_dir) else []
    for f in spans:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.move(os.path.join(run_dir, f), os.path.join(WORK, "traces", f))
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            err = f.read().splitlines()
        # the exception header first, then the frames that follow it
        first = next((i for i, l in enumerate(err) if l.startswith(FAILURE)), max(0, len(err) - 30))
        print("\n".join(err[first:first + 30]), file=sys.stderr)
        fail(f"{workload} exited with code {proc.returncode}; log: {log_path}")
    return json.loads(lines[-1])


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def untraced_reference(args, history):
    path = os.path.join(WORK, f"untraced-{args.workload}.json")
    vals = json.load(open(path)) if os.path.exists(path) else []
    if history is not None:
        vals = (vals + [history])[-10:]
        with open(path, "w") as f:
            json.dump(vals, f)
    return statistics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    digest = ensure_built()
    deadline = time.time() + RUN_TIMEOUT_S
    print(f"lakebench engine_sources_sha256 {digest}")
    extra = []
    if args.trace == 1:
        ref = untraced_reference(args, None)
        if ref is None:
            first = run_jvm(args.workload, args.seed, args.seconds, 0, [], deadline)
            ref = untraced_reference(args, first["metrics"]["op_p50_ms"]["value"])
        extra = ["--untraced-op-p50", repr(ref)]
    result = run_jvm(args.workload, args.seed, args.seconds, args.trace, extra, deadline)
    want = declared("per_layer" if args.trace else "end_to_end")
    missing = [m for m in want if m not in result["metrics"]]
    if missing:
        fail(f"result lacks declared metrics: {', '.join(missing)}")
    result["metrics"] = {m: result["metrics"][m] for m in want}
    if args.trace == 0:
        untraced_reference(args, result["metrics"]["op_p50_ms"]["value"])
    print(json.dumps(result))
    sys.exit(0 if result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
