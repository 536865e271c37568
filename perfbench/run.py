#!/usr/bin/env python3
"""Medallion CDC benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_batch --seed 1 --seconds 20 --trace 0

The first run builds the library and the benchmark with sbt (the
benchmark's own build in perfbench/ depends on the repository's build);
later runs reuse the build under .bench_build/ until a source or build
file of the library or the benchmark changes. Each run starts one JVM
driver on local[<cores>], sets the workload up, runs it in a closed loop
for --seconds, checks every result against the generator's model and
prints the metrics. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 1 prints the per-layer metrics instead of the end-to-end ones and
writes the spans and Spark job records to .bench_build/traces/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("cdc_batch", "silver_read")
BUILD_TIMEOUT_S = 780
# time a run may take past --seconds (set-up, checks, exit) before it is stopped
RUN_SLACK_S = 150
HISTORY_SLACK_S = 15
DRIVER_HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (JavaModuleOptions).
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


def run_bounded(cmd, cwd, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise


# what the build reads: the library's and the benchmark's sources and build
# definitions (paths relative to the checkout root)
BUILD_INPUTS = ("build.sbt", "project", os.path.join("src", "main"),
                os.path.join("perfbench", "build.sbt"),
                os.path.join("perfbench", "project"),
                os.path.join("perfbench", "src"))
# sbt's own output under an input directory
BUILD_OUTPUTS = {"target", "project"}


def inputs_digest(root):
    """Digest of every build input's path and contents."""
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else []
        for d, dirs, names in os.walk(path):
            # project/project and */target are sbt's, not ours
            dirs[:] = sorted(x for x in dirs if not (
                x in BUILD_OUTPUTS and (x == "target" or
                                        os.path.basename(d) == "project")))
            files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, root).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile library + benchmark; cache the runtime classpath, keyed by
    a digest of the build inputs, so an edited source is always rebuilt."""
    cp_file = os.path.join(work, "classpath.txt")
    digest = inputs_digest(root)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_digest, _, cached_cp = f.read().partition("\n")
        if cached_digest == digest and cached_cp.strip():
            return cached_cp.strip()
    os.makedirs(work, exist_ok=True)
    log_path = os.path.join(work, "build.log")
    with open(log_path, "wb") as log:
        code, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            os.path.join(root, "perfbench"), BUILD_TIMEOUT_S,
            log, subprocess.STDOUT)
    if code != 0:
        fail(f"build failed (exit {code}); see {log_path}")
    with open(log_path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    cp = lines[-1].strip() if lines else ""
    if "perfbench" not in cp:
        fail(f"could not read the runtime classpath; see {log_path}")
    with open(cp_file + ".tmp", "w") as f:
        f.write(digest + "\n" + cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def main():
    # a stopped benchmark stops its build or driver too (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--history", type=int,
                    help="silver_read: micro-batches streamed into its "
                         "silver (default 3; longer by hand shows folds)")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout ({need} not found)")

    bench_build = os.path.join(root, ".bench_build")
    cp = build(root, os.path.join(bench_build, "perfbench"))

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(bench_build, "run", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    logs = os.path.join(bench_build, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{tag}.log")

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cores", str(os.cpu_count() or 1), "--dir", run_dir]
    if args.history is not None:
        cmd += ["--history", str(args.history)]
    if args.trace == "1":
        cmd += ["--trace-out",
                os.path.join(bench_build, "traces", f"{tag}.jsonl")]

    t0 = time.time()
    limit = args.seconds + RUN_SLACK_S
    if args.history is not None:
        # a longer streamed history lengthens set-up, about 5 s a batch
        limit += HISTORY_SLACK_S * args.history
    try:
        with open(log_path, "wb") as log:
            code, out = run_bounded(cmd, root, limit, subprocess.PIPE, log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        fail(f"driver exceeded {limit}s and was stopped; see {log_path}")
    lines = out.decode(errors="replace").splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for ln in lines[:-1] if result else lines:
        print(ln)
    if code != 0 or result is None:
        fail(f"driver exited {code} after {time.time() - t0:.0f}s "
             f"without a result; see {log_path}")
    print(result)


if __name__ == "__main__":
    main()
