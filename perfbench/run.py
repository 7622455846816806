#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload stream_async --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the repo's sources plus
the harness under perfbench/src with sbt (perfbench/build.sbt); later runs
reuse the build until a source file changes. The benchmark JVM is launched
directly from the exported classpath, writes a result file, and this script
checks it and prints one JSON line: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics of BENCHMARK.json when --trace 0 and
its per-layer metrics when --trace 1. The full result (diagnostics, span
self-times, per-layer values of untraced runs) stays in .perfbench/results/.
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
WORK = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170  # one run must end within 180 s; the first also builds
BUILD_LIMIT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every build input: the repo's main sources and the harness."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(deadline):
    """Build once per source state; return the runtime classpath."""
    build = os.path.join(WORK, "build")
    cp_file, fp_file = os.path.join(build, "classpath.txt"), os.path.join(build, "fingerprint")
    fp = source_fingerprint()
    if os.path.isfile(cp_file) and os.path.isfile(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(build, exist_ok=True)
    log_path = os.path.join(build, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Compile/fullClasspathAsJars"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=max(1, deadline - time.time()))
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        with open(log_path, "a") as log:
            log.write(proc.stdout)
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp


def run_jvm(cp, args, settings, scratch, out, spans, log_path, deadline):
    # a fixed, pre-touched heap: peak RSS then moves with what the program
    # holds outside the heap (threads, code, metaspace, direct buffers), not
    # with how far the collector happened to touch the heap in a short run
    heap = settings["jvm_heap"]
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={scratch}/tmp",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--settings", os.path.join(HERE, "settings.json"),
            "--scratch", scratch, "--out", out, "--spans", spans]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"stopped by signal {signum}")

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded its time limit; see {log_path}")
    if rc != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited {rc}; see {log_path}\n{tail}")


def contract_line(result, bench, settings, trace):
    """The result line: exactly BENCHMARK.json's end-to-end (or per-layer)
    metrics, each with its unit. A per-layer metric of a layer the workload
    does not run (settings' absent_layers) reads 0; any other gap is an error.
    """
    absent = settings["workloads"][result["workload"]]["absent_layers"]
    values = result["layer"] if trace else result["e2e"]
    metrics = {}
    for m in bench["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name in values:
            v = values[name]
        elif trace and any(name.startswith(p) for p in absent):
            v = 0.0
        else:
            fail(f"workload {result['workload']} reported no value for {name}")
        metrics[name] = {"value": v, "unit": m["unit"]}
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the repository sources (src/main/scala/graft) are missing; nothing to benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    if args.workload not in settings["workloads"]:
        fail(f"unknown workload {args.workload}")

    cp = classpath(t0 + BUILD_LIMIT_S)
    results = os.path.join(WORK, "results")
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    try:
        run_jvm(cp, args, settings, scratch, out,
                os.path.join(results, f"{args.workload}.spans.jsonl.gz"),
                os.path.join(results, f"{tag}.log"), time.time() + RUN_LIMIT_S)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(out) as f:
        result = json.load(f)
    line = contract_line(result, bench, settings, args.trace)
    gap = result["layer"].get("trigger.phase_gap_frac", 0.0)
    if args.trace and gap > settings["phase_gap_tolerance"]:
        fail(f"trigger phases leave {gap:.3f} of trigger wall time unexplained "
             f"(tolerance {settings['phase_gap_tolerance']})")
    print(json.dumps(line))
    if not line["correct"]:
        print("perfbench: output check failed: " + "; ".join(result["mismatches"]), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
