#!/usr/bin/env python3
"""Run one workload of the graft end-to-end benchmark.

    python3 perfbench/run.py --workload api_serve --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt (once per
source state; later runs reuse the build), runs the workload in one JVM
with a private work directory under the checkout, deletes that
directory on exit, and prints as its last stdout line one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0
the metrics are the end_to_end list of BENCHMARK.json, with --trace 1
the per_layer list. The line before it holds everything the run
measured, its checks and its environment.
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
WORKLOADS = ("api_serve", "knn_batch", "curate")
BUILD_TIMEOUT_S = 800
# a run must end within 180 s, or 900 s when it also builds
RUN_DEADLINE_S = 175
BUILD_RUN_DEADLINE_S = 895
# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt uses
# the same list for its forked runs)
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


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout, error or signal,
    kill the whole group and wait for it. Returns (returncode, stdout);
    returncode is None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True,
                            stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, timeout))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_files():
    """Every file the build reads, relative to the checkout root."""
    files = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            files.append(top)
        for d, dirs, names in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += sorted(os.path.relpath(os.path.join(d, n), ROOT)
                            for n in names)
    return files


def source_stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return (classpath, stamp, seconds)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/main/scala/graft)")
    stamp = source_stamp()
    cache = os.path.join(HERE, "target", "perfbench-build.json")
    try:
        with open(cache) as f:
            got = json.load(f)
        if got["stamp"] == stamp and all(
                os.path.exists(p) for p in got["classpath"].split(os.pathsep)):
            return got["classpath"], stamp, 0.0
    except (OSError, ValueError, KeyError):
        pass
    t0 = time.time()
    log = os.path.join(HERE, "target", "perfbench-build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
                           "compile", "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, stdout=out,
                          stderr=subprocess.STDOUT)
    if rc is None:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s, see {log}")
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("".join(x + "\n" for x in lines[-40:]))
        fail(f"build failed (rc {rc}), see {log}")
    classpath = lines[-1]
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath, stamp, time.time() - t0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(args, classpath, stamp, work, out, timeout):
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dperfbench.source={stamp[:16]}",
            f"-Dperfbench.commit={git_commit()}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", out, "--work", work])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    rc, stdout = run_group(cmd, timeout, cwd=work, stdout=subprocess.PIPE,
                           text=True)
    if rc is None:
        fail(f"workload did not finish within {timeout:.0f} s")
    if rc != 0:
        fail(f"workload exited with code {rc}")
    lines = [x for x in stdout.splitlines() if x.strip()]
    if not lines:
        fail("workload printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    # a termination signal unwinds through the finally blocks, which
    # kill the child process group and delete the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()

    classpath, stamp, build_s = build()
    deadline = start + (BUILD_RUN_DEADLINE_S if build_s else RUN_DEADLINE_S)
    declared = declared_metrics(args.trace)
    out = os.path.join(HERE, "out")
    work_root = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    try:
        os.makedirs(work)
        res = run_jvm(args, classpath, stamp, work, out, deadline - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass

    measured, gated = res["metrics"], res.get("gated", {})
    metrics, not_exercised = {}, []
    for m in declared:
        got = measured.get(gated.get(m["name"], m["name"]))
        if got is None or got["value"] is None:
            if not args.trace:
                fail(f"end-to-end metric {m['name']} was not measured")
            # a layer this workload never calls did no work
            got = {"value": 0, "unit": m["unit"]}
            not_exercised.append(m["name"])
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} measured in {got['unit']}, declared in {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    res["build_s"] = build_s
    res["not_exercised"] = not_exercised
    print(json.dumps(res, sort_keys=False))
    correct = bool(res["correct"]) and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
