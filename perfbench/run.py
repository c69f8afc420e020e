#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark harness from
source, runs one workload, and prints one JSON result line.

  python3 perfbench/run.py --workload survey_dem --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --self-test
  python3 perfbench/run.py --build-manifest DUMP_DIR

The last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer metrics
with --trace 1. The full run record (machine, steal, versions, commit,
failed checks) goes to perfbench/out/runs/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
WORKLOADS = ["survey_dem", "survey_las", "query_mix"]
RUN_TIMEOUT_S = 170
# fixed-size heap: a heap that grows on demand makes VmHWM depend on GC timing
HEAP = "3g"

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


def spark_jars():
    for d in (os.environ.get("SPARK_JARS"),
              os.path.join(os.environ.get("SPARK_HOME", ""), "jars"),
              "/opt/spark/jars"):
        if d and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    fail("no Spark jars found (set SPARK_JARS or SPARK_HOME)")


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources missing under {ENGINE_SRC}")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    return files + sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))


def build():
    """Compile engine + harness with the Scala compiler Spark ships; the
    classes directory is keyed by a hash of every source file."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, jars
    os.makedirs(base, exist_ok=True)
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", cp] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes, jars


def git_commit():
    if os.path.isdir(os.path.join(REPO, ".git")):
        try:
            return subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                                  text=True, timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    return os.environ.get("GIT_COMMIT", "unknown")


def jvm(args, timeout=RUN_TIMEOUT_S):
    """Run perfbench.Main; return its parsed result (None for a manifest build)."""
    classes, jars = build()
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    work = os.path.join(OUT, f"jvm-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            "--out", work,
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--manifest", os.path.join(BENCH, "manifest.json")] + args
    proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout}s")
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):]) if lines else None


def declared(trace):
    """{metric name: unit} of BENCHMARK.json for the traced or untraced run."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_one(workload, seed, seconds, trace, extra=()):
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)] + list(extra)
    res = jvm(args)
    if res is None:
        fail("benchmark printed no result")
    names = declared(trace)
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    record = dict(res["record"], seed=seed, trace=trace, commit=git_commit(),
                  extra_metrics=sorted(set(res["metrics"]) - set(names)),
                  metrics=res["metrics"], attempted=res["attempted"], failed=res["failed"])
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(runs, f"{stamp}-{workload}-s{seed}-t{trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return {"correct": bool(res["correct"]),
            "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": {n: res["metrics"][n] for n in names}}


def self_test():
    """Smoke-size run of each workload: metric names equal BENCHMARK.json,
    a clean run passes every check, a corrupted manifest entry or expected
    value makes fail_frac > 0."""
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            r = run_one(w, 7, 0, trace, ["--smoke"])
            got = {n: m["unit"] for n, m in r["metrics"].items()}
            if got != declared(trace):
                problems.append(f"{w} trace={trace}: metric names or units differ from "
                                "BENCHMARK.json")
            if r["failed"] != 0:
                problems.append(f"{w} trace={trace}: clean smoke run failed {r['failed']} ops")
        r = run_one(w, 7, 0, 0, ["--smoke", "--corrupt"])
        if r["failed"] == 0:
            problems.append(f"{w}: a corrupted expectation still reads fail_frac = 0")
        print(f"self-test {w}: ok" if not problems else f"self-test {w}: {problems}")
    if problems:
        fail("self-test failed: " + "; ".join(problems))
    print("self-test passed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--build-manifest", metavar="DUMP_DIR")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(REPO, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the repository root")
    if a.self_test:
        return self_test()
    if a.build_manifest:
        jvm(["--build-manifest", os.path.abspath(a.build_manifest)], timeout=1800)
        return
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run_one(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
