#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness together with the
program's sources (sbt, offline, on first use or when a source changed),
runs one workload in one JVM, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list; the traced run also writes its spans to
perfbench/work/<workload>-<seed>-t1/spans-<workload>-<seed>.jsonl.

Workloads: scrape_fanout, series_rate and dedup_blocking.
Test-only options: --size tiny (small inputs), --inject throw_batch|drop_sink_line.
The dedup corpus is generated from `seed mod 32` (its corpus variant); `pin`
mode rewrites the pinned digests of every variant and reports, per variant,
how often the blocking builds' adaptive df cap tightened:
    python3 perfbench/run.py pin --variants 0-31
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
PINS = os.path.join(BENCH, "pins", "dedup_blocking.tsv")
JVM_LIMIT_S = 165
CAP_TIGHTENED = "adaptive df cap tightened"
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, or the installation that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation found (set SPARK_HOME)", 1)
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def sources():
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            yield path
        for d, _, files in sorted(os.walk(path)):
            for f in sorted(files):
                if f.endswith((".scala", ".java")):
                    yield os.path.join(d, f)


def source_stamp():
    h = hashlib.sha256()
    for p in sorted(set(sources())):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(stamp):
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    offline = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
               + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + offline + " -Xmx2g").strip()
    print("perfbench: building harness and program sources", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                           env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if r.returncode != 0:
        fail("build failed", 1)
    with open(STAMP, "w") as f:
        f.write(stamp)


def commit(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "sources-sha256:" + stamp[:16]


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(work, args, limit_s=JVM_LIMIT_S):
    """Runs the harness JVM; returns its exit code. Kills it past `limit_s`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
           "-Duser.language=en", "-Duser.country=US", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jars = os.path.join(spark_home(), "jars", "*")
    cmd += ["-cp", CLASSES + os.pathsep + jars, "perfbench.Main"] + args
    log_file = os.path.join(work, "jvm.log")
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("perfbench: harness exceeded its time limit", file=sys.stderr)
            return 124
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    sys.stdout.write(out)
    if proc.returncode != 0:
        with open(log_file) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
    return proc.returncode


def clean_dirs(work):
    """Deletes generated inputs and outputs; keeps result and span files."""
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


def bench(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["scrape_fanout", "series_rate", "dedup_blocking"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=["normal", "tiny"], default="normal")
    ap.add_argument("--inject", choices=["none", "throw_batch", "drop_sink_line"], default="none")
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    stamp = source_stamp()
    build(stamp)
    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n = cores()
    env = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": os.cpu_count(),
           "cores": n, "load1_before_setup": load1, "commit": commit(stamp)}
    try:
        code = run_jvm(work, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                              "--size", a.size, "--inject", a.inject, "--cores", str(n),
                              "--pins", PINS])
    finally:
        clean_dirs(work)
    result_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_file):
        fail(f"harness failed with exit code {code}", 1)
    with open(result_file) as f:
        res = json.load(f)
    missing = [m for m in want if m not in res["metrics"]]
    if missing:
        fail(f"harness did not report {missing}", 1)
    res["metrics"] = {m: res["metrics"][m] for m in want}
    env.update(res.pop("env", {}))
    if a.workload == "dedup_blocking":
        with open(os.path.join(work, "jvm.log")) as f:
            env["cap_tightened_logs"] = sum(CAP_TIGHTENED in line for line in f)
    print("perfbench env: " + json.dumps(env, sort_keys=True))
    print(json.dumps(res, separators=(",", ":")))


def pin(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--variants", required=True, help="inclusive range, e.g. 0-31")
    a = ap.parse_args(argv)
    lo, hi = (int(x) for x in a.variants.split("-"))
    build(source_stamp())
    work = os.path.join(BENCH, "work", "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    code = run_jvm(work, ["--workload", "dedup_blocking", "--seed", str(lo), "--seconds", "0",
                          "--trace", "0", "--work", work, "--size", "normal", "--inject", "none",
                          "--cores", str(cores()), "--pins", PINS, "--pin-seeds", f"{lo}-{hi}"],
                   limit_s=60 * (hi - lo + 1))
    if code != 0:
        fail("pinning failed", 1)
    tightened = {}
    with open(os.path.join(work, "jvm.log")) as f:
        for line in f:
            if line.startswith("perfbench: pinning variant "):
                v = int(line.split()[-1])
                tightened[v] = 0
            elif CAP_TIGHTENED in line:
                tightened[v] += 1
    os.makedirs(os.path.dirname(PINS), exist_ok=True)
    shutil.copy(os.path.join(work, "pins.tsv"), PINS)
    shutil.rmtree(work, ignore_errors=True)
    print("perfbench: cap tightenings per variant: " + json.dumps(tightened))
    print(f"perfbench: pinned variants {lo}-{hi} into {os.path.relpath(PINS, ROOT)}")


def main():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail("run from the root of a graft checkout (program sources not found)")
    if len(sys.argv) > 1 and sys.argv[1] == "pin":
        pin(sys.argv[2:])
    else:
        bench(sys.argv[1:])


if __name__ == "__main__":
    main()
