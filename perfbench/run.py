#!/usr/bin/env python3
"""Run one benchmark workload of the dedupe engine and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest-gear --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark code from source with sbt (offline,
once per source state), launches one JVM with a local Spark session of
SPARK_GRAFT_CPUS cores (default: the CPUs this process may run on), and
prints as its last line one JSON object:

    {"correct": true, "attempted": 21, "failed": 0,
     "metrics": {"write_ms": {"value": 3012.4, "unit": "ms"}, ...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics, and one JSON record per traced operation
goes to .bench_out/<workload>-seed<seed>.jsonl. Scratch files live under
.bench_tmp/ and are removed before exit.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench-build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    pats = [os.path.join(PROGRAM_SRC, "**", "*.scala"),
            os.path.join(HERE, "src", "**", "*.scala")]
    files = sorted(f for p in pats for f in glob.glob(p, recursive=True))
    return files + [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")]


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark unless this source state is built."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building the program and the benchmark with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false", "compile"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                          stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")


def spark_home():
    """SPARK_HOME, or the first spark-submit on PATH that sits next to jars/."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "*.jar")):
            return home
    raise SystemExit("no Spark installation found: set SPARK_HOME")


def classpath():
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    return os.pathsep.join([CLASSES] + jars)


def cores():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def run_jvm(args, tmp, trace_out):
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath(), "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores()), "--tmp", tmp,
    ]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    env = dict(os.environ, GRAFT_SCRATCH_DIR=tmp)
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(PROGRAM_SRC) or not os.path.exists(spec_path):
        log(f"no program sources at {PROGRAM_SRC} (or no BENCHMARK.json): nothing to measure")
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {args.workload}")
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build()
    tmp = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    trace_out = (os.path.join(ROOT, ".bench_out", f"{args.workload}-seed{args.seed}.jsonl")
                 if args.trace else None)
    os.makedirs(tmp)
    try:
        code, out = run_jvm(args, tmp, trace_out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
        else:
            print(line)
    if code != 0 or result is None:
        log(f"benchmark JVM exited {code} without a result")
        return 1
    for p in result["problems"]:
        print(f"[perfbench] PROBLEM {p}")
    got = result["metrics"]
    missing = [m["name"] for m in wanted if got.get(m["name"]) is None]
    extra = sorted(set(got) - {m["name"] for m in wanted})
    if missing or extra:
        log(f"metric set differs from BENCHMARK.json: missing {missing}, extra {extra}")
        return 1
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
