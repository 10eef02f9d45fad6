#!/usr/bin/env python3
"""CDC pipeline benchmark: build the program from source, run one workload.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1
                             [--cores N]
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --write-benchmark-json

Run it from the root of a checkout. The first run compiles the program
(`src/main/scala`) and the benchmark (`perfbench/src`) with the Scala
compiler that ships in Spark's `jars/` directory into `.bench_build/`;
later runs reuse that build while the sources are unchanged. Each run
prints human-readable metric lines and, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = (os.path.join(HERE, "src"), os.path.join(HERE, "test"))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sub = shutil.which("spark-submit")
    if sub:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(sub))), "jars"))
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    die("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def sources():
    out = []
    for base in (PROGRAM_SRC,) + BENCH_SRC:
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile program + benchmark once per source state; returns the
    classes directory."""
    if not os.path.isdir(PROGRAM_SRC):
        die(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        os.path.join(jars, n) for n in sorted(os.listdir(jars))
        if n.startswith(("scala-compiler", "scala-library", "scala-reflect")))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile],
        cwd=ROOT)
    if r.returncode != 0:
        die("compilation failed")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def run_jvm(main_class, args, cores=None):
    jars = spark_jars()
    classes = build(jars)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = "3g"
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # a fixed-size heap under the throughput collector: its young
        # generation is sized once, so peak RSS tracks the memory the
        # program retains rather than when the collector chose to grow;
        # metaspace starts large enough that class loading never forces a
        # full collection in the middle of a measurement
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
        "-XX:MetaspaceSize=512m", "-Xss4m",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        main_class] + args
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    env.pop("SPARK_CONF_DIR", None)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return code


def write_benchmark_json():
    spec = json.load(open(os.path.join(HERE, "spec.json")))
    out = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": spec["run_seconds"],
        "workloads": [{"name": w["name"], "why": w["why"]} for w in spec["workloads"]],
        "end_to_end": [{k: m[k] for k in ("name", "unit", "better", "bound")}
                       for m in spec["end_to_end"]],
        "per_layer": [{k: m[k] for k in ("name", "unit", "better")}
                      for m in spec["per_layer"]],
    }
    with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
        json.dump(out, fh, indent=2)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-benchmark-json", action="store_true")
    a = ap.parse_args()
    if a.write_benchmark_json:
        write_benchmark_json()
        return 0
    if a.selftest:
        return run_jvm("perfbench.SelfTest", [])
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    if a.workload == "all":  # every workload in turn; non-zero if any failed
        with open(os.path.join(HERE, "spec.json")) as fh:
            names = [w["name"] for w in json.load(fh)["workloads"]]
        codes = []
        for w in names:
            print(f"== {w}", flush=True)
            codes.append(run_jvm("perfbench.Main", [
                "--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(a.cores)]))
        return max(codes)
    return run_jvm("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(a.cores)])


if __name__ == "__main__":
    sys.exit(main())
