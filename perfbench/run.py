#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--scale full|smoke]

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the harness (perfbench/src) into
.bench_build/classes with the Scala compiler that ships with Spark; later
runs reuse the classes while the sources are unchanged. The harness JVM
writes only under .bench_build. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics; the line before it
records the host state (nproc, 1-minute load average before and after)
and the per-call quartiles. Any failure exits non-zero without a result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ("seq-batch", "seq-resume", "curate-text", "cde-tables")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("no Spark jars found; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BenchError("no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return engine + harness


def build():
    """Compile engine + harness unless the classes match the sources."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"), "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("[graftbench] compiling engine + harness", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, cwd=ROOT, timeout=BUILD_TIMEOUT_S)
    if done.returncode != 0:
        raise BenchError(f"compile failed with code {done.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def with_units(values, trace):
    """The harness's metric values, with the units BENCHMARK.json lists.

    Every end-to-end metric must be measured. A per-layer metric the
    workload never measured (a layer it does not call) reports 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    unknown = sorted(set(values) - set(units))
    missing = sorted(set(units) - set(values))
    if unknown or (missing and not trace):
        raise BenchError(f"metrics differ from BENCHMARK.json: {unknown + missing}")
    if any(values[n] is None for n in values):
        raise BenchError("a metric has no value")
    return {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()}


def run(args):
    load_before = os.getloadavg()[0]
    build()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    # The throughput collector runs no concurrent GC threads beside the
    # four task threads; fixed generation sizes keep its GC schedule the
    # same from run to run; soft references are dropped at every GC, so
    # the heap left after a full GC is the strongly reachable set.
    # No perf-data file, which the JVM would otherwise write under /tmp.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn1g", "-Xss4m", "-XX:-UsePerfData", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:SoftRefLRUPolicyMSPerMB=0"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
        "-cp", CLASSES + os.pathsep + spark_jars(),
        "graftbench.Harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale,
    ]
    try:
        done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BenchError(f"harness exceeded {RUN_TIMEOUT_S} s")
    if done.returncode != 0:
        raise BenchError(f"harness exited with code {done.returncode}")
    lines = [l for l in done.stdout.splitlines() if l.strip()]
    if len(lines) < 2:
        raise BenchError("harness printed no result")
    stats, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise BenchError(f"malformed result keys: {sorted(result)}")
    result["metrics"] = with_units(result["metrics"], args.trace)
    host = {"nproc": os.cpu_count(), "load_1m_before": load_before,
            "load_1m_after": os.getloadavg()[0]}
    record = json.dumps({"host": host, "stats": stats}, sort_keys=True)
    with open(os.path.join(BUILD, "results.jsonl"), "a") as f:
        f.write(record + "\n" + json.dumps(result) + "\n")
    print(record)
    print(json.dumps(result), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="full", choices=("full", "smoke"))
    args = ap.parse_args()
    try:
        run(args)
    except (BenchError, OSError, ValueError, subprocess.SubprocessError) as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
