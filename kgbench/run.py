#!/usr/bin/env python3
"""KG build / append / query benchmark.

    python3 kgbench/run.py --workload bulk_build|append_and_read|query_mix|all
                           --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the harness from source
(sbt, into .bench_build/), runs one workload in a fresh JVM at local[nproc]
and prints a report followed by one JSON result line. `--trace 0` reports
the end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones and
writes the run's spans to .bench_build/kgbench-traces/. `--workload all` runs
every workload in turn and prints all of their metrics by name.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
TARGET = BUILD / "kgbench-target"
CLASSES = TARGET / "scala-2.13" / "classes"
STAMP = TARGET / "kgbench.stamp"
WORKLOADS = ["bulk_build", "append_and_read", "query_mix"]
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800

# The module opens Spark needs on JDK 17 outside spark-submit (the same list
# as the library's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [ROOT / "src" / "main" / "scala", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compile library + harness unless the sources are unchanged since the
    last successful build."""
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        fail(f"no library sources at {lib.relative_to(ROOT)}; run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    r = subprocess.run([sbt, "-batch", "compile"], cwd=HERE, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed")
    STAMP.write_text(digest)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("set SPARK_HOME to a Spark installation")
    return home


def heap_size():
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        return mem
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 4)}g"  # half the RAM, 2..4 GiB
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_one(workload, seed, seconds, trace):
    """One workload in a fresh JVM; returns the harness's JSON record."""
    home = spark_home()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = BUILD / "kgbench-work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = BUILD / "kgbench-traces"
    traces.mkdir(parents=True, exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    mem = heap_size()
    cmd = [java, f"-Xms{mem}", f"-Xmx{mem}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{Path(home) / 'jars' / '*'}", "graft.kgbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", str(work), "--cores", str(cores),
            "--spans", str(traces / f"{workload}-seed{seed}.json")]
    env = dict(os.environ, SPARK_HOME=home, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                              timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        fail(f"{workload} exited with code {proc.returncode}")
    return json.loads(lines[-1])


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def select(metrics, names):
    missing = [n for n in names if n not in metrics]
    if missing:
        fail(f"harness did not report {', '.join(missing)}")
    return {n: metrics[n] for n in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bench = spec()
    build()
    names = [m["name"] for m in bench["end_to_end" if a.trace == 0 else "per_layer"]]

    if a.workload != "all":
        rec = run_one(a.workload, a.seed, a.seconds, a.trace == 1)
        metrics = rec["end_to_end"] if a.trace == 0 else rec["layers"]
        print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                          "failed": rec["failed"], "metrics": select(metrics, names)}))
        return

    # every workload, then its named end-to-end metrics side by side
    recs = {w: run_one(w, a.seed, a.seconds, a.trace == 1) for w in WORKLOADS}
    merged = {}
    print("\nmetric                                   workload          value  unit")
    for w, rec in recs.items():
        for name, m in {**rec["end_to_end"], **rec["named"]}.items():
            print(f"{name:40s} {w:16s} {m['value']:14.6g}  {m['unit']}")
            merged[f"{w}.{name}"] = m
        if a.trace == 1:
            merged.update({f"{w}.{k}": v for k, v in rec["layers"].items()})
    print(json.dumps({"correct": all(r["correct"] for r in recs.values()),
                      "attempted": sum(r["attempted"] for r in recs.values()),
                      "failed": sum(r["failed"] for r in recs.values()),
                      "metrics": merged}))


if __name__ == "__main__":
    main()
