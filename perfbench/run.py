#!/usr/bin/env python3
"""Warehouse benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload daily_incremental --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the library (src/main/scala) and
the benchmark's Scala sources with the Scala compiler that ships with
Spark, generates the workload's inputs from the seed, runs one JVM on
local[nproc] and prints the metrics; the last stdout line is the JSON
result. Exits non-zero when any output check fails. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("daily_incremental", "kpi_analytics")
# Input sizes. daily_incremental: (base employees, base finance rows, base
# operations rows, batches, finance rows per day, operations rows per day);
# the batch carries the whole roster, so it merges and rewrites the whole
# employee dimension.
# kpi_analytics: star scale factor (expected_digests.json is recorded for
# it).
SIZES = {"daily_incremental": (50000, 8000, 8000, 1, 300, 200),
         "kpi_analytics": 0.01}
STAR_SEED = 42       # kpi_analytics: fixed data, seed-shuffled order
HEAP = "2g"
RUN_LIMIT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jars bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    j = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not j or not os.path.exists(j):
        fail("no java on PATH")
    return j


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        fail("no library sources under src/main/scala: run from the repository root")
    return lib + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root, jars):
    """Compile library + benchmark into .bench_build/perfbench/classes,
    skipped when the sources are unchanged since the last build."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run([java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-d", classes, "-classpath", cp, "-nowarn", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print("# built in %.1f s" % (time.time() - t0))
    return classes


def generate(workload, seed, data):
    if workload == "daily_incremental":
        base, batches = gen.daily_batches(seed, data, *SIZES[workload])
        return {"base_rows": base["raw_rows"], "batches": len(batches),
                "batch_rows": sum(b["raw_rows"] for b in batches)}
    counts = gen.star(STAR_SEED, data, SIZES[workload])
    with open(os.path.join(data, "counts.json"), "w") as f:
        json.dump(counts, f, sort_keys=True)
    return {"star_seed": STAR_SEED, "sf": SIZES[workload], "rows": sum(counts.values())}


def run_jvm(cmd, log_path, limit_s):
    """Run the JVM; returns (exit code, stdout lines, peak RSS in MB)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        lines = []
        reader = threading.Thread(target=lambda: lines.extend(p.stdout), daemon=True)
        reader.start()
        deadline = time.time() + limit_s
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                _, status, ru = os.wait4(p.pid, 0)
                print("perfbench: run exceeded %d s, killed" % limit_s, file=sys.stderr)
                break
            time.sleep(0.05)
        p.returncode = os.waitstatus_to_exitcode(status)
        reader.join(10)
    return p.returncode, lines, ru.ru_maxrss / 1024.0


def tagged(lines, tag):
    for ln in lines:
        if ln.startswith(tag + " "):
            return json.loads(ln[len(tag) + 1:])
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars()
    classes = build(root, jars)
    work = os.path.join(root, ".bench_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    jvm_work = os.path.join(work, "jvm")
    os.makedirs(os.path.join(jvm_work, "tmp"))
    try:
        t0 = time.time()
        info = generate(a.workload, a.seed, data)
        gen_s = time.time() - t0
        cmd = [java_bin(), "-XX:-UsePerfData", "-Xmx" + HEAP,
               "-Duser.timezone=UTC",
               "-Djava.io.tmpdir=" + os.path.join(jvm_work, "tmp"),
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties")]
        for o in JDK_OPENS:
            cmd += ["--add-opens", o + "=ALL-UNNAMED"]
        cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--work", jvm_work,
                "--expected", os.path.join(HERE, "expected_digests.json")]
        code, lines, rss_mb = run_jvm(cmd, os.path.join(work, "jvm.log"), RUN_LIMIT_S)
        res = tagged(lines, "RESULT")
        if code != 0 or res is None:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail("benchmark JVM exited with code %d and no result" % code, 1)
        env = tagged(lines, "ENV") or {}
        env.update(info, gen_s=round(gen_s, 3), heap=HEAP)
        print("# env " + json.dumps(env, sort_keys=True))
        print("# info " + json.dumps(dict(tagged(lines, "INFO") or {}, peak_rss_mb=rss_mb),
                                     sort_keys=True))
        if a.trace == 0:
            res["metrics"]["setup_s"]["value"] += gen_s
        for name, m in sorted(res["metrics"].items()):
            print("# %-48s %14.6g %s" % (name, m["value"], m["unit"]))
        spans = os.path.join(jvm_work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(root, ".bench_work",
                                            "spans-%s-%d.jsonl" % (a.workload, a.seed)))
        print(json.dumps(res))
        sys.exit(0 if res["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
