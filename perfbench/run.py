#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --seed <n> --selftest

Run from the repository root. The first call compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in Spark's jars ($SPARK_HOME/jars, else build.sbt's
unmanagedBase) into perfbench/.build; later calls reuse it
while the sources are unchanged. Each run then:

  1. generates the workload's inputs and expected results from the seed
     (perfbench.Gen, a JVM without Spark), outside every timed region;
  2. launches one JVM for the workload (perfbench.Main) that brings up the
     session, runs three untimed warm-up passes (set-up time ends with the
     first) and then timed passes for --seconds, checking every pass;
  3. prints one line per metric and, as the last line, one JSON object
     {"correct", "attempted", "failed", "metrics"}; the full result is also
     written to perfbench/results/.

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. --selftest runs one pass and shows
that every check rejects a corrupted copy of the real output.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("sales_nightly", "llm_curation", "stream_ingest")
RUN_LIMIT_S = 170  # a run (after the build) must end within 180 s
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase that
    build.sbt compiles the program against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
    if not m:
        fail("set SPARK_HOME: no Spark jar directory found")
    return m.group(1)


def java(cp, main, args, heap, tmp):
    return (["java", "-Xmx" + heap, "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
             "-Duser.timezone=UTC", "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + ADD_OPENS + ["-cp", cp, main] + [str(a) for a in args])


def build(jars):
    """Compile program + benchmark; reuse the classes while sources are unchanged."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not program:
        fail("no program sources under src/main/scala; run from the repository root")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Scala compiler in " + jars)
    h = hashlib.sha256()
    for f in program + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes, stamp = os.path.join(BUILD, "classes"), os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    tmp = os.path.join(BUILD, "tmp")
    out = os.path.join(BUILD, "classes.new")
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(program + bench))
    cmd = java(os.path.join(jars, "*"), "scala.tools.nsc.Main",
               ["-d", out, "-classpath", os.path.join(jars, "*"), "-nowarn", "@" + argfile],
               "3g", tmp)
    print("perfbench: compiling %d source files" % len(program + bench), file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def run_jvm(cmd, log, timeout):
    """Run `cmd` to completion, killing it if it outlives `timeout`."""
    with open(log, "ab") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    jars = spark_jars()
    classes = build(jars)
    started = time.monotonic()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    inputs, tmp = os.path.join(work, "in"), os.path.join(work, "tmp")
    log = os.path.join(work, "jvm.log")
    for d in (inputs, tmp):
        os.makedirs(d)
    cp = classes + os.pathsep + os.path.join(jars, "*")
    try:
        rc = run_jvm(java(cp, "perfbench.Gen", [a.workload, a.seed, inputs], "2g", tmp), log, 120)
        if rc != 0:
            fail("input generation failed:\n" + tail(log))
        os.makedirs(RESULTS, exist_ok=True)
        result = os.path.join(RESULTS, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace))
        if os.path.exists(result):
            os.remove(result)
        mode = "selftest" if a.selftest else "run"
        launch = time.time_ns()
        rc = run_jvm(java(cp, "perfbench.Main", [mode, a.workload, inputs, work, seconds, a.trace,
                                                  cores, launch, result], HEAP, tmp),
                     log, RUN_LIMIT_S - (time.monotonic() - started))
        if a.selftest:
            sys.stdout.write(tail(log, 40))
            sys.exit(0 if rc == 0 else 1)
        if rc != 0 or not os.path.exists(result):
            fail("workload JVM %s:\n%s" % ("timed out" if rc is None else "exited %s" % rc, tail(log)))
        with open(result) as fh:
            r = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        values = dict(r["layers"])
        values["session.bringup_s"] = r["bringup_s"]
        values["session.warmup_s"] = r["warmup_s"]
        wanted = spec["per_layer"]
    else:
        values = {"setup_s": r["setup_s"], "pass_s": statistics.median(r["pass_s"]),
                  "retained_heap_mb": r["retained_heap_mb"]}
        if r["batch_s"]:
            values["batch_p50_s"] = statistics.median(r["batch_s"])
        wanted = spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    # workloads outside BENCHMARK.json (stream_ingest) print every metric they have
    listed = a.workload in [w["name"] for w in spec["workloads"]]
    names = [m["name"] for m in wanted] if listed else sorted(values)
    suffix_unit = {"s": "s", "mb": "MB"}
    metrics = {n: {"value": values.get(n, 0.0),
                   "unit": units.get(n) or suffix_unit.get(n.rsplit("_", 1)[-1], "count")}
               for n in names}
    r["metrics"] = metrics
    r["cores"] = cores
    r["seed"] = a.seed
    with open(result, "w") as fh:
        json.dump(r, fh, indent=1)

    print("%s seed=%d passes=%d cores=%d trace=%d" % (a.workload, a.seed, len(r["pass_s"]), cores, a.trace))
    for f in r["failures"][:20]:
        print("FAILED " + f)
    for k, m in metrics.items():
        print("  %-24s %14.4f %s" % (k, m["value"], m["unit"]))
    print("  %-24s %14d checks (%d failed)" % ("attempted", r["attempted"], r["failed"]))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
