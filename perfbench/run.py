#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the program
(src/main/scala) and the harness (perfbench/src) with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, or the one next to
spark-submit on PATH) into .bench_build/graftbench.jar, then runs every
workload once, unmeasured, to record a class-data-sharing archive
(.bench_build/graftbench.jsa); later runs reuse both while the sources are
unchanged. Each run then launches one JVM directly from that archive,
with a fixed heap and engine shape, and prints as its last line
one JSON object: correct, attempted, failed and the metrics named in
BENCHMARK.json (end-to-end ones with --trace 0, per-layer ones with
--trace 1). Temp inputs and Spark scratch live under .bench_build/run-<pid>
and are deleted at the end of the run; a traced run keeps its spans in
.bench_build/spans/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "graftbench.jar")
CDS_ARCHIVE = os.path.join(BUILD, "graftbench.jsa")
WORKLOADS = ("otf2_load", "trace_ops")
RUN_TIMEOUT_S = 165
TRAIN_TIMEOUT_S = 600

# fixed JVM shape: heap pinned (-Xms = -Xmx), nothing derived from the machine
# compiler threads stay alive, so the CPU the JIT spent can be told apart
# from the program's (see Meter.cpuNs)
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
             "-XX:-UseDynamicNumberOfCompilerThreads",
             "-XX:-UsePerfData"] + [  # no hsperfdata file outside the checkout
    arg for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def build(jars):
    """Compile program + harness into one jar and record the class-data-
    sharing archive the measured JVMs start from, unless the sources are
    unchanged since the last build."""
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not main:
        fail("no program sources under src/main/scala: run from the root of a graft checkout")
    h = hashlib.sha256()
    for path in main + harness + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    for path in (stamp, JAR, CDS_ARCHIVE):
        if os.path.exists(path):
            os.remove(path)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    for srcs, classpath in ((main, cp), (harness, cp + os.pathsep + CLASSES)):
        r = subprocess.run([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-classpath", classpath, "-d", CLASSES] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
    # class-data sharing archives classes from jars only, not directories
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for name in sorted(files):
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, CLASSES))
    shutil.rmtree(CLASSES)
    # one unmeasured JVM runs every workload once and writes at exit the
    # classes it loaded; measured JVMs map them instead of loading and
    # verifying them again (~4 s less JVM and Spark start-up per run)
    work = os.path.join(BUILD, f"train-{os.getpid()}")
    try:
        launch(jars, work, ["--workload", "train", "--work", work, "--out", os.path.join(work, "out")],
               TRAIN_TIMEOUT_S, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(CDS_ARCHIVE):
        fail("the class-data-sharing archive was not written")
    with open(stamp, "w") as f:
        f.write(digest)


def launch(jars, work, args, timeout, cds=None):
    """Runs the harness in one JVM; by default it starts from the build's
    class-data-sharing archive (-Xshare:on: a JVM that cannot map it
    fails instead of running slower)."""
    if cds is None:
        cds = ["-Xshare:on", f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java()] + JVM_FLAGS + cds + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.path.join(jars, "*") + os.pathsep + JAR,
        "graftbench.Main"] + args
    with open(os.path.join(work, "stderr.log"), "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {timeout} s")
    with open(os.path.join(work, "stderr.log")) as f:
        log = f.read()
    if r.returncode != 0:
        sys.stderr.write(log[-4000:])
        fail(f"harness exited with {r.returncode}")
    sys.stderr.write("".join(l + "\n" for l in log.splitlines() if l.startswith("[perfbench]")))
    return r.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the root of the checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.seconds is None:
        a.seconds = spec["run_seconds"]

    jars = spark_jars()
    build(jars)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    out = os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.selftest:
            sys.stdout.write(launch(jars, work, ["--workload", "selftest"], RUN_TIMEOUT_S))
            return
        stdout = launch(jars, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out], RUN_TIMEOUT_S)
        lines = [l for l in stdout.splitlines() if l.startswith("RESULT ")]
        if not lines:
            fail("harness printed no result")
        res = json.loads(lines[-1][len("RESULT "):])
        attempted, failed = res["attempted"], res["failed"]
        if a.trace:
            spans_dir = os.path.join(BUILD, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.json"))
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        got = res["metrics"]
        if not a.trace and any(m["name"] not in got for m in wanted):
            fail("harness did not report every end-to-end metric")
        # a layer the workload never calls did no work on it: 0
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
        # a failed check counts as a failed operation: correct only when none failed
        print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
