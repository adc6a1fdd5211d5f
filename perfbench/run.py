#!/usr/bin/env python3
"""Benchmark of the extraction engine (see perfbench/README.md).

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 15 --trace 0

Run from the repository root. It compiles the program's sources
(src/main/scala) and the benchmark's (perfbench/src) with the Scala
compiler shipped in Spark's jars directory into .bench_build/perfbench,
reusing the classes while no source changes, then runs one JVM and prints
its result object as the last line of stdout.

    python3 perfbench/run.py --make-goldens

re-creates perfbench/goldens/sf0.01.tsv and confirms every golden against
the DuckDB oracles with tools/check_correctness.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BUILD = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
SF = os.path.join("perfbench", "data", "sf0.01")
GOLDENS = os.path.join("perfbench", "goldens", "sf0.01.tsv")
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first spark-submit on the PATH
    that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    die("no Spark jars found: set SPARK_HOME")


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not prog or not os.path.isdir("src/main/resources"):
        die("program sources not found: run from the repository root")
    return prog + bench


def build(jars):
    """Compiles once per source state; the stamp is a hash of every source."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob("src/main/resources/**/*", recursive=True)):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    scalac_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, n))[0]
        for n in ("scala-compiler-2.13*.jar", "scala-library-2.13*.jar", "scala-reflect-2.13*.jar"))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", scalac_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] compiled {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return True


def java_cmd(jars, main, args, heap="3g"):
    # the query functions leave their last temp directories behind at exit
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join([CLASSES, "src/main/resources", os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # fixed heap and generation sizes keep GC behaviour the same run to run
    return (["java"] + opens +
            [f"-Xms{heap}", f"-Xmx{heap}", "-Xmn768m", "-XX:SurvivorRatio=2", "-XX:InitialTenuringThreshold=15",
             "-XX:MaxTenuringThreshold=15", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-cp", cp, main] + args)


def run_jvm(cmd, log_path, timeout):
    """Runs the JVM with stderr to a log file; kills and reaps it on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"timed out after {timeout}s; log: {log_path}", 3)
        except BaseException:
            p.kill()
            p.wait()
            raise
    return p.returncode, out


def make_goldens(jars):
    dump = os.path.join(BUILD, "goldens-dump")
    shutil.rmtree(dump, ignore_errors=True)
    code, _ = run_jvm(java_cmd(jars, "perfbench.MakeGoldens", [SF, dump, GOLDENS]),
                      os.path.join(BUILD, "make-goldens.log"), 3600)
    if code != 0:
        die(f"MakeGoldens failed; log: {os.path.join(BUILD, 'make-goldens.log')}")
    r = subprocess.run([sys.executable, "tools/check_correctness.py", SF, dump])
    sys.exit(r.returncode)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-goldens", action="store_true")
    a = ap.parse_args()
    started = time.time()
    jars = spark_jars()
    sources()
    os.makedirs(BUILD, exist_ok=True)
    if build(jars):
        started = time.time()  # the run's own time limit starts after a build
    if a.make_goldens:
        make_goldens(jars)
    if not a.workload:
        die("--workload is required")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--sf", SF, "--goldens", GOLDENS,
            "--work", os.path.join(BUILD, "work"), "--results", os.path.join(BUILD, "results")]
    timeout = 3600 if a.workload == "queries_all" else max(30, RUN_TIMEOUT_S - (time.time() - started))
    code, out = run_jvm(java_cmd(jars, "perfbench.Main", args), log_path, timeout)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict):
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        die(f"benchmark JVM failed (exit {code}); log: {log_path}", 1)
    for l in lines[:-1]:
        print(l)
    for l in open(log_path):
        if l.startswith("[perfbench]"):
            sys.stderr.write(l)
    print(lines[-1])
    if result.get("correct") is not True:
        die(f"outputs are not correct; raw file under {os.path.join(BUILD, 'results')}, log: {log_path}", 4)


if __name__ == "__main__":
    main()
