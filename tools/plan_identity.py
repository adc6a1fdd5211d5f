#!/usr/bin/env python3
"""Plan identity of two source trees: every query's optimized plan, compared.

    python3 tools/plan_identity.py <parentDir> <changeDir> [--work DIR]

Each directory is a checkout of the repository (e.g. the parent commit
unpacked with `git archive <commit> | tar -x -C <dir>`, and the working
tree). For each side it compiles `src/main/scala` with tools/PlanDump.scala
the way perfbench/run.py compiles the benchmark (the Scala compiler from
Spark's jars, no sbt), then dumps the optimized plan of all
`graft.SparkEntry.queries` over this repository's perfbench/data/sf0.01.
The parent side is dumped twice: two dumps of the same code must agree
after normalization (the self-check), or the normalization misses a
run-dependent token and the comparison would mean nothing. Then the
parent's dump is diffed against the change's. Prints every hunk; exit
status 0 only when the self-check and the comparison are both clean.
"""
import argparse
import difflib
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # leaves no __pycache__ in perfbench/
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from run import ADD_OPENS, spark_jars  # noqa: E402  the benchmark's compile and JVM settings

SF = os.path.join(ROOT, "perfbench", "data", "sf0.01")

# run-dependent tokens of a plan's text, in the order they are applied
NORMALIZE = [
    (r"#\d+L?", "#N"),                                    # expression ids
    (r"\b(lambda \w+?)_\d+", r"\1_N"),                    # lambda-variable suffixes (global counter)
    (r"\$\$Lambda[^\s,)\]]*", "$$Lambda"),                # closure classes
    (r"@[0-9a-f]{4,}\b", "@H"),                           # identity hashes
    (r"(file:)?/\S*?/tmp/[^\s,\]]*", "TMPPATH"),          # scratch paths
    (r"(spark_catalog\.default\.\w+?)_[0-9a-f]{12}\b", r"\1_ID"),  # per-run bucketed-table names
]


def compile_tree(tree, out, jars):
    """Compiles tree's src/main/scala + PlanDump into out/classes, once per source state."""
    srcs = sorted(glob.glob(os.path.join(tree, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        sys.exit(f"no sources under {tree}/src/main/scala")
    srcs.append(os.path.join(HERE, "PlanDump.scala"))
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes, stamp_file = os.path.join(out, "classes"), os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    scalac_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, n))[0]
        for n in ("scala-compiler-2.13*.jar", "scala-library-2.13*.jar", "scala-reflect-2.13*.jar"))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", scalac_cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.exit(r.stdout[-4000:] + f"\ncompilation of {tree} failed")
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())
    return classes


def dump(tree, classes, out_file, work, jars):
    """Runs PlanDump; returns the normalized dump."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(tree, "src/main/resources"), os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    with open(out_file + ".log", "w") as log:
        r = subprocess.run(["java"] + opens + ["-Xmx2g", f"-Djava.io.tmpdir={tmp}",
                                               "-cp", cp, "PlanDump", SF, out_file],
                           stdout=log, stderr=subprocess.STDOUT, cwd=work)
    if r.returncode != 0:
        sys.exit(f"PlanDump of {tree} failed; log: {out_file}.log")
    text = open(out_file, encoding="utf-8").read()
    for pat, rep in NORMALIZE:
        text = re.sub(pat, rep, text)
    with open(out_file + ".norm", "w", encoding="utf-8") as f:
        f.write(text)
    return text


def diff(a, b, a_name, b_name):
    hunks = list(difflib.unified_diff(a.splitlines(), b.splitlines(), a_name, b_name, lineterm=""))
    print("\n".join(hunks) if hunks else f"{a_name} == {b_name}: identical")
    return not hunks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--work", default=".plan_identity", help="build and dump directory")
    a = ap.parse_args()
    jars = spark_jars()
    work = os.path.abspath(a.work)
    sides = {}
    for name, tree in (("parent", a.parent), ("change", a.change)):
        out = os.path.join(work, name)
        os.makedirs(out, exist_ok=True)
        sides[name] = (os.path.abspath(tree), compile_tree(os.path.abspath(tree), out, jars), out)
    tree, classes, out = sides["parent"]
    parent = dump(tree, classes, os.path.join(out, "plans.txt"), work, jars)
    again = dump(tree, classes, os.path.join(out, "plans-again.txt"), work, jars)
    tree, classes, out = sides["change"]
    change = dump(tree, classes, os.path.join(out, "plans.txt"), work, jars)
    print(f"{parent.count('=== ')} queries; normalized md5 parent {hashlib.md5(parent.encode()).hexdigest()}"
          f", change {hashlib.md5(change.encode()).hexdigest()}")
    ok = diff(parent, again, "parent", "parent-again")
    ok = diff(parent, change, "parent", "change") and ok
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
