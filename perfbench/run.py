#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload gtfs_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark (perfbench/src) with the
Scala compiler shipped in Spark's jars; later runs reuse the classes
while the sources are unchanged. Everything the run writes goes under
.bench_build/ in the checkout. The last line of standard output is the
result as one JSON object; the lines before it give every metric with
its unit, the sample counts and the host.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175
# what the JVM leaves for stopping Spark and exiting before the deadline
JVM_MARGIN_S = 15
WORKLOADS = ("gtfs_small", "curation")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return jars


def compile_into(name, sources, classpath):
    """Compiles `sources` once per content hash; returns the class dir."""
    h = hashlib.sha256()
    for p in sources + classpath:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, f"{name}-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for stale in glob.glob(os.path.join(BUILD, f"{name}-*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, f"{name}-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath[-1],
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
                        "-classpath", os.pathsep.join(classpath), "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail(f"compiling {name} failed")
    open(os.path.join(out, ".ok"), "w").close()
    print(f"perfbench: compiled {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def build(jars):
    """The program's classes, then the benchmark's compiled against them."""
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        fail(f"program sources not found under {os.path.join(ROOT, 'src/main/scala')}")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    jarglob = os.path.join(jars, "*")
    prog_classes = compile_into("program", prog, [jarglob])
    bench_classes = compile_into("bench", bench, [prog_classes, jarglob])
    return [bench_classes, prog_classes, jarglob]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", type=int, default=0,
                    help="fail the check of every N-th pass (to see failures counted)")
    a = ap.parse_args()
    jars = spark_jars()
    classpath = build(jars)
    t0 = time.time()  # the deadline leaves the build out
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    result = os.path.join(run_dir, "result.txt")
    log = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    # C1 only: a cold pass spent about half its CPU time in C2 compiles
    # that rarely pay off within one pass; without them a run needs fewer
    # cores, so a busy host slows it less
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-XX:TieredStopAtLevel=1"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--inject-failure", str(a.inject_failure),
            "--deadline", str(DEADLINE_S - JVM_MARGIN_S),
            "--root", ROOT, "--run-dir", run_dir, "--result", result]
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT,
                                 start_new_session=True)
            try:
                code = p.wait(timeout=max(10, DEADLINE_S - (time.time() - t0)))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, 9)
                p.wait()
                fail(f"run exceeded {DEADLINE_S} s; log in {log}")
        if code != 0 or not os.path.exists(result):
            with open(log, errors="replace") as lf:
                sys.stderr.write(lf.read()[-6000:])
            fail(f"benchmark JVM exited with {code}; log in {log}")
        with open(result) as f:
            sys.stdout.write(f.read())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
