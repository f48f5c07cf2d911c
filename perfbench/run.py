#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Builds the engine (src/main/scala) and the benchmark (perfbench/src) with the
Scala compiler that ships in the Spark distribution, into .bench_build/ of the
checkout, then runs the workload in one JVM on local[4]. The last line of
standard output is the result object; everything the run writes stays under
.bench_build/.

    python3 perfbench/run.py --self-test            # the benchmark's own tests
    python3 perfbench/run.py --record-fingerprints  # rewrite fingerprints.tsv
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
RESULT_MARK = "PERFBENCH_RESULT "
WORKLOADS = ("serve", "mixed", "analytics")
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Jars of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on PATH, else the pyspark package's."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark  # only its bundled jars are used
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if any("scala-compiler" in os.path.basename(j) for j in jars):
            return jars
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {engine}; run from a full checkout")
    found = []
    for base in (engine, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compile engine + benchmark unless the sources are unchanged."""
    srcs = sources()
    os.makedirs(BUILD, exist_ok=True)
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", cp] + srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp,
                        "scala.tools.nsc.Main", "@" + argfile],
                       cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def java_cmd(jars, main, args, tmp):
    """The JVM command line; the Spark jars go on the class path by
    directory wildcard."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
             "-cp", os.pathsep.join([CLASSES, os.path.join(os.path.dirname(jars[0]), "*")]),
             main] + args)


def run_jvm(jars, main, args):
    """Run `main` in a JVM, echo its stdout, and return its exit code and
    the result line's JSON. The JVM's temporary directory (the engine
    leaves scratch files there) is removed when it exits."""
    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.Popen(java_cmd(jars, main, args, tmp), cwd=ROOT,
                            stdout=subprocess.PIPE, text=True)
    result = None
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_MARK):
                result = line[len(RESULT_MARK):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
    finally:
        if proc.poll() is None:  # interrupted: stop the JVM before leaving
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
        proc.stdout.close()
        code = proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return code, result


def main():
    # a SIGTERM unwinds like Ctrl-C, so run_jvm stops its JVM
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.record_fingerprints):
        ap.error("one of --workload, --self-test, --record-fingerprints is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    jars = spark_jars()
    build(jars)
    if a.self_test:
        sys.exit(run_jvm(jars, "perfbench.SelfTest", [])[0])
    if a.record_fingerprints:
        sys.exit(run_jvm(jars, "perfbench.Main", ["record-fingerprints", "0", "0", "0"])[0])
    code, result = run_jvm(jars, "perfbench.Main",
                           [a.workload, str(a.seed), str(a.seconds), str(a.trace)])
    if code != 0 or result is None:
        fail(f"workload {a.workload} exited with code {code} and no result")
    print(result)


if __name__ == "__main__":
    try:
        main()
    except KeyboardInterrupt:
        sys.exit(130)
