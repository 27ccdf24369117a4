#!/usr/bin/env python3
"""Lake benchmark runner.

Run from the root of a checkout:

    python3 lakebench/run.py --workload lake_serve --seed 1 --seconds 20 --trace 0
    python3 lakebench/run.py --self-test            # the benchmark's own tests

The first run in a checkout compiles the program (src/main/scala) and the
harness (lakebench/src, lakebench/test) into two jars with the Scala
compiler that ships in $SPARK_HOME/jars, then records a class-data-sharing
archive of the classes a run loads; later runs reuse jars and archive
while the sources are unchanged. The harness then runs in one JVM, and this script prints its
output, the result JSON last. Everything the run writes stays under
.bench_build/ in the checkout.

Exits non-zero, printing no result, when the program sources or Spark are
missing, the build fails, the harness fails or it overruns its time limit.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
RUN_LIMIT_S = 175
SELF_TEST_LIMIT_S = 900
BUILD_LIMIT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_sources(base, *subdirs):
    return sorted(f for d in subdirs
                  for f in glob.glob(os.path.join(base, d, "**", "*.scala"), recursive=True))


def digest_of(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("SPARK_HOME must name a Spark 4 installation (its jars/ holds the "
             "Spark and Scala jars the program compiles and runs against)")
    return jars


def run_limited(cmd, limit, stdout, stderr, env=None):
    """Runs cmd in its own process group; kills the group on overrun and
    waits for it. Returns the exit code, or None on overrun."""
    p = subprocess.Popen(cmd, stdout=stdout, stderr=stderr, env=env, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def compile_jar(name, srcs, resources, classpath, digest, compiler):
    """Compiles `srcs` (plus the files under `resources`) into
    .bench_build/<name>.jar unless its stamp shows the same digest."""
    jar = os.path.join(OUT, name + ".jar")
    stamp = os.path.join(OUT, name + ".stamp")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == digest:
        return jar
    os.makedirs(OUT, exist_ok=True)
    classes = os.path.join(OUT, name + "-classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, name + "-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(OUT, name + "-build.log")
    print(f"lakebench: compiling {name}", file=sys.stderr, flush=True)
    with open(log, "w") as out:
        rc = run_limited(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                          "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                          "-classpath", os.pathsep.join(classpath), "@" + argfile],
                         BUILD_LIMIT_S, out, subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build of {name} failed ({'timed out' if rc is None else 'exit ' + str(rc)}); "
             f"log: {log}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for base, files in ((classes, glob.glob(os.path.join(classes, "**", "*"), recursive=True)),
                            (resources, resource_files(resources))):
            for f in sorted(files):
                if os.path.isfile(f):
                    z.write(f, os.path.relpath(f, base))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar


def resource_files(resources):
    if not resources:
        return []
    return sorted(f for f in glob.glob(os.path.join(resources, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def build(jars):
    """Compiles the program (src/main/scala, with src/main/resources) into
    one jar and the harness (lakebench/src, lakebench/test) into another,
    each only when its sources changed. Returns the classpath."""
    program = tree_sources(ROOT, os.path.join("src", "main", "scala"))
    harness = tree_sources(BENCH, "src", "test")
    if not program:
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a checkout")
    if not harness:
        fail(f"no harness sources under {BENCH}")
    compiler = [glob.glob(os.path.join(jars, f"scala-{part}-2.13*.jar"))
                for part in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail(f"no Scala 2.13 compiler jars in {jars}")
    compiler = [c[0] for c in compiler]
    resources = os.path.join(ROOT, "src", "main", "resources")
    spark = os.path.join(jars, "*")
    program_digest = digest_of(program + resource_files(resources),
                               " ".join(os.path.basename(c) for c in compiler))
    program_jar = compile_jar("program", program, resources, [spark], program_digest, compiler)
    harness_digest = digest_of(harness, program_digest)
    harness_jar = compile_jar("harness", harness, None, [program_jar, spark], harness_digest,
                              compiler)
    classpath = [harness_jar, program_jar, spark]
    archive = os.path.join(OUT, f"cds-{harness_digest}.jsa")
    if not os.path.exists(archive):
        record_archive(classpath, archive)
    return classpath, ["-XX:SharedArchiveFile=" + archive, "-Xshare:on"]


def record_archive(classpath, archive):
    """A tiny untimed run records the classes a run loads into a
    class-data-sharing archive. Every later JVM maps it with -Xshare:on,
    so each starts the same way (one that cannot map it fails); it takes
    about 5 s of class loading off each run on a 4-core host."""
    for old in glob.glob(os.path.join(OUT, "cds-*.jsa*")):
        os.remove(old)
    print("lakebench: recording the class-data-sharing archive", file=sys.stderr, flush=True)
    work = os.path.join(OUT, "cds-run")
    partial = archive + ".tmp"
    rc, _ = java(classpath, ["-XX:ArchiveClassesAtExit=" + partial], "lakebench.Main",
                 ["--workload", "lake_churn", "--seed", "0", "--seconds", "1", "--trace", "0",
                  "--tiny", "1", "--work-dir", work], work)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(partial):
        fail(f"recording the class-data-sharing archive failed; log: {work}.log")
    os.replace(partial, archive)


def java(classpath, share, main, args, work, limit=RUN_LIMIT_S):
    """Runs a harness main in a fresh JVM with the class-data-sharing
    flags `share`; returns (exit code or None, stdout lines)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + share +
           ["-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", os.pathsep.join(classpath),
            main] + args)
    log = work + ".log"
    out_path = work + ".out"
    with open(out_path, "w") as out, open(log, "w") as err:
        rc = run_limited(cmd, limit, out, err)
    lines = open(out_path).read().splitlines()
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
    return rc, lines


def main():
    # a terminated runner takes its JVM down with it (run_limited)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["lake_serve", "lake_churn"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", type=int, choices=[0, 1], default=0,
                    help="shift every expected answer, to show the checks fail")
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    classpath, share = build(spark_jars())
    if a.self_test:
        rc, lines = java(classpath, share, "lakebench.SelfTest",
                         ["--work-dir", os.path.join(OUT, "selftest")],
                         os.path.join(OUT, "selftest"), limit=SELF_TEST_LIMIT_S)
        print("\n".join(lines))
        sys.exit(0 if rc == 0 else 1)

    work = os.path.join(OUT, "run", f"{a.workload}-{a.seed}-{a.trace}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work-dir", work,
            "--corrupt-expected", str(a.corrupt_expected),
            "--spans-dir", os.path.join(OUT, "spans")]
    rc, lines = java(classpath, share, "lakebench.Main", args, work)
    shutil.rmtree(work, ignore_errors=True)
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        fail(f"harness {'timed out' if rc is None else 'exited ' + str(rc)} "
             f"without a result; log: {work}.log")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
