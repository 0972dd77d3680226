#!/usr/bin/env python3
"""Build and run the CDC sync / corpus-prep benchmark.

    python3 perfbench/run.py --workload tail_sync --seed 1 --seconds 10 --trace 0

Run it from the repository root. It compiles the library sources
(src/main/scala) together with the benchmark's own (perfbench/src) once
per source tree, caching a jar of the classes under
.bench_build/perfbench/<hash> together with a class-data-sharing archive
recorded from one short tail_sync run, then starts the compiled program
directly on the JVM with Spark's jars (found through SPARK_HOME, or the
spark-submit on PATH). Each run works in its own directory under
.bench_build/perfbench/runs and removes it at the end; the run's spans
are kept under .bench_build/perfbench/traces.

The last line of standard output is the run's JSON result. The exit
code is the program's: 0 when every check passed, 1 when one failed,
2 when it cannot build or run.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not glob.glob(os.path.join(SOURCE_DIRS[0], "**", "*.scala"), recursive=True):
        fail(f"no library sources under {os.path.relpath(SOURCE_DIRS[0], ROOT)}; "
             "run from the repository root")
    return sorted(files)


def build(jars):
    """Compile every source once per source tree into a jar, then record
    a class-data-sharing archive for it; return (jar, archive or None)."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(CACHE, h.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(os.path.join(out, "ok")):
        return jar, archive if os.path.exists(archive) else None
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + args],
                       stdout=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    # the JVM archives classes from jars only, not from directories
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in os.walk(classes):
            for n in names:
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    record_archive(jars, jar, archive, os.path.join(out, "train"))
    open(os.path.join(out, "ok"), "w").close()
    return jar, archive if os.path.exists(archive) else None


def record_archive(jars, jar, archive, train_dir):
    """Record the classes a short tail_sync run loads (Spark's start-up
    among them) into a class-data-sharing archive, which later runs map
    instead of loading those classes from the jars again. Without an
    archive the runs load every class from the jars."""
    os.makedirs(os.path.join(train_dir, "tmp"), exist_ok=True)
    cmd = java_command(jars, jar, None, "perfbench.Main",
                       ["--workload", "tail_sync", "--seed", "0", "--seconds", "1",
                        "--trace", "0", "--dir", train_dir], train_dir)
    cmd.insert(1, "-XX:ArchiveClassesAtExit=" + archive + ".tmp")
    code = supervise(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if code == 0 and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    else:
        print("perfbench: no class-data archive recorded; runs load classes from jars",
              file=sys.stderr)
    shutil.rmtree(train_dir, ignore_errors=True)


def java_command(jars, jar, archive, main, args, run_dir):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    share = ["-XX:SharedArchiveFile=" + archive] if archive else []
    return (["java", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"), "-Xmx3g",
             "-XX:-UsePerfData", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + share + opens +
            ["-cp", jar + os.pathsep + os.path.join(jars, "*"), main] + args)


def supervise(cmd, **popen):
    """Run `cmd` to its end; on SIGTERM/SIGINT stop it (killing it after
    20 s), wait for it, and exit."""
    proc = subprocess.Popen(cmd, **popen)
    stopping = []

    def stop(signum, _frame):
        # only signal here: waiting inside a handler can deadlock with the
        # wait it interrupted
        stopping.append(signum)
        proc.terminate()

    old = [signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)]
    deadline = None
    while True:
        try:
            code = proc.wait(timeout=0.5)
            break
        except subprocess.TimeoutExpired:
            if stopping and deadline is None:
                deadline = time.monotonic() + 20
            if deadline is not None and time.monotonic() > deadline:
                proc.kill()
    if stopping:
        sys.exit(128 + stopping[0])
    signal.signal(signal.SIGTERM, old[0])
    signal.signal(signal.SIGINT, old[1])
    return code


def run_java(main, args, run_dir):
    """Run `main` in `run_dir` (its temp files stay there); return exit code."""
    jars = spark_jars()
    jar, archive = build(jars)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    return supervise(java_command(jars, jar, archive, main, args, run_dir))


def main(argv):
    run_dir = os.path.join(CACHE, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        code = run_java("perfbench.Main", argv + ["--dir", run_dir], run_dir)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            opts = dict(zip(argv[::2], argv[1::2]))
            traces = os.path.join(CACHE, "traces")
            os.makedirs(traces, exist_ok=True)
            name = "{}-seed{}-trace{}.jsonl".format(opts.get("--workload"), opts.get("--seed"),
                                                    opts.get("--trace"))
            shutil.move(spans, os.path.join(traces, name))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
