#!/usr/bin/env python3
"""Outside-in benchmark of graft's gridded ETL cycle, store reads and
corpus dedup.

    python3 perfbench/run.py --workload grid_etl --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run compiles `src/main/scala`
together with `perfbench/src` into `.bench_build/` (scalac from the Spark
distribution's jars, no network); later runs reuse the build while the
sources are unchanged. The JVM works under `.bench_work/run-<pid>/`, which
is removed afterwards; a traced run leaves its spans, one JSON line each,
in `.bench_work/spans-<workload>.jsonl`. Human-readable lines go to stdout, and
the last stdout line is the one-line JSON summary. Workloads:
grid_etl, corpus_dedup, or `all` (every workload in one
process, reporting each workload's own metric names).
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The JVM gets this long for start, set-up and the fixed work, plus
# --seconds per workload it runs.
RUN_TIMEOUT_BASE_S = 140
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


CHILDREN = []
WORK = []


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        die("Spark jars not found: set SPARK_HOME to a Spark distribution")
    return jars


def start(cmd, **kw):
    proc = subprocess.Popen(cmd, cwd=ROOT, **kw)
    CHILDREN.append(proc)
    return proc


def stop(signum, _frame):
    """Never leaves a compiler or JVM running behind a terminated launcher."""
    for proc in CHILDREN:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    for work in WORK:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(128 + signum)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        die(f"program sources not found under {main}; run from a full checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(jars):
    """Compiles program + benchmark once per source digest."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    base = os.path.join(ROOT, ".bench_build")
    out = os.path.join(base, "perfbench-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "OK")):
        return out
    for old in glob.glob(os.path.join(base, "perfbench-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    proc = start(["java", "-Xss4m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
                  "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile])
    try:
        rc = proc.wait(timeout=800)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("compilation exceeded 800 s")
    if rc != 0:
        die("compilation failed")
    open(os.path.join(out, "OK"), "w").close()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    if a.workload not in ("grid_etl", "corpus_dedup", "all"):
        die(f"unknown workload {a.workload}")
    jars = spark_jars()
    out = build(jars)

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    WORK.append(work)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    timeout = RUN_TIMEOUT_BASE_S + a.seconds * (2 if a.workload == "all" else 1)
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([os.path.join(out, "classes"), os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(work, "data"), "--out", result,
            "--cores", str(len(os.sched_getaffinity(0)))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp)
    try:
        with open(log, "w") as lf:
            proc = start(cmd, stdout=subprocess.PIPE, stderr=lf, text=True, env=env)
            try:
                stdout, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                die(f"run exceeded {timeout:.0f} s")
        sys.stdout.write(stdout)
        if proc.returncode != 0 or not os.path.exists(result):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            die(f"JVM exited with code {proc.returncode}")
        with open(result) as rf:
            summary = rf.read().strip()
        for spans in glob.glob(os.path.join(work, "spans-*.jsonl")):
            shutil.move(spans, os.path.join(ROOT, ".bench_work", os.path.basename(spans)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(summary, flush=True)


if __name__ == "__main__":
    main()
