#!/usr/bin/env python3
"""Build the graft classes and the benchmark from source, then run one
workload in its own JVM on local[4].

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). Exits non-zero when an output check
fails, and refuses to start on malformed arguments or on environment
knobs that would change the program's inputs. Everything it writes goes
under `.bench_build/` in the checkout.
"""
import argparse
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline", "curate", "query_mix", "stream")
# Tables.scaleProbe would replicate input rows in-plan, and the subset
# knobs restrict what the queries harness runs: either silently changes
# what is measured.
REFUSED_ENV = ("SPARK_GRAFT_BENCH_SCALE", "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_ONLY")
RUN_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def refuse(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args(argv)
    if a.seed < 0:
        refuse(f"--seed must be >= 0, got {a.seed}")
    if not 1 <= a.seconds <= 120:
        refuse(f"--seconds must be in 1..120, got {a.seconds}")
    return a


def check_env():
    leaked = [k for k in REFUSED_ENV if k in os.environ]
    if leaked:
        refuse(f"refusing to start with {', '.join(leaked)} set: it changes the inputs "
               "or the query set being measured; unset it and rerun")


def spark_jars():
    """Spark's jar directory, as a classpath wildcard: it holds Spark, the
    Scala library and the Scala compiler this build uses."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        refuse("cannot find Spark's jars: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars", "*")


def compile_scala(name, src_dir, classpath):
    """Compile the Scala sources under `src_dir` into .bench_build/<name>,
    with the files under its sibling `resources` dir, unless the same
    inputs were built there already. Returns the class dir."""
    out = os.path.join(BUILD, name)
    sources = glob.glob(os.path.join(ROOT, src_dir, "**/*.scala"), recursive=True)
    res_dir = os.path.join(ROOT, os.path.dirname(src_dir), "resources")
    resources = [f for f in glob.glob(os.path.join(res_dir, "**/*"), recursive=True) if os.path.isfile(f)]
    if not sources:
        refuse(f"no Scala sources under {src_dir} to build {name} from")
    h = hashlib.sha256(classpath.encode())
    for s in sorted(sources + resources):
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath] + sorted(sources)
    # compiler chatter goes to stderr: stdout carries only the result
    if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode != 0:
        refuse(f"building {name} failed")
    for r in resources:
        dst = os.path.join(out, os.path.relpath(r, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


def build():
    """Returns the runtime classpath of the program and the benchmark."""
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        program = compile_scala("graft-classes", "src/main/scala", jars)
        bench = compile_scala("bench-classes", "perfbench/src", f"{program}:{jars}")
    return f"{bench}:{program}:{jars}"


def java(classpath, main, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    cmd = (["java", "-XX:-UsePerfData"] + ADD_OPENS +
           ["-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j.configurationFile={os.path.join(ROOT, 'perfbench/log4j2.properties')}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, main] + args)
    try:
        return subprocess.run(cmd, cwd=ROOT, env=env, timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: {main} exceeded {RUN_TIMEOUT_S} s and was killed", file=sys.stderr)
        return 3


def main(argv):
    a = parse_args(argv)
    check_env()
    cp = build()
    rc = java(cp, "perfbench.Main", [a.workload, str(a.seed), str(a.seconds), str(a.trace)])
    sys.exit(rc)


if __name__ == "__main__":
    main(sys.argv[1:])
