#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the root of the checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the harness together with the repository's `src/main` (sbt, in
perfbench/) when the sources changed since the last build, generates the
workload's seeded inputs, runs the measurement in a fresh JVM and prints
the result as the last line of stdout. Everything a run writes stays
under perfbench/out/. Exits non-zero when an output is wrong or the run
fails. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "queries.json")
WORKLOADS = ["ingest", "queries"]
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
# a fixed heap and young generation keep peak RSS from following the
# collector's adaptive sizing, which differs run to run
JVM_HEAP = "3g"
JVM_YOUNG = "512m"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
# offline resolution, as the repository's own test command sets it
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
            os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(spark):
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = os.path.join(OUT, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", SBT_OPTS) +
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        print(r.stdout[-6000:], file=sys.stderr)
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def spark_home():
    """The Spark install the program runs on: $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark install (a directory with jars/)")
    return home


def cores():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="store the query outputs as the expected ones instead of checking them")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a full checkout")
    if not os.path.isdir(DATA):
        fail(f"missing benchmark data {DATA}")
    spark = spark_home()
    os.makedirs(OUT, exist_ok=True)
    build(spark)

    run_dir = os.path.join(OUT, f"{a.workload}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()), "--data", DATA, "--out", run_dir,
            "--expected", EXPECTED, "--record", "1" if a.record else "0"]
    if a.workload == "ingest":
        sys.path.insert(0, HERE)
        import gen
        t0 = time.perf_counter()
        gen.generate(a.seed, os.path.join(run_dir, "ingest"))
        args += ["--ingest", os.path.join(run_dir, "ingest"),
                 "--gen-seconds", repr(time.perf_counter() - t0)]

    cmd = (["java", "-cp", f"{CLASSES}:{spark}/jars/*"] + ADD_OPENS +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_FIXTURES=os.path.join(ROOT, "fixtures"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=log,
                             text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {run_dir}/jvm.log", 3)
    sys.stdout.write(out)
    result_file = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.isfile(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM exited with {p.returncode} and no result", 3)
    with open(result_file) as f:
        result = json.load(f)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
