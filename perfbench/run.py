#!/usr/bin/env python3
"""Run one benchmark workload of the graft feature-store engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the repository root. The first run compiles the program from
source together with the benchmark driver, with the Scala compiler that
ships in $SPARK_HOME/jars, into perfbench/target/; later runs reuse the
classes while the sources are unchanged. The driver
then runs in one JVM; its standard output ends with one JSON object,
{"correct", "attempted", "failed", "metrics"}, whose metrics are the
end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Spans, the per-layer self-time table and the
host-noise record of every run land in perfbench/work/out/.

--selfcheck runs every workload at sf 0.001 with every op and output
check, and exits 0 only if all of them pass.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(HERE, "target")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "perfbench.stamp")
WORK = os.path.join(HERE, "work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (the same list as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(jars):
    h = hashlib.sha256()
    files = []
    for base in (SOURCES, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    files.sort()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest(), files


def build(spark_jars):
    """Compile the program and the driver with the Scala compiler that ships
    in Spark's jars, so the build needs no build tool, dependency cache or
    network, and writes nothing outside this directory."""
    jars = sorted(glob.glob(os.path.join(spark_jars, "*.jar")))
    stamp, sources = source_stamp(jars)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-2\.13\.[0-9.]+\.jar$",
                                            os.path.basename(j))]
    if len(compiler) != 3:
        fail(f"no Scala 2.13 compiler, library and reflect jars in {spark_jars}", 3)
    print("[perfbench] building the program and the benchmark driver", file=sys.stderr)
    shutil.rmtree(BUILD, ignore_errors=True)
    staged = os.path.join(BUILD, "classes.tmp")
    os.makedirs(staged)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as fh:  # quoted, so paths may hold spaces
        fh.write("\n".join(f'"{a}"' for a in ["-classpath", os.pathsep.join(jars), "-d", staged] + sources) + "\n")
    try:
        r = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
                            f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(compiler),
                            "scala.tools.nsc.Main", "@" + args],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}", 3)
    os.rename(staged, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def valid_result(line, trace):
    try:
        r = json.loads(line)
    except ValueError:
        return "last line is not JSON"
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        return f"unexpected result keys {sorted(r)}"
    want = expected_metrics(trace)
    got = {k: v.get("unit") for k, v in r["metrics"].items()}
    if got != want:
        return f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, " \
               f"extra {sorted(set(got) - set(want))}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        fail(f"program sources not found under {os.path.relpath(SOURCES)}; run from a repository checkout", 2)
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation", 2)
    build(os.path.join(spark_home, "jars"))

    tag = "selfcheck" if a.selfcheck else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
    out = os.path.join(WORK, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"), "perfbench.Main",
            "--work", work, "--out", out]
    if a.selfcheck:
        cmd += ["--selfcheck"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 5)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    if proc.returncode != 0:
        sys.stdout.write("\n".join(lines[:-1] if not a.selfcheck and lines else lines) + "\n")
        fail(f"benchmark exited with code {proc.returncode}", proc.returncode)
    if a.selfcheck:
        print(stdout, end="")
        return
    problem = valid_result(lines[-1], a.trace) if lines else "no output"
    if problem:
        print("\n".join(lines[:-1]))
        fail(problem, 4)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
