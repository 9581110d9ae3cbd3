#!/usr/bin/env python3
"""Run one workload of the query benchmark and print its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

The first run compiles the repository's main sources together with the
benchmark's own sources (perfbench/src) into .bench_build/perfbench; later
runs reuse the build until a source file changes. The benchmark then runs in
one JVM on local[N], N = the CPUs this process may use, over the sf0.1 test
tables. Its last stdout line is one JSON object with the keys correct,
attempted, failed and metrics. Spark logs go to stderr.

Options beyond the four above:
    --data DIR          table directory (default /root/testdata/sf0.1)
    --fingerprints FILE expected outputs
                        (default perfbench/fingerprints/<basename of DIR>.json)
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
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# The same Spark jars the root build compiles against, and the test-data
# location TESTDATA.md documents.
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
DEFAULT_DATA = "/root/testdata/sf0.1"
HEAP = "3g"
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 600

# Spark on JDK 17 outside spark-submit needs these (the same list the root
# build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Scala sources and resources the build compiles, in a fixed order."""
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise SystemExit(f"perfbench: {main}/scala not found; run from a checkout "
                         "of the repository")
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(main, "resources", "**"), recursive=True)
                       if os.path.isfile(p))
    return scala, resources


def jars():
    found = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not found:
        raise SystemExit(f"perfbench: no Spark jars under {SPARK_JARS}")
    return found


def build():
    """Compile main + benchmark sources once per source state; returns the
    class directory and whether this call compiled it."""
    scala, resources = sources()
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes", h.hexdigest()[:16])
    if os.path.isdir(out):
        return out, False
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(scala) + "\n")
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars()), "@" + argfile]
    if subprocess.run(cmd, timeout=BUILD_LIMIT_S, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    os.remove(argfile)
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes", "*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out, True


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, args, limit_s):
    """Run perfbench.Main with `args`; returns (exit code, stdout lines)."""
    tmp = os.path.join(BUILD, "tmp")
    warehouse = os.path.join(tmp, f"warehouse-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no /tmp/hsperfdata file, so the run writes only
    # inside the checkout.
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={warehouse}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
            "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill():
        # SIGTERM first so Spark's shutdown hooks remove their directories
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    def stop(signum, _frame):
        kill()
        shutil.rmtree(warehouse, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        kill()
        print(f"perfbench: run exceeded {limit_s:.0f} s, killed", file=sys.stderr)
        return 124, []
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)
    return proc.returncode, [l for l in out.splitlines() if l.strip()]


def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tpch", "iterative", "heavy", "write"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=DEFAULT_DATA)
    ap.add_argument("--fingerprints")
    a = ap.parse_args()
    data = os.path.abspath(a.data)
    fps = a.fingerprints or os.path.join(
        BENCH, "fingerprints", os.path.basename(data.rstrip("/")) + ".json")
    if not os.path.isfile(fps):
        raise SystemExit(f"perfbench: no fingerprints at {fps}")

    classes, compiled = build()
    limit = (FIRST_RUN_LIMIT_S if compiled else RUN_LIMIT_S) - (time.monotonic() - started)
    rc, lines = run_jvm(classes, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--cores", str(cores()),
        "--fingerprints", os.path.abspath(fps),
        "--out", os.path.join(BUILD, "results")], limit)
    if rc != 0 or not lines:
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"perfbench: malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
