#!/usr/bin/env python3
"""Entity-engine benchmark: one workload, one seed, one closed loop.

Run from the repository root:

    python3 perfbench/run.py --workload table_mixed --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline),
then runs `perfbench.Main` in one JVM with Spark `local[nproc]`. Prints every
metric as `metric <name> = <value> <unit>` and, as the last line, one JSON
object with the metrics `BENCHMARK.json` lists: its `end_to_end` ones with
`--trace 0`, its `per_layer` ones with `--trace 1`. The full record of a run (run stamp, all metrics, ops and spans)
is written to `perfbench/out/`. Exits non-zero, without a result line, when
the engine sources are missing or do not build; exits 1 when an output check
fails or a listed metric was not measured.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.monotonic()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
JAVA_OPTIONS = os.path.join(BENCH, "target", "java-options.txt")
WORKLOADS = ("table_mixed", "index_lifecycle")
BUILD_TIMEOUT_S = 700
# a run must end within 175 s, or 895 s when it also built the program
RUN_DEADLINE_S = 175
BUILD_RUN_DEADLINE_S = 895
HEAP = "3g"


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")


def build():
    """Compiles the engine and the benchmark unless the classpath is fresh.
    Returns whether it compiled."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(2, f"no engine sources under {ROOT} (expected build.sbt and src/main/scala)")
    if os.path.isfile(CLASSPATH) and os.path.isfile(JAVA_OPTIONS):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return False
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S,
                           stdin=subprocess.DEVNULL)
    except FileNotFoundError:
        fail(3, "sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail(3, f"build exceeded {BUILD_TIMEOUT_S} s")
    if r.returncode != 0 or not os.path.isfile(CLASSPATH) or \
            not os.path.isfile(JAVA_OPTIONS):
        fail(3, f"build failed (sbt exit {r.returncode})")
    return True


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    built = build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    with open(JAVA_OPTIONS) as f:
        opens = f.read().split()
    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # C1 only: a run is one short-lived JVM whose ops are dominated by
    # fixed per-job cost, and C1 reaches its steady state within the
    # warm-up round, where C2 keeps recompiling into the timed loop.
    cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", work, "--out", os.path.join(BENCH, "out"),
           "--commit", commit()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    limit = BUILD_RUN_DEADLINE_S if built else RUN_DEADLINE_S
    deadline = max(10.0, limit - (time.monotonic() - START))
    try:
        out, _ = proc.communicate(timeout=deadline)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(4, f"run exceeded {deadline:.0f} s and was stopped")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or "metrics" not in result:
        sys.stdout.write(out)
        fail(proc.returncode or 5, "the run printed no result line")
    # the JVM reports every metric it measured; the result line carries
    # the ones BENCHMARK.json names, with the units it gives them
    measured = result["metrics"]
    result["metrics"] = {}
    for m in wanted:
        got = measured.get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            print(f"perfbench: metric {m['name']} not measured in {m['unit']}: {got}",
                  file=sys.stderr)
            result["correct"] = False
        else:
            result["metrics"][m["name"]] = got
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    print(json.dumps(result))
    sys.exit(proc.returncode if result["correct"] else proc.returncode or 1)


if __name__ == "__main__":
    main()
