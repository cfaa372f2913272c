#!/usr/bin/env python3
"""Benchmark entry point: builds the engine plus the benchmark (build.py),
then runs one workload in one JVM and prints its result object as the last
line of stdout.

    python3 perfbench/run.py --workload rollup_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # every workload once, traced, gates on

Workloads: rollup_build, late_delta, tier_query (see perfbench/README.md).
All state lives under .bench_state/ in the checkout (or --state-dir), which
is wiped at the start of each run; the JVM runs with it as working dir.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("rollup_build", "late_delta", "tier_query")
RUN_LIMIT_S = 170  # a run must end within 180 s once built
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# JIT per workload. tier_query runs C1 only: under C2 its read loop had not
# reached steady state after ~35 s of queries (latency kept falling while
# the C2 backlog competed with Spark for the 4 cores), so a run measured how
# far the JIT had got. The build workloads time one warm build each, which
# measured steadier under the default tiered JIT (perfbench/README.md, *JIT*).
JIT = {"tier_query": ["-XX:TieredStopAtLevel=1"]}


def run_jvm(classes, state, workload, jvm_args, limit_s):
    """Run the benchmark JVM; returns (exit code, stdout lines). Its stderr goes to
    state/jvm.log."""
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(os.path.join(state, "tmp"))
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData"] + JIT.get(workload, []) + ADD_OPENS +
           ["-Djava.io.tmpdir=" + os.path.join(state, "tmp"),
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
            "-Dderby.system.home=" + state,
            "-cp", cp, "perfbench.Main", "--workload", workload] + jvm_args)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(os.path.join(state, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=state, stdout=subprocess.PIPE, stderr=err,
                             env=env, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"perfbench: run exceeded {limit_s:.0f} s, killed", file=sys.stderr)
            return 124, []
    return p.returncode, out.splitlines()


def result_of(lines):
    """The result object on the last stdout line, or None."""
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def log_tail(state, n=30):
    try:
        with open(os.path.join(state, "jvm.log")) as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--state-dir", default=os.environ.get(
        "PERFBENCH_STATE", os.path.join(build.ROOT, ".bench_state")))
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required (or --smoke)")

    t0 = time.monotonic()
    try:
        with open(_build_log(), "w") as log:
            classes = build.build(log)
    except (OSError, RuntimeError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    built_s = time.monotonic() - t0
    state = os.path.abspath(a.state_dir)

    if a.smoke:
        ok = True
        for w in WORKLOADS:
            rc, lines = run_jvm(classes, state, w, ["--seed", str(a.seed),
                                "--seconds", "1", "--trace", "1"], RUN_LIMIT_S)
            r = result_of(lines)
            good = rc == 0 and r is not None and r["correct"] and r["failed"] == 0
            print(f"smoke {w}: {'ok' if good else 'FAILED'}", flush=True)
            if not good:
                print("\n".join(lines[-8:]) + "\n" + log_tail(state), file=sys.stderr)
            ok &= good
        return 0 if ok else 1

    limit = RUN_LIMIT_S - (0 if built_s > 5 else built_s)
    rc, lines = run_jvm(classes, state, a.workload,
                        ["--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace)], limit)
    r = result_of(lines)
    if rc != 0 or r is None:
        print("\n".join(lines[-8:]), file=sys.stderr)
        print(f"perfbench: benchmark JVM exited {rc} without a result\n{log_tail(state)}",
              file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(r))
    return 0


def _build_log():
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    return os.path.join(build.BUILD_DIR, "build.log")


if __name__ == "__main__":
    sys.exit(main())
