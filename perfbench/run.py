#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload crawl_cold --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (see build.py),
then runs perfbench.Main in one JVM with Spark local[nproc]. The JVM's
report line and Spark's logs go to files under the build dir; its result
line is checked against BENCHMARK.json and echoed last. Exits non-zero,
printing no result, when the build fails or the run does not produce one.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["crawl_cold", "corpus_build", "browser_rollout"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.build_dir(), "results")
    tmp = os.path.join(build.build_dir(), "tmp")
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(work, f"jvm-{a.workload}-s{a.seed}-t{a.trace}.log")
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    result = None
    with open(log_path, "w") as log:
        # Spark prefers these over spark.local.dir; the run keeps its files in the checkout
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True, env=env)
        timed_out = threading.Event()

        def kill():
            timed_out.set()
            os.killpg(proc.pid, signal.SIGKILL)

        watchdog = threading.Timer(JVM_TIMEOUT_S, kill)
        watchdog.start()
        # a terminated harness takes its JVM with it
        signal.signal(signal.SIGTERM, lambda *_: (os.killpg(proc.pid, signal.SIGKILL),
                                                  sys.exit(143)))
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("PERFBENCH_RESULT "):
                    result = line[len("PERFBENCH_RESULT "):]
                elif line.startswith("perfbench-report "):
                    print(line)
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if timed_out.is_set():
            print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s; stopped it", file=sys.stderr)
            return 3

    if result is None:
        print(f"[perfbench] no result (exit {proc.returncode}); log: {log_path}", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return proc.returncode or 1
    parsed = json.loads(result)
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in parsed["metrics"].items()}
    if got != want:
        print(f"[perfbench] metrics do not match BENCHMARK.json: missing "
              f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
              f"unit mismatch {sorted(k for k in want if k in got and got[k] != want[k])}",
              file=sys.stderr)
        return 4
    if not parsed["correct"]:
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if "[perfbench] FAILED" in l))
    print(result)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
