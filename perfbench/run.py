"""Run one benchmark workload and print its metrics.

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness if needed (perfbench/build.py), starts
one JVM running perfbench.Main with the workload's parameters from
perfbench/spec.json, and relays its output. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Exits non-zero without a result line
when the build, the run or the result fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        with open(os.path.join(HERE, "spec.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read benchmark definition: {e}")
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    listed = bench["per_layer" if a.trace else "end_to_end"]
    wanted = [m["name"] for m in listed]

    try:
        classpath = build.ensure_built()
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        fail(f"build failed: {e}")

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.out_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm = spec["jvm"]
    params = dict(spec["workloads"][a.workload]["params"])
    cmd = (["java", f"-Xms{jvm['heap']}", f"-Xmx{jvm['heap']}", *jvm["flags"],
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work,
            "--traces", os.path.join(build.out_dir(), "traces"),
            "--metrics", ",".join(f"{m['name']}:{m['unit']}" for m in listed)]
           + [x for k, v in sorted(params.items()) for x in ("--param", f"{k}={v}")])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode})")
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(result) != keys or sorted(result["metrics"]) != sorted(wanted):
        sys.stderr.write(out)
        fail("result line does not match BENCHMARK.json")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
