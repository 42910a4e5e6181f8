"""Repository benchmark: runs one workload and prints one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first run builds the program and the
benchmark from source (perfbench/build.py). Workloads, metrics and bounds
are described in BENCHMARK.json; the runner itself is perfbench.Main.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Scratch files go to
`.bench_work/` and are removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
HEAP = "3g"
# a run must end within 180 s, or 900 s when it has to build first
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classpath, main, args, deadline):
    """Runs a main class; returns (exit code, stdout lines). The JVM is
    killed, with every process it started, if it outlives the deadline."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[perfbench] run exceeded its time limit and was killed", file=sys.stderr)
        return 124, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def expected_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is there."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def validate(line, trace):
    result = json.loads(line)
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise ValueError(f"result keys {sorted(result)}")
    expected = expected_metrics(trace)
    if expected is not None:
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != expected:
            missing = sorted(set(expected) - set(got))
            extra = sorted(set(got) - set(expected))
            raise ValueError(f"metrics differ from BENCHMARK.json: missing {missing}, "
                             f"extra {extra}, or units differ")
    return result


def main():
    # a terminated runner still stops its JVM (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    start = time.monotonic()
    try:
        needs_build = not build.is_built()
        classpath = build.build()
    except (FileNotFoundError, SystemExit, subprocess.CalledProcessError) as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        return 2
    deadline = start + (BUILD_RUN_LIMIT_S if needs_build else RUN_LIMIT_S)

    shutil.rmtree(WORK, ignore_errors=True)
    try:
        if a.self_test:
            code, lines = jvm(classpath, "perfbench.SelfTest", [os.path.join(WORK, "spark")], deadline)
            print("\n".join(lines))
            return code
        code, lines = jvm(classpath, "perfbench.Main",
                          ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK],
                          deadline)
        if code != 0 or not lines:
            print(f"[perfbench] run failed with exit code {code}", file=sys.stderr)
            return code or 1
        try:
            validate(lines[-1], a.trace == "1")
        except ValueError as e:
            print(f"[perfbench] bad result line: {e}", file=sys.stderr)
            return 1
        print("\n".join(lines))
        return 0
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
