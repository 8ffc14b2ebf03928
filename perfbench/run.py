"""Runs one graft benchmark workload and prints its result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source on first use (see build.py), then
runs the workload in one JVM at `local[<cores>]`. The JVM prints the report
lines; the last line of standard output is the result as one JSON object
with the keys `correct`, `attempted`, `failed` and `metrics`. With
`--trace 1` the run also records spans to `.bench_work/traces/`.

Exits non-zero without printing a result when the build, the run or a
check of the run's own bookkeeping fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

import build

HERE = pathlib.Path(__file__).resolve().parent
WORKLOADS = ("serve", "dedup")
TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the benchmark's own tests")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="perturb one expected answer (tests that checks count failures)")
    return p.parse_args(argv)


def expected_metrics(trace):
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv):
    args = parse_args(argv)
    try:
        classes = build.ensure()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work_root = pathlib.Path(".bench_work").resolve()
    work = work_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    cmd = [build.java(), "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--traces", str(work_root / "traces"),
            "--result", str(result_file)]
    if args.smoke:
        cmd.append("--smoke")
    if args.corrupt_expected:
        cmd.append("--corrupt-expected")
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = -1
    try:
        if code != 0 or not result_file.exists():
            print(f"perfbench: run failed (exit code {code})", file=sys.stderr)
            return 1
        result = json.loads(result_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    want = expected_metrics(args.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        print(f"perfbench: metrics {got} differ from BENCHMARK.json {want}", file=sys.stderr)
        return 1
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
