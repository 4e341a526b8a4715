"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cycle --seed 1 --seconds 15 --trace 0

Run from the checkout root. Builds the program and the benchmark if a source
changed (perfbench/build.py), runs the benchmark JVM on `local[<cores>]`
with a fresh run directory under .bench_build/runs that is removed even
on failure, prints every metric by name with its unit, and prints as the
last line one JSON object: correct, attempted, failed and the metrics
(the end-to-end ones with --trace 0, the per-layer ones with --trace 1).
Exits non-zero without a result line if the build, the run or the result
check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import spec  # noqa: E402

# the repository's generated test data (TESTDATA.md)
SF_DIR = Path.home() / "testdata" / "sf0.1"
TIMEOUT_S = 170
# the JDK 17 module openings Spark needs outside spark-submit, as in
# build.sbt's jdk17AddOpens
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec.WORKLOADS])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def run_jvm(classes: Path, args, run_dir: Path) -> dict:
    cores = len(os.sched_getaffinity(0))
    out = run_dir / "result.json"
    (run_dir / "tmp").mkdir()
    # no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", str(run_dir), "--sf", SF_DIR, "--cores", str(cores),
            "--out", str(out)]
    # the JVM's own output goes to stderr: stdout carries only the result
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark JVM did not finish within {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        raise SystemExit(f"benchmark JVM exited with {code}")
    return json.loads(out.read_text())


def check(result: dict, trace: int) -> None:
    want = {n: u for n, u, *_ in (spec.PER_LAYER if trace else spec.END_TO_END)}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    if got != want:
        raise SystemExit(f"metrics differ from spec: missing "
                         f"{sorted(set(want) - set(got))}, extra "
                         f"{sorted(set(got) - set(want))}")
    if result["attempted"] < 1:
        raise SystemExit("no operation attempted")


def main(argv) -> int:
    args = parse(argv)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (SF_DIR / "documents.parquet").is_file():
        raise SystemExit(f"source texts not found: {SF_DIR}/documents.parquet")
    classes = build.build()
    runs = build.BUILD / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs))
    try:
        result = run_jvm(classes, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    check(result, args.trace)

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace}")
    print("sizes " + " ".join(f"{k}={v}" for k, v in sorted(result["sizes"].items())))
    print("notes " + json.dumps(result["notes"], sort_keys=True))
    for f in result["failures"]:
        print(f"FAILED {f}")
    error_rate = result["failed"] / result["attempted"]
    print(f"{'error_rate':<58} {error_rate:>16.6g} fraction "
          f"({result['failed']}/{result['attempted']})")
    for name, m in result["metrics"].items():
        print(f"{name:<58} {m['value']:>16.6g} {m['unit']}")
    if args.trace:
        print(f"{'span':<50} {'calls':>6} {'jobs':>6} {'tasks':>7} "
              f"{'wall_s':>9} {'gap_s':>9}")
        for name, s in result["spans"].items():
            print(f"{name:<50} {s['calls']:>6} {s['jobs']:>6} {s['tasks']:>7} "
                  f"{s['wall_s']:>9.3f} {s['driver_gap_s']:>9.3f}")
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
