"""Measure the benchmark's run-to-run spread and write BENCHMARK.json.

    python3 perfbench/spread.py

Run from the checkout root. It makes two sets of untraced runs of every
workload, each set with seeds 1 to 10, and then two traced runs of every
workload with seed 1. It passes when, for every workload and end-to-end
metric, setup_s included:

- in each set, the distance between the first and third quartiles of the
  ten values (statistics.quantiles, n=4) over their median is within the
  metric's bound;
- the second set's median differs from the first's by at most the bound,
  as a share of the first;

and when every span's job count repeats between the two traced runs. It
writes BENCHMARK.json from perfbench/spec.py and every run's figures to
perfbench/spread.json, and exits 1 if a check fails. A spread above a third
of its bound is flagged as not steady.
"""
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import spec  # noqa: E402

HERE = Path(__file__).resolve().parent
RUNS = 10
SETS = 2


def one_run(workload: str, seed: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload",
                        workload, "--seed", str(seed), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed:\n{p.stdout}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t0
    print(f"  {workload} seed={seed} trace={trace} wall={out['wall_s']:.0f}s "
          f"failed={out['failed']}/{out['attempted']}", flush=True)
    return out


def summary(runs: list, name: str) -> dict:
    vals = [r["metrics"][name]["value"] for r in runs]
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"median": med, "spread": (q3 - q1) / med, "values": vals}


def main() -> int:
    names = [w["name"] for w in spec.WORKLOADS]
    sets = [{w: [one_run(w, seed, 0) for seed in range(1, RUNS + 1)]
             for w in names} for _ in range(SETS)]
    record = {"runs": RUNS, "seeds": [1, RUNS], "sets": SETS, "workloads": {}}
    ok = True
    for w in names:
        metrics = {}
        for name, unit, _, bound in spec.END_TO_END:
            per_set = [summary(s[w], name) for s in sets]
            shift = abs(per_set[1]["median"] - per_set[0]["median"]) / per_set[0]["median"]
            within = shift <= bound and all(s["spread"] <= bound for s in per_set)
            steady = all(s["spread"] <= bound / 3 for s in per_set)
            ok &= within
            metrics[name] = {"unit": unit, "bound": bound, "sets": per_set,
                             "median_shift": shift, "within": within,
                             "steady": steady}
            spreads = " ".join(f"{s['spread']:6.3f}" for s in per_set)
            print(f"{w:<8} {name:<14} median {per_set[0]['median']:>11.5g} "
                  f"{unit:<9} spread {spreads} shift {shift:6.3f} bound {bound}"
                  f"{'' if within else '  OVER'}{'' if steady else '  not steady'}")
        traced = [one_run(w, 1, 1) for _ in range(2)]
        jobs = [{n: m["value"] for n, m in t["metrics"].items()
                 if n.endswith(".jobs")} for t in traced]
        repeat = jobs[0] == jobs[1]
        ok &= repeat
        print(f"{w:<8} span jobs repeat across two traced runs: {repeat}")
        runs = [r for s in sets for r in s[w]]
        record["workloads"][w] = {
            "end_to_end": metrics,
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "run_wall_s": [round(r["wall_s"], 1) for r in runs],
            "traced_jobs": jobs[0], "traced_jobs_repeat": repeat,
            "trace_overhead": [t["metrics"]["trace_overhead"]["value"]
                               for t in traced]}

    (HERE / "spread.json").write_text(json.dumps(record, indent=1) + "\n")
    Path("BENCHMARK.json").write_text(
        json.dumps(spec.benchmark_json(), indent=2) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
