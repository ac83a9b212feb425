"""Steadiness check: run workloads repeatedly and report each metric's
median, quartiles and spread against the bounds in BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--first-seed 1]
                              [--trace 0|1] [--against earlier.json]

Each run uses another seed. The spread of a metric is the distance between
its first and third quartile (statistics.quantiles(values, n=4)) as a share
of its median; it must stay within the metric's bound.
With --against, the medians are also compared with an earlier summary: a
median may not be worse than the earlier one by more than the bound.
Writes the summary to .bench_work/steady/<timestamp>.json and exits
non-zero if a run fails, an output check fails or a check above fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) of a list of samples."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse_by(metric, old, new):
    """How much worse `new` is than `old`, as a share of `old`."""
    change = (new - old) / old if old else 0.0
    return change if metric["better"] == "lower" else -change


def main(argv):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads",
                   default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--against")
    args = p.parse_args(argv)
    metrics = {m["name"]: m for m in
               bench["end_to_end" if args.trace == 0 else "per_layer"]}
    earlier = json.load(open(args.against)) if args.against else {}
    summary, ok = {}, True
    for wl in args.workloads.split(","):
        samples = {name: [] for name in metrics}
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", wl, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            if res is None or not res["correct"] or res["failed"]:
                ok = False
                print(f"{wl} seed {seed}: FAILED\n{proc.stderr[-2000:]}")
                continue
            for name in metrics:
                if name in res["metrics"]:
                    samples[name].append(res["metrics"][name]["value"])
            print(f"{wl} seed {seed}: {time.time() - t0:.1f} s wall, "
                  f"{res['attempted']} ops", flush=True)
        summary[wl] = {}
        for name, m in metrics.items():
            vals = samples[name]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            bound = m.get("bound")
            row = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                   "values": vals}
            flags = []
            if bound is not None and sp > bound:
                flags.append("SPREAD>BOUND")
                ok = False
            elif bound is not None and sp > bound / 3:
                flags.append("spread>bound/3")
            old = earlier.get(wl, {}).get(name)
            if bound is not None and old:
                w = worse_by(m, old["median"], med)
                row["worse_than_earlier"] = w
                if w > bound:
                    flags.append("MEDIAN-DRIFT")
                    ok = False
            summary[wl][name] = row
            print(f"  {wl:13s} {name:34s} median {med:12.5g}  "
                  f"q1 {q1:12.5g}  q3 {q3:12.5g}  spread {sp:7.2%}  "
                  f"bound {'-' if bound is None else f'{bound:.0%}'}  "
                  f"{' '.join(flags)}", flush=True)
    out = os.path.join(ROOT, ".bench_work", "steady")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, time.strftime("%Y%m%d-%H%M%S") + ".json")
    with open(path, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"summary: {path}; {'steady' if ok else 'NOT steady'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
