"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use
(perfbench/build.py), then runs the workload in one JVM at local[nproc].
The last line of standard output is
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1); a failed or wrong operation or input shows as "correct": false.
Scratch files, logs, the span dump and a full result record go under
.bench_work/. Exits non-zero, printing no result, when the build fails or
the run does not finish.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("kmeans_large", "query_mix", "kmeans_small", "curate")
JVM_TIMEOUT_S = 170


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def java_cmd(cp, opts, args, tag):
    return (["java"] + opts +
            build.jvm_opts(WORK, "3g") +
            ["-cp", cp, "perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", repr(args.seconds), "--trace", str(args.trace),
             "--work", WORK, "--tag", tag])


def result_line(stdout):
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                res = json.loads(line)
            except ValueError:
                continue
            if set(res) == {"correct", "attempted", "failed", "metrics"}:
                return res
    return None


def main(argv):
    args = parse(argv)
    cp, opts = build.build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(cp, opts, args, tag), cwd=ROOT,
                                stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"perfbench: {tag} timed out; log: {log_path}",
                  file=sys.stderr)
            return 1
    res = result_line(out)
    if proc.returncode != 0 or res is None:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        print(f"perfbench: {tag} failed (exit {proc.returncode}); "
              f"log: {log_path}\n{tail}", file=sys.stderr)
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
